"""Small engine-wide helpers."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


# fan_out cost hints: target bytes of INPUT per task, chosen by how much
# CPU the downstream map burns per input byte. Interpreted HOF folds
# (minhash permutations, per-pair cosine) chew ~32 KB/task before the
# task is second-scale; vectorized Arrow matmuls handle 8× that.
CPU_HEAVY = 32 << 10    # interpreted HOF / per-row Python-free but hot
CPU_MODERATE = 64 << 10  # tokenize+explode, md5 streams
CPU_LIGHT = 256 << 10   # vectorized NumPy batch kernels


def bind_once(expr: "Column", fn) -> "Column":
    """Evaluate ``expr`` ONCE per row and pass it to ``fn`` as a bound
    lambda variable (the 1-element ``transform`` wrap).

    Why this exists: higher-order-function lambda bodies get no
    subexpression elimination, so a lambda that references an outer
    EXPRESSION (``tokens(text)``, ``regexp_extract_all(...)``) re-runs
    that whole expression PER ELEMENT — an n-gram window build over an
    inline token split is O(tokens²) per document. Binding first makes
    every inner reference an O(1) variable lookup. Measured: the byte-BPE
    donation transform dropped 4.15 s → 1.80 s at sf0.1 from this alone.

    ``fn`` receives the bound Column and returns any Column; works for
    scalar or array results (the wrap is a 1-element array of the
    result, unwrapped with element_at)."""
    from pyspark.sql import functions as F

    return F.get(F.transform(F.array(expr), fn), 0)


def md5_mod(col: "Column", hex_digits: int, mod: int) -> "Column":
    """THE cross-engine hash-bucket formula, parameterized: md5 hex
    prefix → integer → mod. One definition for every bucketing site
    (split/mixture buckets, shingle hashes, DSIR feature buckets) so a
    hash-width or tokenizer change cannot desynchronize a copy from its
    oracle. DuckDB twin: ``('0x' || substr(md5(x), 1, H))::BIGINT % M``.
    ``hex_digits`` ≤ 15 keeps the intermediate positive in BIGINT."""
    from pyspark.sql import functions as F

    if not 1 <= hex_digits <= 15:
        raise ValueError("hex_digits must be in [1, 15] for a positive BIGINT")
    h = F.conv(F.substring(F.md5(col), 1, hex_digits), 16, 10).cast("long")
    return h % F.lit(mod)


def dense_matrix_fn(dim: int, who: str):
    """Build the per-batch embedding-matrix extractor+validator shared by
    every Arrow kernel with a non-null fixed-dim contract (vectorized ANN
    scorers, integer Gram, whitening, PCA). Returned as a NESTED closure
    on purpose: executor closures that call it are cloudpickled BY VALUE,
    so library users outside the repo path don't hit ModuleNotFoundError
    on workers (DEVNOTES gotcha #16); the factory itself only runs on the
    driver.

    The extractor turns one batch's vector column (a pandas Series of
    arrays) into a dense (batch × dim) float64 matrix, raising ONE
    uniform actionable ValueError — prefixed with ``who`` — on NULL
    vectors, mixed/ragged dims, and non-finite components (Arrow
    surfaces null components as NaN, so the finiteness pass is what
    catches them; without it floor(NaN or ±Inf).astype(int64) silently
    injects INT64_MIN into integer kernels — an Inf slipping through
    the SQ8 path wraps the int64 matmul and can emit a +Inf/NaN score
    that outranks every real neighbor). One validator, one contract:
    the per-module copies this replaces had drifted (isnan here, dim
    check there)."""

    def to_matrix(series):
        import numpy as np

        vals = series.tolist()
        if any(v is None for v in vals):
            raise ValueError(
                f"{who}: embeddings must be non-null arrays (NULL vector "
                "found); filter or impute upstream"
            )
        try:
            M = np.asarray(vals, dtype=np.float64)
        except (TypeError, ValueError) as e:
            raise ValueError(
                f"{who}: embeddings have mixed dims or non-numeric "
                "components; normalize upstream"
            ) from e
        if M.ndim != 2 or M.shape[1] != dim:
            raise ValueError(
                f"{who}: embedding dim {M.shape[1:]} != expected dim {dim}"
            )
        if not np.isfinite(M).all():
            raise ValueError(
                f"{who}: embeddings contain NULL/NaN/Inf components; filter "
                "or impute upstream"
            )
        return M

    return to_matrix


def plan_size_bytes(df: DataFrame) -> "int | None":
    """Catalyst's size estimate for ``df`` (file bytes for a bare scan),
    read from the optimized plan's stats — NO job runs. None when stats
    are unavailable (e.g. Spark Connect). Used by fan_out and by the
    expr-vs-vectorized twin gates: fixed costs (Python worker spin-up,
    extra job boundaries) only amortize above a data size, and this
    estimate is the cheapest honest signal of it."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def fan_out(
    df: DataFrame, bytes_per_task: int = CPU_MODERATE, target: int | None = None
) -> DataFrame:
    """Round-robin repartition a CPU-heavy map stage's input toward the
    session's default parallelism — ONLY when the upstream scan produced
    fewer splits than the data warrants.

    The trap this fixes: map-side parallelism follows the SCAN's split
    count, and a small parquet table is often one file with one row group
    → one task — so a 32-core executor runs the expensive shingle/md5/
    Arrow-scorer stage 1-wide no matter how declarative the plan is
    (measured: minhash-LSH banding at sf0.1 4.15 s → 2.42 s honest just
    from this). At real corpus scale the scan has thousands of splits and
    the gate makes this a no-op — the repartition only fires in the
    few-splits-many-cores regime, where the shuffled payload is by
    construction small.

    ``bytes_per_task`` sizes the fan-out to the WORK, not the core count:
    blindly repartitioning a 0.8 MB embedding table into 32 Python worker
    batches costs more in Arrow/worker overhead than the parallelism buys
    (measured: ann_sq8_fast 1.07 → 1.45 s at a flat 32). The target
    partition count is clamp(plan-stats size ÷ bytes_per_task, 1, cores);
    pass CPU_HEAVY for interpreted HOF folds, CPU_LIGHT for vectorized
    kernels. Plan stats for a bare scan are the file bytes; when stats
    are unavailable the core-count cap is used.

    Use it ONLY in front of heavy per-row work (interpreted HOF folds,
    Arrow/pandas stages): for cheap expression maps the extra shuffle
    costs more than the parallelism buys."""
    try:
        cap = target or df.sparkSession.sparkContext.defaultParallelism
        cur = df.rdd.getNumPartitions()
    except Exception:
        # Spark Connect exposes neither sparkContext nor df.rdd — degrade
        # to identity (same graceful fallback as plan_size_bytes) rather
        # than breaking every pipeline entry on a Connect session.
        return df
    size = plan_size_bytes(df)
    t = cap if size is None else max(1, min(cap, -(-size // bytes_per_task)))
    if cur < t:
        return df.repartition(t)
    return df


#: Leaf classes whose Catalyst size estimate is honest: file scans carry
#: file bytes, local/range relations their literal payload, an in-memory
#: relation its (possibly materialized) child estimate.
_ESTIMABLE_LEAVES = (
    "LogicalRelation",
    "DataSourceV2ScanRelation",
    "DataSourceV2Relation",
    "LocalRelation",
    "Range",
    "OneRowRelation",
    "InMemoryRelation",
    "HiveTableRelation",
)


def max_leaf_size_bytes(df: DataFrame) -> "int | None":
    """Largest honest LEAF size estimate in ``df``'s optimized plan — the
    size signal ``plan_size_bytes`` cannot give for plans containing a
    driver-built frame: a ``createDataFrame`` leaf is a LogicalRDD with
    UNKNOWN stats (Long.MaxValue), and join stats multiply, so one query-
    literal frame poisons the whole plan's estimate to "huge". Here the
    corpus-scale signal is carried by the biggest FILE leaf instead;
    LogicalRDD leaves contribute nothing, which is sound in this library
    because every RDD-backed frame in a query path is a driver literal
    (queries, collected feedback rows, offset tables) — bounded by
    construction. None when NO estimable leaf exists (can't bound the
    frame honestly) or on any introspection failure."""
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        best: "int | None" = None
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() in _ESTIMABLE_LEAVES:
                size = int(leaf.stats().sizeInBytes())
                if best is None or size > best:
                    best = size
        return best
    except Exception:
        return None


#: Logical-plan markers for a Python-evaluated stage (pandas/Arrow UDF,
#: mapInPandas/mapInArrow, grouped-map). Matched against the OPTIMIZED
#: logical plan's string form — physical spellings (ArrowEvalPython,
#: BatchEvalPython) are included defensively should a caller hand us an
#: executed-plan string instead.
_PY_EVAL_MARKERS = (
    "pythonUDF",
    "PythonUDF",
    "MapInPandas",
    "PythonMapInArrow",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
)


def plan_has_python_eval(df: DataFrame) -> bool:
    """True when ``df``'s optimized logical plan contains a Python-eval
    stage (pandas/Arrow UDF, mapInPandas, ...). Used to decide whether a
    frame is catastrophically expensive to COMPUTE TWICE: a JVM-codegen
    subtree recomputes at scan speed, but a Python stage pays the whole
    serialize→worker→deserialize round trip again. Unknown (Connect,
    analysis failure) errs on True — the caller's mitigation (a persist)
    is safe either way, just not free."""
    try:
        s = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return True
    return any(m in s for m in _PY_EVAL_MARKERS)


class _UnsupportedLiteral(Exception):
    pass


def _sql_double_lit(x, t: str) -> str:
    """Exact SQL literal for a float: repr round-trips (shortest decimal
    that parses back to the same IEEE double), non-finite via the exact
    spellings Java's Double.parseDouble accepts."""
    x = float(x)
    if x != x:
        return f"CAST('NaN' AS {t})"
    if x == float("inf"):
        return f"CAST('Infinity' AS {t})"
    if x == float("-inf"):
        return f"CAST('-Infinity' AS {t})"
    return f"CAST('{x!r}' AS {t})"


#: Bit width of each integer type literal_frame renders, by DDL name.
_INT_BITS = {"tinyint": 8, "smallint": 16, "int": 32, "bigint": 64}


def _sql_cell(v, dt) -> str:
    """Render one Python value as a type-exact Spark SQL literal
    expression. Raises _UnsupportedLiteral for types literal_frame does
    not cover and for integers outside their type's range (caller falls
    back to createDataFrame)."""
    from pyspark.sql import types as T

    ddl = dt.simpleString()
    if v is None:
        return f"CAST(NULL AS {ddl})"
    bits = _INT_BITS.get(ddl)
    if bits is not None:
        # out of range: CAST would wrap silently (300 → tinyint 44);
        # createDataFrame rejects it instead
        i = int(v)
        if not -(1 << (bits - 1)) <= i < (1 << (bits - 1)):
            raise _UnsupportedLiteral(ddl)
        return f"CAST({i} AS {ddl})"
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return _sql_double_lit(v, ddl)
    if isinstance(dt, T.BooleanType):
        return "true" if v else "false"
    if isinstance(dt, T.StringType):
        # hex round trip: exact for ANY content — no quote/backslash
        # escaping rules to get wrong (escapedStringLiterals, unicode)
        b = str(v).encode("utf-8")
        return f"CAST(unhex('{b.hex()}') AS STRING)" if b else "''"
    if isinstance(dt, T.ArrayType):
        inner = [_sql_cell(e, dt.elementType) for e in v]
        return f"CAST(array({','.join(inner)}) AS {ddl})"
    raise _UnsupportedLiteral(ddl)


# Above this many cells the VALUES string's parse cost outgrows the
# parallelize job it replaces; bounded driver-literal frames in the
# query paths (query terms, probe sets, codebooks, offsets) sit far
# below it. Every array element counts as a cell: a probe, centroid or
# codebook row carries a dim-sized vector.
LITERAL_FRAME_MAX_CELLS = 50_000


def _n_cells(v) -> int:
    """Cells a row or value adds to a VALUES body: 1 per scalar, 1 per
    array element."""
    if isinstance(v, (list, tuple)):
        return max(1, sum(_n_cells(e) for e in v))
    return 1


def literal_frame(spark, rows, schema) -> DataFrame:
    """Driver-literal DataFrame as a true LocalRelation (one JVM-parsed
    ``SELECT ... FROM VALUES``), instead of ``createDataFrame``'s
    Python-RDD parallelize.

    Why (r16, guide §5 — the driver does no work, and neither should 32
    executors doing none): a parallelized literal lands as a LogicalRDD
    with ``defaultParallelism`` slices, so every downstream job over it
    — every broadcast-exchange build, every collect — dispatches that
    many near-empty tasks THROUGH PYTHON WORKERS (measured: ~0.3 s per
    broadcast future at local[32], ~0.015 s as a LocalRelation, which
    broadcasts driver-side with no job at all). At cluster scale the
    waste is worse: N empty tasks over the network per bounded literal.

    Values are rendered as type-exact SQL literals (ints, repr-exact
    doubles, hex-round-tripped strings, arrays thereof, typed NULLs) and
    every cell is CAST to the schema's type, so the resulting frame is
    value- and schema-identical to the createDataFrame twin. Any row
    content outside the covered types, any oversized frame
    (LITERAL_FRAME_MAX_CELLS), or any parse surprise falls back to plain
    ``createDataFrame`` — this helper is a dispatch optimization, never
    a semantics change."""
    from pyspark.sql.types import StructType

    rows = list(rows)
    try:
        st = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
        n_cols = len(st.fields)
        if n_cols == 0 or sum(map(_n_cells, rows)) > LITERAL_FRAME_MAX_CELLS:
            return spark.createDataFrame(rows, schema)
        if any("`" in f.name for f in st.fields):
            return spark.createDataFrame(rows, schema)
        names = ", ".join(
            f"c{i} AS `{f.name}`" for i, f in enumerate(st.fields)
        )
        if not rows:
            sel = ", ".join(
                f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`"
                for f in st.fields
            )
            return spark.sql(f"SELECT {sel} WHERE 1=0")
        body = ",".join(
            "(" + ",".join(_sql_cell(r[i], st.fields[i].dataType) for i in range(n_cols)) + ")"
            for r in rows
        )
        cols = ",".join(f"c{i}" for i in range(n_cols))
        return spark.sql(f"SELECT {names} FROM VALUES {body} AS t({cols})")
    except Exception:
        return spark.createDataFrame(rows, schema)


#: path → (directory identity, StructType) for ``read_stored``. Holds
#: schemas only: never a DataFrame, never a file listing. Entries are
#: replaced whole, so two threads racing on one path at worst both infer.
_STORED_SCHEMAS: dict = {}


def _dir_identity(path: str):
    """``(st_dev, st_ino, st_mtime_ns)`` of a stored table's directory,
    or None when ``os.stat`` cannot see it (a missing path, or a URI
    whose scheme is not ``file:``)."""
    import os
    from urllib.parse import urlparse

    u = urlparse(path)
    if u.scheme == "file" and u.netloc in ("", "localhost"):
        local = u.path
    elif u.scheme == "":
        local = path
    else:
        return None
    try:
        st = os.stat(local)
    except OSError:
        return None
    return (st.st_dev, st.st_ino, st.st_mtime_ns)


def read_stored(spark, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` for a table of a stored index layout,
    without the per-call schema-inference job.

    A stored layout's schema is fixed when the index is built (the
    paper's explicit schemas), but a bare ``spark.read.parquet`` runs a
    footer-reading Spark job on every call to rediscover it. The first
    read of ``path`` infers the schema; later reads hand it to
    ``spark.read.schema(...)``, which skips inference. Spark still lists
    the files on every call, so files appended since the last read show
    up in the next one.

    The memoized schema is tied to the directory's identity (device,
    inode, mtime from one ``os.stat``). Every rewrite the library does —
    an overwrite rebuild, a rename-aside swap, a compaction — changes
    that identity, and the next read infers the schema again. A path
    ``os.stat`` cannot see is read exactly as before, so a missing or
    non-local path raises or resolves as ``spark.read.parquet`` does."""
    ident = _dir_identity(path)
    if ident is None:
        return spark.read.parquet(path)
    hit = _STORED_SCHEMAS.get(path)
    if hit is not None and hit[0] == ident:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _STORED_SCHEMAS[path] = (ident, df.schema)
    return df


# NEGATIVE RESULT (r16), recorded so it is not retried: eagerly
# materializing a persisted frame with a noop write before an action
# whose broadcast futures race through it (kn_lm_score's cb → doc_bg
# chain ran the same map stage 5× side by side) LOST ~0.1 s back-to-back
# — the per-block cache locks already serialize the duplicate compute,
# and the extra action's job+gap costs more than the racing stages' lock
# waits. Keep persists lazy.


def persist_once(df: DataFrame) -> DataFrame:
    """persist() unless the CacheManager already holds this logical plan.

    Query builders call .persist() on intermediates they fan out over; when
    the same query is built twice in one session (bench warm+timed runs, a
    dashboard re-running a pipeline) the second build's plan is equal to
    the first's, and a plain persist() makes Spark log
    ``WARN CacheManager: Asked to cache already cached data`` while keeping
    the old entry anyway. ``df.storageLevel`` consults the CacheManager by
    plan equality, so this guard is exact: cache hit → reuse silently.
    """
    lvl = df.storageLevel
    if lvl.useMemory or lvl.useDisk:
        return df
    return df.persist()
