"""Workload-registry invariants the driver contract depends on."""

from laradb_spark.workloads import all_specs


def test_spec_shapes():
    specs = all_specs()
    assert len(specs) == len(set(specs)) >= 70
    for name, (fn, sql) in specs.items():
        assert callable(fn), name
        assert sql is None or isinstance(sql, str), name


def test_rows_only_queries_are_the_documented_ones():
    # every oracle-less query is a deliberate rows-only check, not an
    # accidentally-dropped oracle. As of r8 there are NONE: approx_stats
    # (the last one) now emits in-plan bound booleans + exact counts the
    # oracle states literally, so even the sketches hash-certify.
    no_oracle = {n for n, (_f, sql) in all_specs().items() if sql is None}
    assert no_oracle == set()
