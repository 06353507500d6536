"""Shared physical-plan probes for tests."""


def find_file_scan(df, col_marker: str):
    """The executed FileSourceScanExec node whose output columns contain
    ``col_marker`` (toString truncates file locations, so match on a
    column). Walks through AQE wrappers (AdaptiveSparkPlanExec holds the
    final plan, QueryStageExec nodes hold materialized subplans) AND into
    cached relations (InMemoryTableScanExec hides its source scan inside
    InMemoryRelation.cachedPlan — since grouped_rank persists its
    range-partitioned input, top-k plans surface their parquet scan only
    there)."""
    nodes = []

    def walk(node):
        nodes.append(node)
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            walk(node.finalPhysicalPlan())
        if name.endswith("QueryStageExec"):
            walk(node.plan())
        if name == "InMemoryTableScanExec":
            walk(node.relation().cachedPlan())
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    for node in nodes:
        if node.getClass().getSimpleName() == "FileSourceScanExec" and col_marker in node.toString().split("]")[0]:
            return node
    raise AssertionError(f"no FileScan outputting {col_marker!r} found in executed plan")


def scan_num_files(df, col_marker: str) -> int:
    """numFiles metric of the executed FileScan outputting ``col_marker``
    (post-execution, so partition pruning is reflected)."""
    return find_file_scan(df, col_marker).metrics().apply("numFiles").value()


def count_jobs(spark, fn):
    """Run ``fn()`` and return ``(its result, the number of Spark jobs it
    launched)``, counted through a job group of this call alone."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
