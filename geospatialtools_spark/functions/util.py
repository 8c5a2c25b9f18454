"""Small shared helpers for the function library."""

from __future__ import annotations

from pyspark.sql import DataFrame


def _planned_partitions(plan) -> int:
    """The partition count a physical plan is planned to output, read
    from the plan alone: a node's own partitioning when it has one (an
    exchange's target count, which AQE may still coalesce), else a leaf
    scan's split count, a union's sum, or the widest input. Only leaves
    build an RDD, so no shuffle or broadcast runs."""
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return _planned_partitions(plan.inputPlan())
    n = plan.outputPartitioning().numPartitions()
    if n > 0:
        return n
    kids = plan.children()
    if kids.size() == 0:
        return plan.execute().getNumPartitions()
    counts = [_planned_partitions(kids.apply(i)) for i in range(kids.size())]
    return sum(counts) if cls == "UnionExec" else max(counts)


def widen_to_parallelism(df: DataFrame) -> DataFrame:
    """Spread a narrow input across the session's cores before a CPU-heavy
    per-row stage (Arrow UDF or wide Catalyst expression).

    A small parquet table arrives as 1-few partitions, so the expensive
    per-row stage would run on one thread while the rest idle; round-robin
    repartition of a small input costs ~nothing. A production-scale table
    already has >= defaultParallelism partitions and passes through
    untouched — no shuffle added at 10^12 rows.

    The count comes from the physical plan, so ``df`` is not executed:
    under AQE, ``df.rdd.getNumPartitions()`` runs every shuffle of the
    plan just to count, and the later action runs them again.
    """
    try:
        p = df.sparkSession.sparkContext.defaultParallelism
        if _planned_partitions(df._jdf.queryExecution().executedPlan()) < p:
            return df.repartition(p)
    except Exception:
        pass
    return df
