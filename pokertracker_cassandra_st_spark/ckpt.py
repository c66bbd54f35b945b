"""Shared one-per-invocation materialization barrier.

``materialized(df)`` truncates lineage so that every downstream
reference shares ONE physical build instead of re-executing the whole
lineage per reference — Catalyst has no cross-branch common-subplan
reuse, and exchange reuse only dedups byte-identical exchange subtrees,
which multi-branch pipelines (self-joins over derived frames,
count+join fan-outs) rarely produce (guide §5: "localCheckpoint() is a
cheaper way to cut lineage").

Properties relied on throughout:
  * eager=False — query CONSTRUCTION and explain/plan_of stay job-free
    (the r12 ADVICE note on similarity.py's eager checkpoint);
  * per-invocation — a fresh call builds a fresh RDD; the CacheManager
    is never involved, so nothing persists across bench/driver runs
    (no cross-run result caching);
  * explain renders the checkpointed subtree as ``Scan ExistingRDD`` —
    every call site goes through the module attribute
    ``ckpt.materialized``, so plan-shape tests stub this one name to
    assert on the pre-checkpoint tree (tests/test_plans.py
    ``plan_of_unmaterialized``).

Where the barrier's partitions live is derived from the deployment,
not configured here:

  * If the session's SparkContext has a checkpoint directory (set by
    the deployment, e.g. an HDFS/object-store path on a cluster), the
    barrier is a reliable ``checkpoint(eager=False)``: partitions
    survive executor loss, at the cost of one write+read of the barrier
    frame. Set ``spark.cleaner.referenceTracking.cleanCheckpoints=true``
    so the files are removed when the RDD is garbage collected.
  * Otherwise it is ``localCheckpoint(eager=False)`` — also the path
    when there is no SparkContext (Spark Connect). Partitions live in
    executor memory+disk with lineage TRUNCATED: an executor loss
    cannot recompute them, and the whole query invocation must be
    re-run from the source. That is the guide-§5 trade ("when fault
    tolerance of that intermediate is not critical"): the barrier
    removes 2-5 redundant corpus passes from every run, while an
    executor loss costs one re-run of one query. It is NOT safe with
    dynamic allocation / spot executors; such deployments set a
    checkpoint directory.

Block lifetime: barrier blocks are freed by the driver's ContextCleaner
when the invocation's DataFrame is garbage collected — a long-lived
session running many queries releases them incrementally; nothing
accumulates across invocations beyond normal GC lag.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _has_checkpoint_dir(df: DataFrame) -> bool:
    try:
        sc = df.sparkSession.sparkContext
    except Exception:  # Spark Connect: no SparkContext
        return False
    return not sc._jsc.sc().getCheckpointDir().isEmpty()


def materialized(df: DataFrame) -> DataFrame:
    if _has_checkpoint_dir(df):
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)
