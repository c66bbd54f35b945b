"""Production-shaped streaming sink: foreachBatch -> incremental MV.

The reference's query service consumes the Kafka stream and keeps its
read model current (``start_container.sh:95``). The memory-sink
pipelines in stream_queries.py prove semantics; THIS module is the
deployment shape: each micro-batch folds its slice and merges it into
the parquet-backed materialized view via plans/mv.py. The event stream
and the run to completion (checkpoint, trigger, cleanup) are
runner.py's ``stream_events`` and ``run_foreach_batch``; this module is
only the merge.

Exactly-once without sink transactions: the merge is IDEMPOTENT
(last-write-wins by the monotonic event_id), so a replayed micro-batch
after a crash re-merges the same events into the same state — the
checkpoint guarantees at-least-once delivery, idempotence upgrades it
to effectively-once. This is the standard pattern for non-transactional
sinks and is tested by replaying a batch on purpose.

Scale notes: per batch, only that batch's keys shuffle; the MV rewrite
is the swap-directory pattern (MERGE INTO on a lakehouse format). State
lives in the MV itself, not the streaming state store, so the query
restarts stateless.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pokertracker_cassandra_st_spark.plans.mv import full_refresh, incremental_update
from pokertracker_cassandra_st_spark.streaming import runner


def run_streaming_mv(
    spark: SparkSession, sf_dir: str, mv_path: str, n_files: int = 4
) -> DataFrame:
    """Stream the event log into an incrementally-maintained MV;
    returns the final MV DataFrame."""
    ev = runner.stream_events(spark, sf_dir, n_files=n_files)
    # seed an empty MV so every batch takes the incremental path
    full_refresh(ev.sparkSession.createDataFrame([], ev.schema), mv_path)

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        incremental_update(spark, mv_path, batch_df)

    runner.run_foreach_batch(ev, merge_batch)
    return spark.read.parquet(mv_path)
