"""Streaming harness: file-source micro-batch -> memory sink, run to
completion synchronously.

Mirrors the reference topology (Kafka topic -> query-service consumer,
``start_container.sh:56,95``): the parquet event file plays the topic,
the memory sink plays the read model. In production the same pipeline
binds ``readStream.format("kafka")`` and a real sink — only the
source/sink lines change, the transformations are identical.

Scale notes: state (dedup keys, session windows, fold state) lives in
the executor state store partitioned by key — the same shuffle-on-key
layout as batch; watermarks bound state size so a 100 TB/day stream
doesn't accumulate unbounded keys. ``availableNow`` in tests = bounded
backfill, the same code path a catch-up replay uses in production.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pokertracker_cassandra_st_spark import catalog

# Read at call time, so a process may point the stream state elsewhere.
SCRATCH = catalog.SCRATCH


def events_raw_schema(sf_dir: str) -> str:
    """DDL schema for the raw events stream source, matching the on-disk
    ts representation: int64 nanos in older driver layouts, TIMESTAMP µs
    in newer ones — tz-adjusted (isAdjustedToUTC=true -> ``timestamp``)
    or NTZ (-> ``timestamp_ntz``), probed from the footer so a driver
    regeneration flipping tz-adjustedness can neither fail the stream
    nor shift instants (see catalog.events_ts_unit / _tz_adjusted)."""
    from pokertracker_cassandra_st_spark.catalog import (
        events_ts_tz_adjusted,
        events_ts_unit,
    )

    if events_ts_unit(sf_dir) == "ns":
        ts_t = "long"
    else:
        ts_t = "timestamp" if events_ts_tz_adjusted(sf_dir) else "timestamp_ntz"
    return (
        f"event_id long, ts {ts_t}, user_id long, event_type string, "
        "value double, props string"
    )


# Back-compat alias for the legacy nanos layout (tests import this name).
EVENTS_RAW_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, value double, props string"
)


def stream_events(
    spark: SparkSession, sf_dir: str, n_files: int = 1, shuffled: bool = False
) -> DataFrame:
    """events as a file-source stream (ts rebuilt to µs timestamp).

    ``n_files > 1`` splits the log into that many time-ordered chunks
    and feeds them one per micro-batch (maxFilesPerTrigger=1) — this is
    how the late-data/watermark semantics are exercised
    deterministically.

    ``shuffled=True`` hash-partitions instead: each micro-batch carries
    events from across the whole time range, so later batches deliver
    events OLDER than ones already seen — deterministic out-of-order
    arrival, for asserting that order-insensitive folds still converge.
    """
    from pokertracker_cassandra_st_spark.catalog import (
        events_ts_unit,
        normalize_events_ts,
    )

    if events_ts_unit(sf_dir) == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The file streaming source requires a directory; materialize the
    # event log as n time-ordered files under scratch (cached per sf/n).
    src = _split_events(spark, sf_dir, n_files, shuffled)
    reader = (
        spark.readStream.schema(events_raw_schema(sf_dir))
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
    )
    return normalize_events_ts(reader.load(src))


def _split_events(
    spark: SparkSession, sf_dir: str, n_files: int, shuffled: bool = False
) -> str:
    """Materialize events as n files (cached per sf/n/mode): contiguous
    time-ordered ranges by default, hash-scattered when ``shuffled``."""
    from pokertracker_cassandra_st_spark.catalog import events_ts_unit

    unit = events_ts_unit(sf_dir)
    mode = "shuf" if shuffled else "ord"
    key = f"{os.path.basename(os.path.normpath(sf_dir))}_{n_files}_{mode}_{unit}"
    # v2: exact per-bucket files (repartitionByRange over a column with
    # only n_files distinct values derives boundaries by SAMPLING, so
    # two buckets could silently coalesce into one file — fewer
    # micro-batches than the out-of-order coverage claims)
    # v3: cache key carries the on-disk ts unit so a driver testdata
    # regeneration (ns -> us layout) invalidates stale splits.
    out = f"{SCRATCH}/events_split_v3_{key}"
    marker = f"{out}/_SUCCESS"
    if not os.path.exists(marker):
        if unit == "ns":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        import glob
        import shutil
        import time

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        if shuffled:
            # deterministic hash scatter: consecutive event_ids land in
            # different chunks, so every chunk spans the full time range
            bucket = F.pmod(F.xxhash64("event_id"), F.lit(n_files))
        else:
            # contiguous id ranges: event_id order ~ arrival order; the
            # max enters via a broadcast 1-row frame so the split stays
            # one job (no separate driver-side max() scan)
            mx = ev.agg(F.max("event_id").alias("_mx"))
            ev = ev.crossJoin(F.broadcast(mx))
            bucket = F.least(
                F.floor(F.col("event_id") * n_files / (F.col("_mx") + 1)),
                F.lit(n_files - 1),
            )
        tagged = ev.withColumn("_b", bucket).drop("_mx")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        # ONE job: hash-repartition on _b puts each bucket value wholly
        # inside one task (hash of a value is deterministic — collisions
        # merge tasks, never split a bucket), and the dynamic-partition
        # write emits one file per partition value per task => exactly
        # one file per bucket, asserted below. The explicit
        # sortWithinPartitions(_b, event_id) pre-satisfies the writer's
        # partition-column sort requirement, so rows land in each file
        # in event_id order with no extra writer-side sort.
        tmp = f"{out}/_tmp"
        (
            tagged.repartition(n_files, "_b")
            .sortWithinPartitions("_b", "event_id")
            .write.mode("overwrite")
            .partitionBy("_b")
            .parquet(tmp)
        )
        for i in range(n_files):
            parts = glob.glob(f"{tmp}/_b={i}/part-*.parquet")
            if len(parts) != 1:
                raise RuntimeError(
                    f"split bucket {i} of {n_files} produced {len(parts)} files "
                    f"(empty bucket?) — micro-batch structure would be broken"
                )
            shutil.move(parts[0], f"{out}/chunk_{i:03d}.parquet")
        shutil.rmtree(tmp)
        # The file stream source feeds files in modification-time order;
        # stamp mtimes to match chunk (= arrival) order.
        t0 = time.time()
        for i in range(n_files):
            os.utime(f"{out}/chunk_{i:03d}.parquet", (t0 + i + 1, t0 + i + 1))
        with open(marker, "w"):
            pass
    return out


def run_to_table(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink and
    return the sink table as a batch DataFrame.

    The stateful-partition count is pinned while the query starts:
    every state partition pays per-batch checkpoint/commit overhead, so
    it must be sized to STATE VOLUME, not to cores. A streaming query's
    state partitioning is fixed at its first checkpoint anyway —
    choosing it explicitly per deployment is the production posture;
    override with SPARK_GRAFT_STREAM_PARTITIONS (e.g. hundreds on a
    real cluster holding millions of keys). The 8 default is measured,
    not guessed (round-7 probe, sf0.1, local[32], best-of-2): for the
    JVM-stateful 8-micro-batch queries the per-partition commit cost
    dominates and 32 partitions nearly DOUBLES wall time
    (q_stream_chained 3.7 s -> 6.7 s, q_stream_latedata 3.7 s ->
    6.6 s) — so 8 is the right trade at this state volume.
    """
    spark = stream_df.sparkSession
    name = f"sink_{uuid.uuid4().hex[:12]}"
    os.makedirs(SCRATCH, exist_ok=True)
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_", dir=SCRATCH)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "8"),
    )
    try:
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        # the memory sink holds results in memory; the checkpoint is
        # only needed while the query runs — don't let scratch grow
        # unboundedly across rounds
        import shutil

        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)
