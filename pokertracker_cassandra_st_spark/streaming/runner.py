"""Streaming harness: the micro-batch fixture and the one run loop.

Mirrors the reference topology (Kafka topic -> query-service consumer,
``start_container.sh:56,95``): a table split into time-ordered chunk
files plays the topic, one chunk per micro-batch, and a memory sink or
a foreachBatch function plays the read model. In production the same
pipeline binds ``readStream.format("kafka")`` and a real sink — only
the source/sink lines change, the transformations are identical.

This module owns every decision about that fixture and about running a
stream: the chunk layout (one file per bucket, fed in mtime order,
``_SUCCESS`` marker; ``_write_chunks``), the reader (``_read_chunks``),
run-to-completion (``_run``: throwaway checkpoint written through the
FileSystem checkpoint manager, ``availableNow``, the one-wave
state-partition pin, cleanup) behind ``run_to_table`` and
``run_foreach_batch``, and the ordered per-user fold on the Python
stateful API (``fold_by_user``: a key's Arrow chunks sorted as one by
event_id, the state carried across micro-batches, the final state per
user) that every order-dependent streaming fold runs through.

Scale notes: state (dedup keys, session windows, fold state) lives in
the executor state store partitioned by key — the same shuffle-on-key
layout as batch; watermarks bound state size so a 100 TB/day stream
doesn't accumulate unbounded keys. ``availableNow`` in tests = bounded
backfill, the same code path a catch-up replay uses in production.
"""

from __future__ import annotations

import functools
import glob
import os
import shutil
import tempfile
import time
import uuid
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

from pokertracker_cassandra_st_spark import catalog, session
from pokertracker_cassandra_st_spark.catalog import (
    events_ts_tz_adjusted,
    events_ts_unit,
    normalize_events_ts,
)
from pokertracker_cassandra_st_spark.exprs import AUG_OFFSET, near_copies

# Read at call time, so a process may point the stream state elsewhere.
SCRATCH = catalog.SCRATCH

# Cap on the shuffle (= state) partitions of every stream this module
# runs; ``_run`` takes the session's task slots up to this cap, so the
# stateful stage of a micro-batch is one wave of tasks. The cost of a
# state partition is per batch, not per row: each one writes a state
# delta file and its checksum file (HDFSBackedStateStoreProvider
# .finalizeDeltaFile), and JVM samples of the replay found most busy task
# threads waiting in that close; most of that wait was the checkpoint
# manager forking ``readlink`` and ``chmod`` (see CHECKPOINT_MANAGER),
# not the write itself. On a 4-slot, 15 GB host, 8 partitions
# ran the stateful stage in two waves; at 4, the first q_stream_replay
# of a session (sf0.1, 4 micro-batches) went from 5.99 to 5.26 s (median
# of 10 alternating runs each) and its median addBatch per micro-batch
# from 617 to 445 ms, while 2 and 1 partitions gained little more. The
# cap holds the round-7 probe (sf0.1, local[32], best-of-2): 32
# partitions nearly DOUBLED wall time (q_stream_chained 3.7 s -> 6.7 s,
# q_stream_latedata 3.7 s -> 6.6 s). Checkpoints are throwaway, so no
# query restores state under another count. A deployment holding
# millions of keys would raise the cap to hundreds.
STATE_PARTITIONS = 8

# The checkpoint manager of every stream this module runs. Its checkpoint
# is always a local ``mkdtemp`` directory, and on a local path Spark's
# default FileContext manager asks Hadoop's RawLocalFs for the link status
# of every file it renames: the offset, commit, metadata and source logs
# on the stream thread, and each state delta file and its checksum file
# inside the state tasks' commit. Without Hadoop's native library that
# lookup forks a ``readlink`` process (about 14 ms each); one first
# q_stream_replay at sf0.1 forked 376. The FileSystem manager renames
# through FileSystem.rename and forks none; the checksum sidecars still
# wrap it. Checkpoints this module does not create keep Spark's default.
CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing"
    ".FileSystemBasedCheckpointFileManager"
)

DOCS_RAW_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def events_raw_schema(sf_dir: str) -> str:
    """DDL schema for the raw events stream source, matching the on-disk
    ts representation: int64 nanos in older driver layouts, TIMESTAMP µs
    in newer ones — tz-adjusted (isAdjustedToUTC=true -> ``timestamp``)
    or NTZ (-> ``timestamp_ntz``), probed from the footer so a driver
    regeneration flipping tz-adjustedness can neither fail the stream
    nor shift instants (see catalog.events_ts_unit / _tz_adjusted)."""
    if events_ts_unit(sf_dir) == "ns":
        ts_t = "long"
    else:
        ts_t = "timestamp" if events_ts_tz_adjusted(sf_dir) else "timestamp_ntz"
    return (
        f"event_id long, ts {ts_t}, user_id long, event_type string, "
        "value double, props string"
    )


def _write_chunks(tagged: DataFrame, out: str, n_files: int, order: str) -> None:
    """Write ``tagged`` as ``out/chunk_000..`` — one parquet file per
    value of its ``_b`` bucket column (0..n_files-1), rows in ``order``
    within each file — mtime-stamped in chunk order, then mark ``out``
    complete with ``_SUCCESS``.

    ONE job: hash-repartition on _b puts each bucket value wholly inside
    one task (hash of a value is deterministic — collisions merge tasks,
    never split a bucket), and the dynamic-partition write emits one
    file per partition value per task => exactly one file per bucket,
    asserted below. (repartitionByRange over a column with only n_files
    distinct values derives boundaries by SAMPLING, so two buckets could
    silently coalesce into one file.) The explicit sortWithinPartitions
    pre-satisfies the writer's partition-column sort requirement, so
    rows land in each file in ``order`` with no extra writer-side sort.
    """
    shutil.rmtree(out, ignore_errors=True)
    tmp = f"{out}/_tmp"
    (
        tagged.repartition(n_files, "_b")
        .sortWithinPartitions("_b", order)
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
    with open(f"{out}/_SUCCESS", "w"):
        pass


def _read_chunks(spark: SparkSession, schema: str, src: str) -> DataFrame:
    """The chunk directory ``src`` as a file-source stream: one chunk
    per micro-batch (maxFilesPerTrigger=1), in mtime = chunk order."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
    )


def _id_buckets(df: DataFrame, id_col: str, n: int) -> DataFrame:
    """``df`` plus ``_b`` = its contiguous ``id_col`` range, 0..n-1. The
    max id enters via a broadcast 1-row frame, so the split stays one
    job (no separate driver-side max() scan)."""
    mx = df.agg(F.max(id_col).alias("_mx"))
    return (
        df.crossJoin(F.broadcast(mx))
        .withColumn(
            "_b",
            F.least(F.floor(F.col(id_col) * n / (F.col("_mx") + 1)), F.lit(n - 1)),
        )
        .drop("_mx")
    )


def stream_events(
    spark: SparkSession, sf_dir: str, n_files: int = 1, shuffled: bool = False
) -> DataFrame:
    """events as a file-source stream (ts rebuilt to µs timestamp).

    ``n_files > 1`` splits the log into that many time-ordered chunks
    and feeds them one per micro-batch — this is how the
    late-data/watermark semantics are exercised deterministically.

    ``shuffled=True`` hash-partitions instead: each micro-batch carries
    events from across the whole time range, so later batches deliver
    events OLDER than ones already seen — deterministic out-of-order
    arrival, for asserting that order-insensitive folds still converge.
    """
    src = _split_events(spark, sf_dir, n_files, shuffled)
    return normalize_events_ts(_read_chunks(spark, events_raw_schema(sf_dir), src))


def _split_events(
    spark: SparkSession, sf_dir: str, n_files: int, shuffled: bool = False
) -> str:
    """Materialize events as n chunk files (cached per sf/n/mode/ts
    unit): contiguous event_id (~ arrival) ranges by default,
    hash-scattered when ``shuffled``."""
    unit = events_ts_unit(sf_dir)
    if unit == "ns":
        # both the split's batch read and the stream's read take the raw
        # int64 nanos (events_raw_schema)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    mode = "shuf" if shuffled else "ord"
    key = f"{os.path.basename(os.path.normpath(sf_dir))}_{n_files}_{mode}_{unit}"
    # v3: the cache key carries the on-disk ts unit, so test data
    # regenerated in the other layout (ns <-> us) invalidates stale splits.
    out = f"{SCRATCH}/events_split_v3_{key}"
    if not os.path.exists(f"{out}/_SUCCESS"):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        if shuffled:
            # deterministic hash scatter: consecutive event_ids land in
            # different chunks, so every chunk spans the full time range
            tagged = ev.withColumn(
                "_b", F.pmod(F.xxhash64("event_id"), F.lit(n_files))
            )
        else:
            tagged = _id_buckets(ev, "event_id", n_files)
        _write_chunks(tagged, out, n_files, "event_id")
    return out


def stream_documents(
    spark: SparkSession, sf_dir: str, n_files: int = 4, augment: bool = False
) -> DataFrame:
    """documents as a file-source stream, one id-ordered chunk per
    micro-batch."""
    src = _split_documents(spark, sf_dir, n_files, augment)
    return _read_chunks(spark, DOCS_RAW_SCHEMA, src)


def _split_documents(
    spark: SparkSession, sf_dir: str, n_files: int, augment: bool = False
) -> str:
    """Materialize documents as n doc_id-contiguous chunk files (cached
    per sf/n/mode) — the documents twin of ``_split_events``'s ordered
    mode.

    ``augment=True`` (n_files=4) streams the corpus PLUS the near copy
    of every >=2-token document (``exprs.near_copies``: id +
    AUG_OFFSET, last token dropped — the dedup tiers' augmented corpus):
    originals arrive in batches 0-1 by doc_id half, their perturbed
    near-duplicates in batches 2-3 — so every later batch carries
    planted near-dups of EARLIER batches and the cross-batch match set
    is deterministic and non-empty at every sf."""
    mode = "aug" if augment else "ord"
    key = f"{os.path.basename(os.path.normpath(sf_dir))}_{n_files}_{mode}"
    out = f"{SCRATCH}/docs_split_v1_{key}"
    if not os.path.exists(f"{out}/_SUCCESS"):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        if augment:
            if n_files != 4:
                raise ValueError("augmented split is a 4-batch fixture")
            orig = _id_buckets(docs, "doc_id", 2)
            pert = near_copies(
                orig, AUG_OFFSET, "lang", "source", "n_chars",
                (F.col("_b") + 2).alias("_b"),
            )
            tagged = orig.unionByName(pert)
        else:
            tagged = _id_buckets(docs, "doc_id", n_files)
        _write_chunks(tagged, out, n_files, "doc_id")
    return out


def _run(stream_df: DataFrame, sink: Callable[[DataStreamWriter], DataStreamWriter]) -> None:
    """Run ``stream_df`` to completion through ``sink(writeStream)``: a
    throwaway checkpoint under SCRATCH, an ``availableNow`` trigger, and
    two session pins while the query runs — the shuffle partitions at
    one wave of the session's task slots, at most STATE_PARTITIONS, and
    the FileSystem checkpoint manager (CHECKPOINT_MANAGER), which renames
    the local checkpoint's files without forking a ``readlink`` per file.
    The query's session clone reads both at start; a foreachBatch
    function's own jobs run while they hold. Then both are restored and
    the checkpoint deleted — a finished query's state is in its sink,
    and scratch must not grow run after run."""
    spark = stream_df.sparkSession
    os.makedirs(SCRATCH, exist_ok=True)
    ckpt = tempfile.mkdtemp(prefix="ckpt_", dir=SCRATCH)
    pins = {
        "spark.sql.shuffle.partitions": str(min(STATE_PARTITIONS, session._parallelism(spark))),
        CHECKPOINT_MANAGER_CONF: CHECKPOINT_MANAGER,
    }
    prev = {k: spark.conf.get(k, None) for k in pins}
    for k, v in pins.items():
        spark.conf.set(k, v)
    try:
        (
            sink(stream_df.writeStream)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        shutil.rmtree(ckpt, ignore_errors=True)


def run_to_table(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink and
    return the sink table as a batch DataFrame."""
    name = f"sink_{uuid.uuid4().hex[:12]}"
    _run(stream_df, lambda w: w.outputMode(output_mode).format("memory").queryName(name))
    return stream_df.sparkSession.table(name)


def run_foreach_batch(
    stream_df: DataFrame, fn: Callable[[DataFrame, int], None]
) -> None:
    """Run a streaming DataFrame to completion, calling ``fn(batch_df,
    epoch_id)`` on every micro-batch."""
    _run(stream_df, lambda w: w.foreachBatch(fn))


def _fold_in_order(
    names: list[str],
    cols: list[str],
    step: Callable[..., tuple],
    init: tuple,
    key: tuple,
    chunks: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """One user's rows of one micro-batch folded through ``step`` in
    event_id order, starting from the count and step state kept in
    ``state``; emits one row, named ``names``: the key, the count and
    the step state.

    The chunks are joined before the one sort: past
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows pyspark hands
    a key's rows over in several chunks, and after the shuffle they
    arrive in no set event_id order, so a sort per chunk misorders the
    fold."""
    n, *acc = state.get if state.exists else (0, *init)
    pdf = pd.concat(list(chunks), ignore_index=True).sort_values("event_id")
    for row in zip(*(pdf[c].tolist() for c in cols)):
        acc = step(acc, *row)
    n += len(pdf)
    state.update((n, *acc))
    yield pd.DataFrame([(*key, n, *acc)], columns=names)


def fold_by_user(
    ev: DataFrame,
    cols: list[str],
    step: Callable[..., tuple],
    init: tuple,
    state_schema: str,
) -> DataFrame:
    """Each user's events of the stream ``ev`` folded in event_id order,
    ``state = step(state, *row)`` from ``init`` over the ``cols`` of each
    row as Python scalars, the state (``state_schema``) carried in the
    state store across micro-batches. Returns the final state per user:
    ``user_id``, ``n`` (events folded) and the fields of
    ``state_schema``.

    The update-mode sink holds one row per user per micro-batch that
    changed it; ``n`` grows with every such batch, so the row with the
    highest ``n`` is the final one."""
    out = StructType.fromDDL(f"user_id long, n long, {state_schema}")
    folded = (
        ev.select("user_id", *dict.fromkeys(["event_id", *cols]))
        .groupBy("user_id")
        .applyInPandasWithState(
            functools.partial(_fold_in_order, out.names, cols, step, init),
            outputStructType=out,
            stateStructType=f"n long, {state_schema}",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    sink = run_to_table(folded, "update")
    return (
        sink.groupBy("user_id")
        .agg(F.max_by(F.struct(*out.names[1:]), "n").alias("s"))
        .select("user_id", "s.*")
    )
