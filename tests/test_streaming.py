"""Streaming-specific invariants beyond the oracle compare.

1. Append-mode watermark output == batch recomputation restricted to
   closed windows (the reference's implicit invariant: the projection
   equals a replay of the full log).
2. Watermarks actually DROP late data when arrival is out of order.
3. The stateful replay fold carries state across micro-batches, and
   runs as a JVM aggregate rather than a Python stateful worker; the
   order-dependent folds run on the Python stateful API, and fold a
   key's Arrow chunks in event_id order whatever order they arrive in.
4. Every micro-batch fixture is one mtime-ordered chunk file per
   bucket holding exactly its source rows.
5. Every stream's state partitions are one wave of the session's task
   slots, at most ``runner.STATE_PARTITIONS``, and its checkpoint is
   written without forking a ``readlink`` process per file.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pokertracker_cassandra_st_spark import session
from pokertracker_cassandra_st_spark.catalog import normalize_events_ts, table
from pokertracker_cassandra_st_spark.registry import REGISTRY, get_queries
from pokertracker_cassandra_st_spark.streaming import runner
from pokertracker_cassandra_st_spark.streaming.runner import (
    run_foreach_batch,
    run_to_table,
)

get_queries()


def test_latedata_closed_windows_match_batch(spark, sf_dir):
    out = REGISTRY["q_stream_latedata"].fn(spark, sf_dir).toPandas()
    batch = (
        table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "15 minutes"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
        )
        .toPandas()
    )
    assert len(out) > 0
    merged = out.merge(batch, on=["window_start", "event_type"], how="left", suffixes=("", "_b"))
    # in-order arrival => every emitted (closed) window matches batch
    assert (merged["n"] == merged["n_b"]).all()
    # and the stream emitted strictly fewer windows than batch has
    # (the final, not-yet-closed windows stay in state)
    assert len(out) < len(batch)


def test_watermark_drops_late_events(spark, tmp_path):
    # Spark's watermark contract: a late row is only guaranteed dropped
    # once its window's state has been EVICTED (emission is the
    # guarantee; in-state merging of slightly-late rows is allowed).
    # batch0 advances event time to min 60 (watermark -> 50);
    # batch1 triggers eviction/emission of window [0,15) with n=2;
    # batch2 delivers a row back at minute 5 -> state gone -> dropped.
    base = pd.Timestamp("2024-06-01 00:00:00")
    arrivals = [
        [(0, 0), (1, 5), (2, 60)],
        [(3, 61)],
        [(4, 5)],  # behind the watermark, window already evicted
    ]
    rows = [(i, m, b) for b, chunk in enumerate(arrivals) for i, m in chunk]
    pdf = pd.DataFrame(
        {
            "event_id": [i for i, _, _ in rows],
            "ts": [base + pd.Timedelta(minutes=m) for _, m, _ in rows],
            "user_id": 1,
            "event_type": "click",
            "value": 1.0,
            "props": "{}",
            "_b": [b for _, _, b in rows],
        }
    )
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    d = str(tmp_path / "late_src")
    runner._write_chunks(
        spark.createDataFrame(pdf, schema=f"{schema}, _b int"), d, len(arrivals), "event_id"
    )
    src = runner._read_chunks(spark, schema, d)
    agg = (
        src.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "15 minutes"))
        .agg(F.count("*").alias("n"))
    )
    sink = run_to_table(agg, "append").toPandas()
    first_window = sink[sink["window"].apply(lambda w: w["start"] == base)]
    # the [0,15) window was emitted once with 2 events; the late row
    # after eviction was dropped, not re-emitted
    assert list(first_window["n"]) == [2]


def test_foreachbatch_mv_equals_batch_fold(spark, sf_dir, tmp_path):
    # production-shaped sink: stream -> foreachBatch incremental MV;
    # final MV must equal the batch fold of the whole log
    from pokertracker_cassandra_st_spark.plans.mv import read_model
    from pokertracker_cassandra_st_spark.streaming.mv_sink import run_streaming_mv

    mv = run_streaming_mv(spark, sf_dir, str(tmp_path / "mv"), n_files=4)
    got = sorted(tuple(r) for r in read_model(mv).collect())
    batch = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max("event_id").alias("last_event_id"),
            F.max_by("event_type", "event_id").alias("last_event_type"),
            F.max_by("value", "event_id").alias("last_value"),
        )
        .filter(F.col("last_event_type") != "error")
    )
    want = sorted(tuple(r) for r in batch.collect())
    assert got == want


def test_foreachbatch_merge_is_idempotent(spark, sf_dir, tmp_path):
    # replaying a batch (crash-recovery at-least-once) must not change
    # the MV: last-write-wins by event_id makes the merge idempotent
    from pokertracker_cassandra_st_spark.plans.mv import (
        incremental_update,
        read_model,
    )
    from pokertracker_cassandra_st_spark.streaming.mv_sink import run_streaming_mv

    path = str(tmp_path / "mv")
    mv = run_streaming_mv(spark, sf_dir, path, n_files=2)
    before = sorted(tuple(r) for r in read_model(mv).collect())
    # replay the SECOND half of the log again
    replay = table(spark, sf_dir, "events").filter(F.col("event_id") >= 5000)
    incremental_update(spark, path, replay)
    after = sorted(
        tuple(r) for r in read_model(spark.read.parquet(path)).collect()
    )
    assert before == after


def test_replay_state_spans_batches(spark, sf_dir):
    # The replay query streams 4 micro-batches; its update-mode sink
    # must contain multiple rows for users whose events span chunks —
    # proving state carried across batches rather than one-shot batch.
    out = REGISTRY["q_stream_replay"].fn(spark, sf_dir).toPandas()
    batch = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.max("event_id").alias("last_event_id"))
        .toPandas()
    )
    merged = out.merge(batch, on="user_id", suffixes=("", "_b"))
    assert (merged["last_event_id"] == merged["last_event_id_b"]).all()


class _Captured(Exception):
    pass


def _sink_plan(spark, sf_dir, monkeypatch, module, name: str) -> str:
    """The analyzed plan of the stream query ``name`` hands to
    ``module.run_to_table``; the stream is captured on its way to the
    sink and never started."""
    handed = []

    def capture(stream_df, output_mode):
        handed.append(stream_df)
        raise _Captured

    monkeypatch.setattr(module, "run_to_table", capture)
    with pytest.raises(_Captured):
        REGISTRY[name].fn(spark, sf_dir)
    (stream_df,) = handed
    assert stream_df.isStreaming
    return stream_df._jdf.queryExecution().analyzed().toString()


@pytest.mark.parametrize("name", ["q_stream_replay", "q_stream_outoforder"])
def test_replay_fold_is_a_jvm_aggregate(spark, sf_dir, monkeypatch, name):
    # The read model's fold runs as a streaming aggregate in the state
    # store, not as a Python stateful worker.
    from pokertracker_cassandra_st_spark.streaming import stream_queries

    plan = _sink_plan(spark, sf_dir, monkeypatch, stream_queries, name)
    assert "FlatMapGroupsInPandasWithState" not in plan, plan
    assert "Aggregate" in plan, plan


ORDERED_FOLDS = ["q_stream_ewma", "q_stream_throttle", "q_stream_funnel", "q_stream_gap_detect"]


@pytest.mark.parametrize("name", ORDERED_FOLDS)
def test_ordered_folds_run_on_the_python_stateful_api(spark, sf_dir, monkeypatch, name):
    # The order-dependent folds keep the Python stateful API covered:
    # each runs through runner.fold_by_user's applyInPandasWithState.
    plan = _sink_plan(spark, sf_dir, monkeypatch, runner, name)
    assert "FlatMapGroupsInPandasWithState" in plan, plan


class _FakeGroupState:
    """The part of pyspark's GroupState a fold reads and writes."""

    exists = False
    get = None

    def update(self, value: tuple) -> None:
        self.exists, self.get = True, tuple(value)


def _fold_chunks(case: str, chunks: list[list[tuple]]) -> list:
    """The row ``runner._fold_in_order`` emits for one key whose rows of
    one micro-batch arrive as ``chunks`` of (event_id, *cols) tuples."""
    from pokertracker_cassandra_st_spark.streaming import stream_queries as sq

    step, cols, init, state_cols = {
        "ewma": (sq._ewma_step, ["value"], (None,), ["ewma"]),
        "throttle": (sq._throttle_step, ["hb"], (None, 0, 0), ["hb", "used", "admitted"]),
        "funnel": (
            sq._funnel_step,
            ["event_id", "event_type"],
            (None, None),
            ["signup_id", "conv_id"],
        ),
        "gap": (sq._gap_step, ["tss"], (None, 0, 0), ["last_ts", "n_gaps", "max_gap_s"]),
    }[case]
    frame_cols = list(dict.fromkeys(["event_id", *cols]))
    frames = (pd.DataFrame(rows, columns=frame_cols) for rows in chunks)
    names = ["user_id", "n", *state_cols]
    (out,) = runner._fold_in_order(names, cols, step, init, (7,), frames, _FakeGroupState())
    return out.iloc[0].tolist()


@pytest.mark.parametrize(
    "case,later,earlier,want",
    [
        # ids 1-4 with values 10-40: 31.25 in id order, 21.25 when each
        # chunk is sorted on its own
        ("ewma", [(3, 30.0), (4, 40.0)], [(1, 10.0), (2, 20.0)], [7, 4, 31.25]),
        # hours 5,5,5,5,6 in id order: admitted 4, rejected 1 (n - admitted)
        ("throttle", [(3, 5), (4, 5), (5, 6)], [(1, 5), (2, 5)], [7, 5, 6, 1, 4]),
        ("funnel", [(3, "signup"), (4, "purchase")], [(1, "signup"), (2, "purchase")], [7, 4, 1, 2]),
        ("gap", [(3, 5000), (4, 5100)], [(1, 0), (2, 100)], [7, 4, 5100, 1, 4900]),
        # gaps between pre-1970 (negative) timestamps count too
        ("gap", [(3, -100)], [(1, -7200), (2, -7000)], [7, 3, -100, 1, 6900]),
    ],
    ids=["ewma", "throttle", "funnel", "gap", "gap-pre-1970"],
)
def test_fold_orders_a_keys_chunks_as_one(case, later, earlier, want):
    # A key's rows past arrow.maxRecordsPerBatch reach the fold in
    # several chunks, in no set event_id order; the fold must see them
    # in event_id order, exactly as one sorted chunk.
    got = _fold_chunks(case, [later, earlier])
    assert got == _fold_chunks(case, [sorted(earlier + later)]) == want


def test_chained_dedup_window_agg_matches_batch(spark, sf_dir):
    # the chained stateful query (dedup -> windowed agg, append mode)
    # must emit EXACTLY the windows closed by the final watermark, with
    # counts equal to the batch recomputation over the clean log
    import pyspark.sql.functions as F

    from pokertracker_cassandra_st_spark.catalog import table
    from pokertracker_cassandra_st_spark.registry import REGISTRY

    out = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in REGISTRY["q_stream_chained"].fn(spark, sf_dir).collect()
    }
    assert out, "chained query emitted nothing"

    # availableNow ends with a no-data flush batch, so the emitted set
    # is the windows closed by the FINAL watermark (max event time - 1h)
    import datetime

    ev = table(spark, sf_dir, "events")
    watermark = ev.agg(F.max("ts")).first()[0] - datetime.timedelta(hours=1)
    expected = {
        (r["ws"], r["event_type"]): r["n"]
        for r in (
            ev.groupBy(
                F.window("ts", "1 hour").alias("w"), "event_type"
            )
            .agg(F.count("*").alias("n"))
            .filter(F.col("w.end") < F.lit(watermark))
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("ws"),
                "event_type",
                "n",
            )
        ).collect()
    }
    assert out == expected


def test_checkpoint_recovery_resumes_exactly_once(spark, sf_dir, tmp_path):
    """Exactly-once resume across restarts: run a windowed count over
    the first half of the event files with a checkpoint, stop, add the
    second half to the source directory, restart the SAME query (same
    checkpoint + sink), and assert the combined emitted output equals a
    single uninterrupted run. This is the production crash/redeploy
    path: the checkpoint's offset log + state store must carry the
    watermark and partial windows across the restart without
    re-emitting or dropping anything.
    """
    import shutil

    src_all = runner._split_events(spark, sf_dir, n_files=8)
    chunks = sorted(
        f for f in os.listdir(src_all) if f.startswith("chunk_")
    )
    assert len(chunks) == 8
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    for f in chunks[:4]:
        shutil.copy2(os.path.join(src_all, f), os.path.join(staged, f))

    ckpt = str(tmp_path / "ckpt")
    sink_dir = str(tmp_path / "sink")

    def run_once() -> None:
        ev = normalize_events_ts(
            runner._read_chunks(spark, runner.events_raw_schema(sf_dir), staged)
        )
        agg = (
            ev.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "15 minutes"), "event_type")
            .agg(F.count("*").alias("n"))
            .select(
                F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                    "window_start"
                ),
                "event_type",
                "n",
            )
        )
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # first half, then "crash" (query ends)
    for f in chunks[4:]:
        shutil.copy2(os.path.join(src_all, f), os.path.join(staged, f))
    run_once()  # restart from the same checkpoint

    got = (
        spark.read.parquet(sink_dir)
        .groupBy("window_start", "event_type")
        .agg(F.sum("n").alias("n"))
    )
    # no window may be emitted twice (append-mode exactly-once)
    dupes = (
        spark.read.parquet(sink_dir)
        .groupBy("window_start", "event_type")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dupes == 0, "append-mode sink re-emitted a closed window after restart"

    # combined output == the single-run oracle (same closed-window set
    # as q_stream_latedata: end <= final watermark)
    ev_batch = table(spark, sf_dir, "events")
    wm = ev_batch.agg(F.max("ts")).first()[0]
    expected = (
        ev_batch.groupBy(F.window("ts", "15 minutes"), "event_type")
        .agg(F.count("*").alias("n"))
        .filter(
            F.col("window.end")
            <= F.lit(wm) - F.expr("INTERVAL 10 MINUTES")
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
        )
    )
    diff = got.exceptAll(expected).count() + expected.exceptAll(got).count()
    assert diff == 0, "restarted run diverged from the uninterrupted oracle"


def test_tws_replay_gate_is_loud(spark, sf_dir):
    """q_stream_replay_tws registers only where transformWithState can
    run (``google.protobuf`` importable). Without protobuf the query
    must not be registered and this test skips, saying why; with it,
    the query must register AND match the batch-fold oracle."""
    import pytest

    from pokertracker_cassandra_st_spark.streaming.tws_replay import (
        _tws_available,
    )

    if not _tws_available():
        assert "q_stream_replay_tws" not in REGISTRY, (
            "tws query registered although protobuf is unavailable"
        )
        pytest.skip(
            "google.protobuf is not importable: transformWithStateInPandas "
            "cannot start its state-server worker, so q_stream_replay_tws "
            "is not registered"
        )

    from tests.differ import assert_frames_match, duck_connection

    q = REGISTRY["q_stream_replay_tws"]
    pdf = q.fn(spark, sf_dir).toPandas()
    con = duck_connection(sf_dir)
    try:
        odf = con.execute(q.oracle).fetchdf()
    finally:
        con.close()
    assert_frames_match(pdf, odf, "q_stream_replay_tws")


def test_document_split_follows_runner_scratch(spark, sf_dir, tmp_path, monkeypatch):
    # a process that points runner.SCRATCH elsewhere gets its document
    # splits there, not in the scratch dir of import time
    monkeypatch.setattr(runner, "SCRATCH", str(tmp_path))
    out = runner._split_documents(spark, sf_dir, 2)
    assert out.startswith(f"{tmp_path}/")
    assert os.path.exists(f"{out}/_SUCCESS")


def _parquet_frame(path: str) -> pd.DataFrame:
    """A parquet file as pandas, timestamps as their raw int64 (the
    chunks keep the source's physical ts: µs timestamps, or the int64
    nanos of the older layout)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    fields = [
        pa.field(f.name, pa.int64()) if pa.types.is_timestamp(f.type) else f
        for f in t.schema
    ]
    return t.cast(pa.schema(fields)).to_pandas()


@pytest.mark.parametrize(
    "table_name,mode",
    [
        ("events", "ordered"),
        ("events", "shuffled"),
        ("documents", "ordered"),
        ("documents", "augmented"),
    ],
)
def test_split_is_one_mtime_ordered_chunk_per_bucket(
    spark, sf_dir, tmp_path, monkeypatch, table_name, mode
):
    # Every micro-batch fixture: n chunk files, one per bucket, fed in
    # chunk order (strictly increasing mtimes), holding exactly the
    # source rows (plus, for the augmented documents, one perturbed
    # copy of each multi-token document).
    monkeypatch.setattr(runner, "SCRATCH", str(tmp_path))
    n = 4
    if table_name == "events":
        key = "event_id"
        out = runner._split_events(spark, sf_dir, n, shuffled=mode == "shuffled")
    else:
        key = "doc_id"
        out = runner._split_documents(spark, sf_dir, n, augment=mode == "augmented")
    files = sorted(f for f in os.listdir(out) if not f.startswith("_"))
    assert files == [f"chunk_{i:03d}.parquet" for i in range(n)]
    assert os.path.exists(f"{out}/_SUCCESS")
    mtimes = [os.stat(f"{out}/{f}").st_mtime for f in files]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:])), mtimes
    chunks = [_parquet_frame(f"{out}/{f}") for f in files]
    ids = [c[key] for c in chunks]
    assert all(len(i) > 0 for i in ids)

    if mode == "shuffled":
        # each chunk is one hash bucket, and later chunks deliver ids
        # older than ones an earlier chunk already carried
        for i, f in enumerate(files):
            got = spark.read.parquet(f"{out}/{f}").select(
                F.pmod(F.xxhash64(key), F.lit(n)).alias("b")
            ).distinct().collect()
            assert [r.b for r in got] == [i]
        assert all(ids[i].min() < ids[i - 1].max() for i in range(1, n))
    elif mode == "augmented":
        # originals in chunks 0-1 by id half, their copies in 2-3
        assert ids[0].max() < ids[1].min() and ids[1].max() < 1000000
        assert ids[2].min() >= 1000000 and ids[2].max() < ids[3].min()
        for orig, copy in ((0, 2), (1, 3)):
            assert set(ids[copy] - 1000000) <= set(ids[orig])
    else:
        # contiguous id ranges in chunk order
        assert all(ids[i - 1].max() < ids[i].min() for i in range(1, n))

    src = _parquet_frame(f"{sf_dir}/{table_name}.parquet")
    if mode == "augmented":
        toks = src["text"].str.split(" ")
        multi = toks.str.len() >= 2
        copies = src[multi].assign(
            doc_id=src.loc[multi, "doc_id"] + 1000000,
            text=toks[multi].str[:-1].str.join(" "),
        )
        src = pd.concat([src, copies])
    got = pd.concat(chunks)[list(src.columns)]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True),
        src.sort_values(key).reset_index(drop=True),
        check_dtype=False,
    )


def _key_stream(spark, tmp_path):
    """A 2-micro-batch stream of a few ``k`` values, one repeated across
    the batches."""
    d = str(tmp_path / "keys")
    pdf = pd.DataFrame({"k": [1, 2, 2, 3], "_b": [0, 0, 1, 1]})
    runner._write_chunks(spark.createDataFrame(pdf, "k long, _b int"), d, 2, "k")
    return runner._read_chunks(spark, "k long", d)


def _drain(batch_df, epoch_id) -> None:
    """A foreachBatch function that runs every partition of the batch."""
    batch_df.write.format("noop").mode("overwrite").save()


def _state_partitions(spark, run):
    """``run()``'s streams as {run id: numShufflePartitions of the first
    state operator, one per micro-batch}, read by a query listener."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StateParts(StreamingQueryListener):
        def __init__(self) -> None:
            self.parts: dict[str, list[int]] = {}

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.parts.setdefault(str(p.runId), []).append(
                p.stateOperators[0].numShufflePartitions
            )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    listener = StateParts()
    spark.streams.addListener(listener)
    try:
        run()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    return listener.parts


@pytest.mark.parametrize("slots", [None, 2, 32])
def test_state_partitions_are_one_wave(spark, tmp_path, monkeypatch, slots):
    # A memory-sink stream and a foreachBatch stream each run their
    # stateful stage as one wave of the session's task slots, at most
    # STATE_PARTITIONS; the session's own shuffle partitions come back
    # once the streams are done. Slot counts below and above the cap
    # are what the session reports when monkeypatched, so no thread is
    # started for them.
    if slots is not None:
        monkeypatch.setattr(session, "_parallelism", lambda spark: slots)
    want = min(8, slots or spark.sparkContext.defaultParallelism)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    src = _key_stream(spark, tmp_path)

    def run():
        run_to_table(src.groupBy("k").count(), "update")
        run_foreach_batch(src.dropDuplicates(["k"]), _drain)

    parts = _state_partitions(spark, run)
    assert list(parts.values()) == [[want, want], [want, want]], parts
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def _process_starts(spark, run, out: str) -> list[str]:
    """The command line of every OS process the driver JVM starts while
    ``run()`` runs, recorded as ``jdk.ProcessStart`` events by a JDK
    Flight Recorder recording in that JVM (local mode: the executors
    are the same JVM) and dumped to the file ``out``."""
    jvm = spark.sparkContext._jvm
    rec = jvm.jdk.jfr.Recording()
    try:
        rec.enable("jdk.ProcessStart")
        rec.start()
        try:
            run()
        finally:
            rec.stop()
        path = jvm.java.io.File(out).toPath()
        rec.dump(path)
        events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(path)
        return [str(e.getString("command")) for e in events]
    finally:
        rec.close()


def test_run_loop_checkpoint_forks_no_readlink(spark, tmp_path):
    # The run loop's checkpoint is a local directory. Spark's default
    # FileContext checkpoint manager looks up the link status of every
    # file it renames, and without Hadoop's native library each lookup
    # forks a `readlink` process; the FileSystem manager the run loop
    # pins renames without one. The session's own setting comes back
    # once the streams are done.
    before = spark.conf.get(runner.CHECKPOINT_MANAGER_CONF, None)
    src = _key_stream(spark, tmp_path)

    def run():
        run_to_table(src.groupBy("k").count(), "update")
        run_foreach_batch(src.dropDuplicates(["k"]), _drain)

    commands = _process_starts(spark, run, str(tmp_path / "procs.jfr"))
    readlinks = [c for c in commands if c.split(" ", 1)[0].endswith("readlink")]
    assert readlinks == [], f"{len(readlinks)} of {len(commands)} processes: {readlinks[:3]}"
    assert spark.conf.get(runner.CHECKPOINT_MANAGER_CONF, None) == before
