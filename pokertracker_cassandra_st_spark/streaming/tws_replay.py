"""Replay fold on transformWithStateInPandas — Spark 4's typed
stateful-processing API (the successor to applyInPandasWithState).

Same semantics as plans/mv's fold (which q_stream_replay runs as a
JVM streaming aggregate), expressed as a Python StatefulProcessor with
an explicit ValueState handle: the reference for this API. What the
new API buys at scale: typed state handles (value/list/map) instead of one
opaque tuple, per-state TTL, timers, and first-class RocksDB state
store integration — the pieces needed to run per-key state over
billions of keys with bounded memory.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pokertracker_cassandra_st_spark.plans.mv import READ_MODEL_ORACLE, latest, read_model
from pokertracker_cassandra_st_spark.registry import register
from pokertracker_cassandra_st_spark.streaming.runner import run_to_table, stream_events

_STATE_SCHEMA = StructType(
    [
        StructField("last_event_id", LongType(), True),
        StructField("last_event_type", StringType(), True),
        StructField("last_value", DoubleType(), True),
    ]
)

_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), True),
        StructField("last_event_id", LongType(), True),
        StructField("last_event_type", StringType(), True),
        StructField("last_value", DoubleType(), True),
    ]
)


class ReplayProcessor(StatefulProcessor):
    """Keep the event with the highest event_id per key (Tier A13)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.latest = handle.getValueState("latest", _STATE_SCHEMA)

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if self.latest.exists():
            best_id, best_type, best_value = self.latest.get()
        else:
            best_id, best_type, best_value = -1, "", None
        for pdf in rows:
            if len(pdf) == 0:
                continue
            idx = pdf["event_id"].idxmax()
            if int(pdf["event_id"][idx]) > best_id:
                best_id = int(pdf["event_id"][idx])
                best_type = str(pdf["event_type"][idx])
                v = pdf["value"][idx]
                best_value = None if pd.isna(v) else float(v)
        self.latest.update((best_id, best_type, best_value))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "last_event_id": [best_id],
                "last_event_type": [best_type],
                "last_value": [best_value],
            }
        )

    def close(self) -> None:
        pass


def _tws_available() -> bool:
    """transformWithState's driver worker needs the protobuf python
    package, so the query registers only where ``google.protobuf``
    imports. Without it, the ordered folds (runner.fold_by_user, on
    ``applyInPandasWithState``) are the registered arbitrary-stateful-
    streaming queries; with it, this registers itself with no code
    change, checked by the same batch-fold oracle as q_stream_replay.
    """
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def q_stream_replay_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The replay fold on the transformWithStateInPandas API (RocksDB
    state store, 4 micro-batches); oracle = batch recomputation —
    identical to q_stream_replay's, proving the two stateful APIs
    implement the same semantics."""
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        ev = stream_events(spark, sf_dir, n_files=4)
        folded = ev.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=ReplayProcessor(),
            outputStructType=_OUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
        sink = run_to_table(folded, "update")
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    return read_model(latest(sink))


if _tws_available():  # pragma: no cover - environment dependent
    register(
        "q_stream_replay_tws",
        oracle=READ_MODEL_ORACLE,
        tags=("stream", "tier-a"),
    )(q_stream_replay_tws)
