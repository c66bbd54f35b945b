"""The read model: the latest event per user, tombstones hidden.

The reference's query service IS a maintained materialized view: the
projection is updated per event from the stream and must always equal
a full replay of the log (the read-your-writes invariant its system
test asserts, ``PlayerResourceIT.java:126-171``). This module is the
one owner of that rule:

  * ``fold`` — latest event per key, tombstones kept. A plain
    ``max``/``max_by`` aggregate, so it runs unchanged on a streaming
    DataFrame;
  * ``latest`` — re-reduce folded rows (an MV plus a folded delta, or an
    update-mode sink's one row per key per micro-batch) to one per key;
  * ``read_model`` — hide tombstoned keys;
  * ``READ_MODEL_ORACLE`` — the same rule as DuckDB SQL.

``full_refresh`` recomputes the MV from the whole log;
``incremental_update`` merges a new event slice into it without
rescanning the history, ``latest(MV + fold(delta))``. The invariant
``incremental(full(log_a), log_b) == full(log_a + log_b)`` is
property-tested in tests/test_mv.py.

Scale notes: the delta fold touches only new events; the merge shuffles
(n_keys_in_mv + n_keys_in_delta) projection rows — independent of log
length. On a lakehouse table format this becomes MERGE INTO; here the
rewrite is a partitioned parquet overwrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pokertracker_cassandra_st_spark.operators.replay import TOMBSTONE

# DuckDB's max_by skips NULL values while Spark's returns the latest
# row's value even when it is NULL; the ordered list mirrors Spark.
READ_MODEL_ORACLE = f"""
SELECT user_id,
       max(event_id) AS last_event_id,
       max_by(event_type, event_id) AS last_event_type,
       (list(value ORDER BY event_id DESC))[1] AS last_value
FROM events
GROUP BY user_id
HAVING max_by(event_type, event_id) <> '{TOMBSTONE}'
"""


def fold(events: DataFrame) -> DataFrame:
    """Latest event per key, tombstones KEPT (they must shadow older
    live rows during a merge; dropped only at read time)."""
    return events.groupBy("user_id").agg(
        F.max("event_id").alias("last_event_id"),
        F.max_by("event_type", "event_id").alias("last_event_type"),
        F.max_by("value", "event_id").alias("last_value"),
    )


def latest(folded: DataFrame) -> DataFrame:
    """Several folded rows per key -> the one with the highest
    last_event_id."""
    return folded.groupBy("user_id").agg(
        F.max("last_event_id").alias("last_event_id"),
        F.max_by("last_event_type", "last_event_id").alias("last_event_type"),
        F.max_by("last_value", "last_event_id").alias("last_value"),
    )


def read_model(mv: DataFrame) -> DataFrame:
    """The queryable view: tombstoned keys hidden (Tier A7)."""
    return mv.filter(F.col("last_event_type") != TOMBSTONE)


def full_refresh(events: DataFrame, path: str) -> None:
    fold(events).write.mode("overwrite").parquet(path)


def incremental_update(spark: SparkSession, path: str, delta_events: DataFrame) -> None:
    merged = latest(spark.read.parquet(path).unionByName(fold(delta_events)))
    # parquet can't overwrite the path it is being read from: write the
    # merge beside it, then swap directories (a lakehouse table format
    # does this transactionally via MERGE INTO)
    import os
    import shutil

    tmp = path.rstrip("/") + ".staging"
    merged.write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + ".old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
