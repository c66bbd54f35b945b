"""Player store: the reference's full API surface on the Spark engine.

A user of ``robertBrem/pokertracker-cassandra-st`` interacts with two
services (``PlayerResourceIT.java:52-56``):
  * command side: POST/PUT/DELETE ``/players`` — appends domain events
    to the Cassandra ``EVENTS`` log and publishes them (IT:123-127,
    148-153, 174-188; DDL ``initial_db.sql:5-12``);
  * query side: GET ``/players/{id}`` / GET ``/players`` — reads the
    projection materialized from the event stream (IT:131-139,164-171).

This class is that surface minus HTTP/OAuth (non-goals, SURVEY §7.1):
an append-only parquet event log with the reference's exact envelope
(ID, NAME, VERSION, DATE, DATA) and a read model computed by the same
last-write-wins/tombstone fold the query service performs.

Scale notes: the log is append-only parquet (object-store friendly;
each command is one small file — at scale a compaction job or a real
Kafka+sink pairing replaces per-command files, with the same schema).
Each command is one Spark write plan: the event row is an aggregate
over the log (next id, or next version of the id) projected with the
literal envelope fields and appended in the same job, so no value
makes a driver round trip; ``create`` reads the id it assigned back
through an ``Observation`` on the written frame. Like the reference's
command service, a log has a single writer: two concurrent commands
could read the same max and append the same id or version.
The projection is the WindowGroupLimit fold from operators/replay.py —
one shuffle on the aggregate id regardless of log size. Point lookups
filter on the partition key column (ID), mirroring Cassandra's
partition-key routing (SURVEY §4).
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, Row, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The reference's event envelope, initial_db.sql:5-12.
ENVELOPE = T.StructType(
    [
        T.StructField("ID", T.LongType(), False),
        T.StructField("NAME", T.StringType(), False),
        T.StructField("VERSION", T.LongType(), False),
        T.StructField("DATE", T.TimestampType(), False),
        T.StructField("DATA", T.StringType(), True),
    ]
)

CREATED, UPDATED, DELETED = "PlayerCreated", "PlayerUpdated", "PlayerDeleted"
_PAYLOAD_SCHEMA = "struct<firstName:string,lastName:string>"


class PlayerStore:
    """Event-sourced CRUD store with the reference's semantics."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.path = os.path.join(base_dir, "player_events")
        os.makedirs(base_dir, exist_ok=True)

    # ---- event log (command side) -----------------------------------

    def _log(self) -> DataFrame:
        if not os.path.exists(self.path):
            # An empty relation planned in the JVM: no Python RDD, no worker.
            return self.spark.range(0).select(
                *(F.lit(None).cast(f.dataType).alias(f.name) for f in ENVELOPE)
            )
        return self.spark.read.schema(ENVELOPE).parquet(self.path)

    def _append(self, event: DataFrame, name: str, payload: dict | None) -> None:
        """Write the one-row ``event`` frame (its ``ID`` and ``VERSION``
        aggregated from the log) as one envelope row: a single write plan,
        no driver round trip. The casts pin the envelope's types: a bare
        ``lit(None)`` is a void column, a bare ``lit(0)`` an int."""
        event.select(
            F.col("ID").cast(T.LongType()).alias("ID"),
            F.lit(name).alias("NAME"),
            F.col("VERSION").cast(T.LongType()).alias("VERSION"),
            F.lit(datetime.now(timezone.utc).replace(tzinfo=None)).alias("DATE"),
            F.lit(json.dumps(payload) if payload is not None else None)
            .cast(T.StringType())
            .alias("DATA"),
        ).write.mode("append").parquet(self.path)

    def create(self, first_name: str, last_name: str) -> int:
        """POST /players: server-assigned monotonic id (Tier A12 —
        Location header at IT:127), first event version 0. The id comes
        back through an Observation on the written frame, so it is the
        one the write job assigned."""
        assigned = Observation()
        event = (
            self._log()
            .agg(F.coalesce(F.max("ID") + 1, F.lit(1)).alias("ID"))
            .withColumn("VERSION", F.lit(0))
            .observe(assigned, F.max("ID").alias("ID"))
        )
        self._append(event, CREATED, {"firstName": first_name, "lastName": last_name})
        return int(assigned.get["ID"])

    def _next_version(self, pid: int) -> DataFrame:
        """One row: ``pid`` and its next version (0 on an absent id)."""
        return (
            self._log()
            .filter(F.col("ID") == pid)
            .agg(F.coalesce(F.max("VERSION") + 1, F.lit(0)).alias("VERSION"))
            .withColumn("ID", F.lit(pid))
        )

    def update(self, pid: int, first_name: str, last_name: str) -> None:
        """PUT /players/{id}: last-write-wins upsert (IT:148-161)."""
        self._append(
            self._next_version(pid), UPDATED,
            {"firstName": first_name, "lastName": last_name},
        )

    def delete(self, pid: int) -> None:
        """DELETE /players/{id}: idempotent tombstone (IT:174-188 —
        deleting absent id -42 succeeds with 204)."""
        self._append(self._next_version(pid), DELETED, None)

    # ---- projection (query side) ------------------------------------

    def projection(self) -> DataFrame:
        """The read model {id, firstName, lastName} (IT:136-138):
        latest event per aggregate by VERSION, tombstones dropped."""
        log = self._log()
        w = Window.partitionBy("ID").orderBy(F.col("VERSION").desc())
        parsed = F.from_json("DATA", _PAYLOAD_SCHEMA)
        return (
            log.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & (F.col("NAME") != DELETED))
            .select(
                F.col("ID").alias("id"),
                parsed.getField("firstName").alias("firstName"),
                parsed.getField("lastName").alias("lastName"),
            )
        )

    def get(self, pid: int) -> Row | None:
        """GET /players/{id} (IT:131-139): point lookup by key."""
        rows = self.projection().filter(F.col("id") == pid).collect()
        return rows[0] if rows else None

    def find_all(self) -> list[Row]:
        """GET /players (IT:164-171): full projection scan."""
        return self.projection().collect()
