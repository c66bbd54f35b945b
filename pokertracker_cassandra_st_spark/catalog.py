"""Table loader for the driver testdata layout (one parquet per table).

The reference's "catalog" is a single Cassandra keyspace with one table
(``/root/reference/src/test/resources/initial_db.sql:1-12``); here the
catalog is the set of parquet tables the driver materializes
(TESTDATA.md). Loading is lazy — ``spark.read.parquet`` only binds the
schema; Catalyst prunes columns and pushes predicates into the scan, so
each query's plan reads only what it needs (checked in tests/test_plans).

Scale notes: at 100 TB each logical table would be a directory of many
parquet files (possibly partitioned by date/bucket); ``spark.read
.parquet(path)`` handles both layouts identically, and partition-column
pruning comes for free when the layout is hive-partitioned.
"""

from __future__ import annotations

import os
from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimensions that should always be broadcast when joined against a
# fact table. region/nation are bounded (25/5 rows at any scale factor);
# supplier/part grow with sf but stay well under the broadcast threshold
# at test scale — join code uses F.broadcast() explicitly only for the
# truly bounded dims and lets AQE decide for the sf-scaled ones.
BOUNDED_DIMS = frozenset({"region", "nation"})


def events_ts_unit(sf_dir: str) -> str:
    """Physical parquet type of ``events.ts`` for this sf directory.

    The driver has shipped two layouts across rounds: TIMESTAMP(NANOS)
    (which Spark's vectorized reader rejects without the legacy
    nanos-as-long conf — pyarrow reports it as ``timestamp[ns]``, and
    test fixtures write the equivalent raw ``int64`` nanos directly)
    and plain TIMESTAMP(MICROS). Probe the footer once per directory
    (driver-side, metadata-only) so both load identically. Returns
    ``"ns"`` (int64-nanos path) or ``"us"`` (native timestamp path).
    """
    return "ns" if ("ns" in _events_ts_type(sf_dir) or _events_ts_type(sf_dir) == "int64") else "us"


def events_ts_tz_adjusted(sf_dir: str) -> bool:
    """True if ``events.ts`` shipped as tz-adjusted parquet TIMESTAMP
    (isAdjustedToUTC=true; pyarrow renders it ``timestamp[us, tz=UTC]``)
    rather than the NTZ layout. Streaming's user-supplied source schema
    must pick ``timestamp`` vs ``timestamp_ntz`` accordingly or a future
    driver regeneration would fail the stream or shift instants."""
    return "tz=" in _events_ts_type(sf_dir)


def _events_ts_type(sf_dir: str) -> str:
    """Raw pyarrow type string of events.ts, cached per (path, mtime,
    size) — the driver is documented to REGENERATE testdata mid-round,
    so a path-only cache could keep serving a stale unit to a long-lived
    process. The footer probe is metadata-only; re-probing after a
    regeneration costs microseconds."""
    import os

    st = os.stat(f"{sf_dir}/events.parquet")
    key = (sf_dir, st.st_mtime_ns, st.st_size)
    if key not in _TS_TYPE_CACHE:
        import pyarrow.parquet as pq

        _TS_TYPE_CACHE[key] = str(
            pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type
        )
    return _TS_TYPE_CACHE[key]


_TS_TYPE_CACHE: dict[tuple[str, int, int], str] = {}


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Rebuild ``ts`` as a session-UTC TimestampType column whatever the
    on-disk representation was: int64 nanos (legacy conf) -> integer-
    divide to µs (lossless — the generator emits µs-precision values);
    TIMESTAMP_NTZ µs -> instant-preserving cast under the engine's fixed
    UTC session timezone (session.py). Either way the cast stays inside
    the scan's project — no extra pass over the data — and downstream
    operators always see the same µs TimestampType DuckDB uses.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table from an sf directory (events.ts normalized, see
    ``normalize_events_ts``)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    if name == "events":
        if events_ts_unit(sf_dir) == "ns":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_events_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def tables(spark: SparkSession, sf_dir: str, *names: str) -> SimpleNamespace:
    """Load several tables at once: ``t = tables(spark, d, 'orders', ...)``."""
    return SimpleNamespace(**{n: table(spark, sf_dir, n) for n in (names or TABLES)})


# The checkout's state root: sink, roundtrip and split directories, the
# streaming checkpoints and the shipped package zip. Derived from this
# file's location, so each checkout writes only into its own tree.
SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")


def scratch_dir(sf_dir: str, name: str) -> str:
    """Per-scale scratch path: ``<SCRATCH>/<name>_<sf-tag>``.

    Sink/roundtrip queries write real directories; keying them by the
    sf directory's basename isolates concurrent runs at different
    scales (the 10x sweep vs a sf0.01 differential racing on ONE
    ``sink_compaction_frag`` produced flaky cross-run overwrites) and
    mirrors what rollup_hourly already did. Overwrite mode still
    reclaims each scale's own directory run-to-run.
    """
    tag = os.path.basename(sf_dir.rstrip("/")) or "default"
    return f"{SCRATCH}/{name}_{tag}"
