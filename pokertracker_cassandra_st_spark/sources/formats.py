"""File-format sources/sinks: parquet (default), CSV, JSON, ORC.

Each round-trip query writes a projection in the format, reads it back
with an EXPLICIT schema (never inferSchema in production — it double-
scans the data), and aggregates — oracle-checked against the original
parquet, so the format path proves lossless for the covered types.

Scale notes: all four formats stream executor->sink with no driver
involvement; parquet/ORC keep columnar pushdown, CSV/JSON lose it
(documented here as the reason they are interchange formats, not
analytical storage). Writes are partitioned by a natural query key so
downstream readers get partition pruning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pokertracker_cassandra_st_spark.catalog import scratch_dir, table
from pokertracker_cassandra_st_spark.exprs import dsum, o_dsum
from pokertracker_cassandra_st_spark.registry import register

_AGG_ORACLE = f"""
SELECT o_orderstatus,
       count(*) AS n,
       {o_dsum('o_totalprice')} AS total,
       max(o_orderkey) AS max_key
FROM orders
GROUP BY o_orderstatus
"""

_PROJ_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
_READ_SCHEMA = "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double"


def _roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    # fixed per-format dir: overwrite mode reclaims it every run
    out = scratch_dir(sf_dir, f"roundtrip_{fmt}")
    src = table(spark, sf_dir, "orders").select(*_PROJ_COLS)
    writer = src.write.mode("overwrite")
    if fmt == "csv":
        writer.option("header", True).csv(out)
        back = spark.read.schema(_READ_SCHEMA).option("header", True).csv(out)
    elif fmt == "json":
        writer.json(out)
        back = spark.read.schema(_READ_SCHEMA).json(out)
    elif fmt == "orc":
        writer.orc(out)
        back = spark.read.schema(_READ_SCHEMA).orc(out)
    else:
        raise ValueError(fmt)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        dsum("o_totalprice").alias("total"),
        F.max("o_orderkey").alias("max_key"),
    )


@register("q_source_csv_roundtrip", oracle=_AGG_ORACLE, tags=("source",))
def q_source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + explicit-schema source; aggregate must equal the
    original parquet's (lossless for long/string/double)."""
    return _roundtrip(spark, sf_dir, "csv")


@register("q_source_json_roundtrip", oracle=_AGG_ORACLE, tags=("source",))
def q_source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + explicit-schema source round-trip."""
    return _roundtrip(spark, sf_dir, "json")


@register("q_source_orc_roundtrip", oracle=_AGG_ORACLE, tags=("source",))
def q_source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source round-trip (columnar alternative to parquet)."""
    return _roundtrip(spark, sf_dir, "orc")


@register(
    "q_source_python_ds",
    oracle="""
SELECT CAST(100 AS BIGINT)  AS n_players,
       CAST(1000 AS BIGINT) AS n_events,
       CAST(0 AS BIGINT)    AS min_version,
       CAST(9 AS BIGINT)    AS max_version,
       CAST(100 AS BIGINT)  AS n_created,
       CAST(TRUE AS BOOLEAN) AS versions_dense
""",
    tags=("source",),
)
def q_source_python_ds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4 API) as a first-class query:
    read the seeded synthetic event log (sources/event_gen.py — the
    reference's EVENTS envelope, initial_db.sql:5-12) and verify its
    structural invariants. The generator's payload content is
    RNG-driven, but the envelope structure is fully determined by the
    options, so the oracle is the literal expected structure: 100
    players x 10 versions, versions dense 0..9, exactly one
    PlayerCreated per player.

    Scale notes: generation is partition-parallel with per-partition
    seeded RNGs — no input I/O; on a cluster the same source soak-tests
    the replay fold at billions of events."""
    from pokertracker_cassandra_st_spark.sources.event_gen import register_event_log

    register_event_log(spark)
    df = (
        spark.read.format("player_event_log")
        .option("numPlayers", 100)
        .option("eventsPerPlayer", 10)
        .option("partitions", 8)
        .load()
    )
    return df.agg(
        F.countDistinct("ID").alias("n_players"),
        F.count("*").alias("n_events"),
        F.min("VERSION").alias("min_version"),
        F.max("VERSION").alias("max_version"),
        F.count(F.when(F.col("NAME") == "PlayerCreated", 1)).alias("n_created"),
        (
            F.countDistinct(F.struct("ID", "VERSION"))
            == F.countDistinct("ID") * (F.max("VERSION") + 1)
        ).alias("versions_dense"),
    )


@register(
    "q_source_schema_evolution",
    oracle="""
WITH unified AS (
  SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 1
  UNION ALL
  SELECT o_orderkey, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 0
)
SELECT coalesce(o_orderpriority, '<pre-evolution>') AS priority,
       count(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
       max(o_orderkey) AS max_key
FROM unified
GROUP BY 1
""",
    tags=("source",),
)
def q_source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet batches: an early batch written
    WITHOUT o_orderpriority and a later batch WITH it are read as one
    table via mergeSchema — the union schema resolves by column NAME
    and old rows surface NULL for the added column (bucketed here as
    '<pre-evolution>'), exactly the additive-column evolution a
    long-lived event log accumulates.

    Scale notes: mergeSchema's footer reconciliation is an O(n_files)
    metadata pass (driver-side, no data read) — at 100 TB you pin the
    merged schema explicitly via .schema(...) once known, which this
    read path equally supports; per-row cost is zero either way since
    parquet resolves columns by name. Batch dirs stay independently
    written — no rewrite of old data to evolve.
    """
    out = scratch_dir(sf_dir, "schema_evo")
    o = table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    o.filter(key % 2 == 1).select("o_orderkey", "o_totalprice").write.mode(
        "overwrite"
    ).parquet(f"{out}/batch=1")
    o.filter(key % 2 == 0).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).write.mode("overwrite").parquet(f"{out}/batch=2")
    back = (
        spark.read.option("mergeSchema", True)
        .option("basePath", out)
        .parquet(f"{out}/batch=1", f"{out}/batch=2")
    )
    return back.groupBy(
        F.coalesce("o_orderpriority", F.lit("<pre-evolution>")).alias("priority")
    ).agg(
        F.count("*").alias("n_rows"),
        dsum("o_totalprice").alias("sum_price"),
        F.max("o_orderkey").alias("max_key"),
    )


@register("q_source_xml_roundtrip", oracle=_AGG_ORACLE, tags=("source",))
def q_source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + explicit-schema source round-trip (Spark 4's native
    XML data source — spark-xml merged into core): the same orders
    projection and lossless-aggregate contract as the CSV/JSON/ORC
    round-trips, proving the fourth interchange format.

    Scale notes: XML is the costliest text format here (tag overhead,
    event-driven parse, no pushdown) — like CSV/JSON it is an
    interchange tier, never analytical storage; the writer still
    streams executor->sink with no driver involvement, and the
    explicit read schema avoids the double-scan of schema inference.
    """
    out = scratch_dir(sf_dir, "roundtrip_xml")
    src = table(spark, sf_dir, "orders").select(*_PROJ_COLS)
    src.write.mode("overwrite").format("xml").option("rowTag", "order").save(out)
    back = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema(_READ_SCHEMA)
        .load(out)
    )
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        dsum("o_totalprice").alias("total"),
        F.max("o_orderkey").alias("max_key"),
    )


_LOG_ORACLE = """
SELECT event_type,
       count(*) AS n,
       count(value) AS n_valued,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
       max(event_id) AS max_id
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("q_source_text_log", oracle=_LOG_ORACLE, tags=("source",))
def q_source_text_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unstructured-text log source: events are serialized as log LINES
    (``id=<n> type=<t> value=<v-or-dash>``), written with the text
    sink, read back with ``spark.read.text``, and re-typed with regex
    pulls — the ingest path for the application/server logs a lake
    lands before any schema exists. NULL values round-trip through an
    explicit ``-`` marker and ``nullif``.

    Scale notes: text-line parsing is regex-per-row but stays entirely
    in codegen (no UDF); like CSV/JSON there is no pushdown, which is
    the documented reason logs get rewritten to parquet at ingest. The
    2-decimal value survives exactly: it is formatted as DECIMAL(18,2)
    text on write and summed as DECIMAL after re-cast, so the
    aggregate matches the parquet original bit-for-bit.
    """
    out = scratch_dir(sf_dir, "text_log")
    ev = table(spark, sf_dir, "events")
    line = F.concat(
        F.lit("id="),
        F.col("event_id").cast("string"),
        F.lit(" type="),
        F.col("event_type"),
        F.lit(" value="),
        F.coalesce(
            F.col("value").cast("decimal(18,2)").cast("string"), F.lit("-")
        ),
    )
    ev.select(line.alias("value")).write.mode("overwrite").text(out)
    raw = spark.read.text(out)
    parsed = raw.select(
        F.regexp_extract("value", r"id=(-?\d+) ", 1).cast("long").alias(
            "event_id"
        ),
        F.regexp_extract("value", r"type=(\S+) ", 1).alias("event_type"),
        F.nullif(
            F.regexp_extract("value", r"value=(\S+)$", 1), F.lit("-")
        ).alias("v_txt"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count("v_txt").alias("n_valued"),
            F.sum(F.col("v_txt").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
            F.max("event_id").alias("max_id"),
        )
        .orderBy("event_type")
    )


_BLOB_ORACLE = """
SELECT 'blob_' || CAST(doc_id AS VARCHAR) || '.bin' AS file_name,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       sha256(text) AS content_sha
FROM documents
WHERE doc_id < 40 AND octet_length(encode(text)) > 0
"""


@register("q_source_binaryfile", oracle=_BLOB_ORACLE, tags=("source", "multimodal"))
def q_source_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary-file source (``spark.read.format("binaryFile")``):
    a directory of raw .bin payloads — the layout image/audio corpora
    actually arrive in before any table exists — read as (path,
    length, content) rows and reduced to name + size + content hash.
    The oracle recomputes all three from the SOURCE rows, so the test
    proves the byte round-trip is lossless (the same contract as the
    CSV/JSON/ORC/XML round-trips, for the fifth and rawest format).

    Pinned Spark behavior: the binaryFile source SKIPS zero-byte files
    (its file index drops them before any task runs), so the contract
    — and the oracle — covers non-empty payloads only; an ingest that
    must notice empty blobs lists the directory itself. Scale notes:
    binaryFile parallelizes by file and prunes on the
    metadata columns (path/length filters never read content); at
    100 TB the pattern is exactly q_multimodal_meta's — land blobs,
    extract typed metadata once, rewrite to parquet with the payload
    as a binary column so column pruning keeps bytes on disk. Small
    files are the known hazard (driver-side file listing, task
    per file) — the documented fix is the compaction pass
    (q_sink_compaction) at ingest. The fixture write is a driver-side
    loop over 40 tiny files — it BUILDS the external-world input, it
    is not part of the measured query plan.
    """
    out = scratch_dir(sf_dir, "binary_blob")
    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 40)
        .select("doc_id", "text")
        .collect()
    )
    os.makedirs(out, exist_ok=True)
    for r in docs:
        with open(f"{out}/blob_{r['doc_id']}.bin", "wb") as fh:
            fh.write(r["text"].encode("utf-8"))
    raw = spark.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(out)
    return raw.select(
        F.regexp_extract("path", r"([^/]+)$", 1).alias("file_name"),
        F.col("length").alias("byte_len"),
        F.sha2("content", 256).alias("content_sha"),
    )


_CSV_MALFORMED_ORACLE = f"""
SELECT count(*) AS n_rows,
       count(CASE WHEN o_orderkey % 7 = 0 THEN 1 END) AS n_corrupt,
       count(CASE WHEN o_orderkey % 7 <> 0 THEN 1 END) AS n_clean,
       {o_dsum('CASE WHEN o_orderkey % 7 <> 0 THEN o_totalprice END')}
         AS total_clean,
       max(CASE WHEN o_orderkey % 7 <> 0 THEN o_orderkey END)
         AS max_clean_key
FROM orders
"""


@register("q_source_csv_malformed", oracle=_CSV_MALFORMED_ORACLE, tags=("source",))
def q_source_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode CSV ingest of a feed with malformed rows — the
    real-world interchange case the clean round-trips skip: every 7th
    order line carries a non-numeric price field ('N/A'), and the read
    must keep the well-formed rows, null the unparseable field, and
    let downstream audit-count the damage rather than abort (FAILFAST)
    or silently drop rows (DROPMALFORMED — the wrong default for a
    lineage-tracked pipeline).

    The corrupt classification is read from the nulled typed field
    (the source has no NULL prices, so price IS NULL <=> the cast
    failed). That is deliberate: filtering on the raw
    columnNameOfCorruptRecord column requires caching the frame in
    Spark (the documented internal-column restriction) — the typed-
    field audit gives the same counts with a plain streaming read. The
    oracle recomputes all metrics from the original parquet and the
    known corruption rule, so the ingest proves it loses exactly the
    corrupted field and nothing else.

    Scale notes: the fixture write is line-templated from the orders
    projection (executor-parallel text sink, builds the external-world
    input, not part of the measured read); the measured path is a
    schema'd CSV scan + one aggregate — no shuffle beyond the 1-row
    partial merge. CSV keeps no pushdown (the round-trip docstring's
    interchange-not-storage point) — at 100 TB this query IS the
    quarantine step that moves a feed into parquet.
    """
    out = scratch_dir(sf_dir, "csv_malformed")
    src = table(spark, sf_dir, "orders").select(*_PROJ_COLS)
    price_s = F.col("o_totalprice").cast("decimal(12,2)").cast("string")
    line = F.concat_ws(
        ",",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("N/A")).otherwise(price_s),
    )
    src.select(line.alias("value")).write.mode("overwrite").text(out)

    back = (
        spark.read.schema(_READ_SCHEMA)
        .option("mode", "PERMISSIVE")
        .csv(out)
    )
    clean_price = F.when(
        F.col("o_totalprice").isNotNull(), F.col("o_totalprice")
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("o_totalprice").isNull(), 1)).alias("n_corrupt"),
        F.count("o_totalprice").alias("n_clean"),
        dsum(clean_price).alias("total_clean"),
        F.max(
            F.when(F.col("o_totalprice").isNotNull(), F.col("o_orderkey"))
        ).alias("max_clean_key"),
    )


# ---- q_source_jsonl_nested ------------------------------------------------ #
# Nested JSONL round-trip — the shape API exports and event buses
# actually deliver: each record carries a nested struct and an array.
# The flat _roundtrip covers scalar columns; this one proves the
# nested-schema path: write struct<> + array<> as JSON lines, re-read
# with an EXPLICIT nested schema (never inferSchema — one corrupt line
# would silently stringify a column at scale), dot-project through the
# struct and explode the array, and audit the flattened result against
# the source-derived oracle.


@register(
    "q_source_jsonl_nested",
    oracle="""
WITH flat AS (
  SELECT 'seg_' || CAST(user_id % 5 AS VARCHAR) AS segment,
         event_type AS tag, value
  FROM events
  UNION ALL
  SELECT 'seg_' || CAST(user_id % 5 AS VARCHAR) AS segment,
         'vband_' || CAST(CAST(floor(value / 100) AS BIGINT) AS VARCHAR) AS tag,
         value
  FROM events WHERE value IS NOT NULL
)
SELECT segment, tag,
       count(*) AS n,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_q2
FROM flat
GROUP BY segment, tag
""",
    tags=("source",),
)
def q_source_jsonl_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested JSONL sink + explicit-nested-schema source: events export
    as {event_id, user: {id, segment}, tags: [...], value}, re-ingest
    with a declared struct/array schema, then flatten (user.segment
    dot-path + tags explode) into a (segment, tag) audit aggregate
    that must equal the same rollup computed straight from the source
    table — the invariant that proves no field was lost, coerced, or
    reordered through the JSON encode/decode.

    Scale notes: JSON write/read parallelize per file split like any
    text source; the explicit schema keeps the reader a single
    projection-pushdown pass (inferSchema would scan twice and gamble
    on types). The explode doubles rows BEFORE the partial aggregate —
    map-side combine still bounds the shuffle by (segment x tag)
    cardinality. At 100 TB the only change is file count.
    """
    out = scratch_dir(sf_dir, "roundtrip_jsonl_nested")
    ev = table(spark, sf_dir, "events")
    tags = F.array_compact(
        F.array(
            F.col("event_type"),
            F.when(
                F.col("value").isNotNull(),
                F.concat(
                    F.lit("vband_"),
                    F.floor(F.col("value") / 100).cast("long").cast("string"),
                ),
            ),
        )
    )
    nested = ev.select(
        "event_id",
        F.struct(
            F.col("user_id").alias("id"),
            F.concat(F.lit("seg_"), (F.col("user_id") % 5).cast("string")).alias(
                "segment"
            ),
        ).alias("user"),
        tags.alias("tags"),
        "value",
    )
    nested.write.mode("overwrite").json(out)
    back = spark.read.schema(
        "event_id long, user struct<id:long,segment:string>, "
        "tags array<string>, value double"
    ).json(out)
    from pokertracker_cassandra_st_spark.exprs import slong

    return (
        back.select(
            F.col("user.segment").alias("segment"),
            F.explode("tags").alias("tag"),
            "value",
        )
        .groupBy("segment", "tag")
        .agg(
            F.count("*").alias("n"),
            F.sum(slong("value", 2)).alias("sum_value_q2"),
        )
    )
