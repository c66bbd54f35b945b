"""End-to-end corpus curation: the composed LLM-data-pipeline.

One declarative DAG chaining the individual operators this package
provides — quality gate -> near-exact dedup (normalization fingerprint,
keep lowest doc_id) -> deterministic split assignment -> per-(split,
lang) corpus statistics. This is the actual shape of a pre-training
data build, and because every stage is relational it is one Catalyst
plan end to end: the optimizer fuses the gate into the scan, the dedup
is one hash shuffle, the split is a pure projection, the stats a
partial+final aggregate.

Scale notes: no stage materializes an intermediate; at 100 TB the only
shuffles are the dedup groupBy (32-byte keys) and the final tiny
aggregate. Compare with an imperative pipeline that writes each stage
out — this plan reads the corpus exactly once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pokertracker_cassandra_st_spark.catalog import table
from pokertracker_cassandra_st_spark.exprs import AUG_OFFSET, o_md5_16bit
from pokertracker_cassandra_st_spark.registry import register
from pokertracker_cassandra_st_spark.llm.curation import contamination_hits
from pokertracker_cassandra_st_spark.llm.dedup import _AUG_ORACLE as _GATE_AUG
from pokertracker_cassandra_st_spark.llm.dedup import augmented_corpus
from pokertracker_cassandra_st_spark.llm.text import STOPWORDS

_SW_SQL = "['" + "','".join(STOPWORDS) + "']"

_ORACLE = f"""
WITH gated AS (
  SELECT doc_id, lang, text,
         len(string_split(text, ' ')) AS n_tokens,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
  FROM documents
  WHERE len(string_split(text, ' ')) >= 20
    AND CAST(len(list_filter(string_split(text, ' '),
                             t -> list_contains({_SW_SQL}, t))) AS DOUBLE)
        / len(string_split(text, ' ')) >= 0.01
), deduped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM gated
  ) WHERE rn = 1
), split_assigned AS (
  SELECT *,
         CASE WHEN ((doc_id % 10) + 10) % 10 < 8 THEN 'train'
              WHEN ((doc_id % 10) + 10) % 10 = 8 THEN 'val'
              ELSE 'test' END AS split
  FROM deduped
)
SELECT split, lang,
       count(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       min(doc_id) AS min_doc_id
FROM split_assigned
GROUP BY split, lang
"""


@register("q_pipeline_curate", oracle=_ORACLE, tags=("llm", "bench"))
def q_pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate -> fingerprint dedup -> split -> corpus stats, as
    one fused plan."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks).cast("long")
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_ratio = (
        F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).cast("double")
        / F.size(toks)
    )
    fp = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    gated = d.filter((n_tokens >= 20) & (stop_ratio >= 0.01)).select(
        "doc_id", "lang", n_tokens.alias("n_tokens"), fp.alias("fp")
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    deduped = (
        gated.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    )
    bucket = F.pmod(F.col("doc_id"), F.lit(10))
    split = F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")
    return (
        deduped.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


@register(
    "q_pipeline_dataset_card",
    oracle="""
SELECT source,
       count(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       count(DISTINCT md5(text)) AS n_unique_texts,
       count(DISTINCT lang) AS n_langs,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars
FROM documents
GROUP BY source
""",
    tags=("llm",),
)
def q_pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card profiling: the per-source summary block every
    released training corpus ships (docs, chars, whitespace tokens,
    exact-duplicate cardinality, language spread, length extremes) —
    computed in ONE pass over the corpus. ``n_docs - n_unique_texts``
    is the exact-duplicate count; all metrics are integers, so the
    result is bit-deterministic under any partitioning.

    Scale notes: two DISTINCT aggregates over different expressions
    make Catalyst plan an Expand (3 rows per input) — but the expanded
    rows carry only (source, md5, lang), never text, so shuffle volume
    is ~48 bytes x 3 per doc regardless of document size; text dies at
    the map side after hashing. At extreme cardinality the drop-ins
    are approx_count_distinct (one pass, no Expand) or a two-level
    re-aggregation over a pre-deduped (source, md5) projection.
    """
    docs = table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
        F.countDistinct(F.md5("text")).alias("n_unique_texts"),
        F.countDistinct("lang").alias("n_langs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "q_pipeline_filter_report",
    oracle="""
WITH feats AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         CAST(len(list_filter(string_split(text, ' '),
                              t -> list_contains(['the','a','of','and','to','in'], t)))
              AS DOUBLE) / len(string_split(text, ' ')) AS stop_ratio,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
  FROM documents
), flags AS (
  SELECT doc_id,
         n_tokens >= 20 AS pass_len,
         n_tokens >= 20 AND stop_ratio >= 0.01 AS pass_quality,
         n_tokens >= 20 AND stop_ratio >= 0.01
           AND row_number() OVER (PARTITION BY fp, (n_tokens >= 20 AND stop_ratio >= 0.01)
                                  ORDER BY doc_id) = 1 AS pass_dedup
  FROM feats
)
SELECT count(*) AS n_input,
       count(*) FILTER (WHERE pass_len) AS after_length_gate,
       count(*) FILTER (WHERE pass_quality) AS after_quality_gate,
       count(*) FILTER (WHERE pass_dedup) AS after_dedup,
       count(*) - count(*) FILTER (WHERE pass_len) AS dropped_length,
       count(*) FILTER (WHERE pass_len) - count(*) FILTER (WHERE pass_quality)
         AS dropped_quality,
       count(*) FILTER (WHERE pass_quality) - count(*) FILTER (WHERE pass_dedup)
         AS dropped_dup
FROM flags
""",
    tags=("llm", "pipeline"),
)
def q_pipeline_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation observability: the keep/drop waterfall across the
    pipeline's gates (length → quality → dedup) as ONE pass — how many
    documents each stage dropped, the report every data-curation run
    publishes next to its output (the per-stage retention table in
    public corpus papers).

    Flags are computed per-document (no early filtering), so one scan
    yields every stage's survivor count via conditional aggregation;
    the only shuffle is the fingerprint window for the dedup flag.
    The dedup flag partitions by (fp, passed-prior-gates) so first-
    occurrence is chosen among quality-passing docs only — matching
    what the real pipeline (q_pipeline_curate) dedupes.
    """
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_ratio = (
        F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).cast("double")
        / F.size(toks)
    )
    fp = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    pass_len = n_tokens >= 20
    pass_quality = pass_len & (stop_ratio >= 0.01)
    feats = d.select(
        "doc_id",
        pass_len.alias("pass_len"),
        pass_quality.alias("pass_quality"),
        fp.alias("fp"),
    )
    w = Window.partitionBy("fp", "pass_quality").orderBy("doc_id")
    flags = feats.withColumn(
        "pass_dedup",
        F.col("pass_quality") & (F.row_number().over(w) == 1),
    )
    cnt = lambda c: F.count(F.when(F.col(c), 1))  # noqa: E731
    return flags.agg(
        F.count("*").alias("n_input"),
        cnt("pass_len").alias("after_length_gate"),
        cnt("pass_quality").alias("after_quality_gate"),
        cnt("pass_dedup").alias("after_dedup"),
        (F.count("*") - cnt("pass_len")).alias("dropped_length"),
        (cnt("pass_len") - cnt("pass_quality")).alias("dropped_quality"),
        (cnt("pass_quality") - cnt("pass_dedup")).alias("dropped_dup"),
    )


# ---- q_pipeline_dataset_diff ------------------------------------------ #
# Dataset snapshot diff — the versioning audit a training-data pipeline
# runs between corpus releases: which docs were added, removed,
# changed, unchanged, counted per source. Two snapshots derive
# deterministically from the one fixture (old drops doc_id%10==7, new
# drops %10==3 and rewrites %10==5), so both engines diff identical
# inputs.

_DIFF_ORACLE = """
WITH old AS (
  SELECT doc_id, source, md5(text) AS h FROM documents WHERE doc_id % 10 <> 7
), new AS (
  SELECT doc_id, source,
         md5(CASE WHEN doc_id % 10 = 5 THEN text || ' [rev2]' ELSE text END) AS h
  FROM documents WHERE doc_id % 10 <> 3
), j AS (
  SELECT COALESCE(o.source, n.source) AS source,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              WHEN o.h <> n.h THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
)
SELECT source, status, count(*) AS n
FROM j GROUP BY source, status
"""


@register("q_pipeline_dataset_diff", oracle=_DIFF_ORACLE, tags=("llm", "pipeline"))
def q_pipeline_dataset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus release diff: full-outer join of two snapshot manifests on
    doc_id, classify each doc added / removed / changed / unchanged by
    content digest, count per (source, status) — the audit table a
    dataset card's "what changed since v1" section is built from.

    Scale notes: each snapshot collapses to its MANIFEST (doc_id,
    source, md5(text)) in the scan projection, so the join shuffles
    digests only — document text never reaches an exchange (the
    q_dedup_exact digest doctrine). The full-outer join keys on
    doc_id (unskewed by construction); the status classifier is pure
    projection and the audit rollup is a tiny (source x status)
    aggregate. At 100 TB both manifests would be stored tables written
    at release time; the diff cost is two manifest scans + one
    digest-width shuffle.
    """
    d = table(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 10 != 7).select(
        F.col("doc_id").alias("o_id"),
        F.col("source").alias("o_source"),
        F.md5("text").alias("o_h"),
    )
    new = d.filter(F.col("doc_id") % 10 != 3).select(
        F.col("doc_id").alias("n_id"),
        F.col("source").alias("n_source"),
        F.md5(
            F.when(
                F.col("doc_id") % 10 == 5, F.concat(F.col("text"), F.lit(" [rev2]"))
            ).otherwise(F.col("text"))
        ).alias("n_h"),
    )
    j = old.join(new, old["o_id"] == new["n_id"], "full_outer").select(
        F.coalesce("o_source", "n_source").alias("source"),
        F.when(F.col("o_id").isNull(), "added")
        .when(F.col("n_id").isNull(), "removed")
        .when(F.col("o_h") != F.col("n_h"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return j.groupBy("source", "status").agg(F.count("*").alias("n"))


# ---- q_pipeline_loss_mask ----------------------------------------------- #
# Instruction-tuning loss masking — the budget audit of an SFT data
# build: prompt tokens are context-only (loss-masked), response tokens
# train, and documents failing the minimum-length gate are fully
# masked. The per-source trainable-token share is THE number that
# decides whether a source earns its storage in the mixture.
_MASK_MIN_TOKENS = 8


@register(
    "q_pipeline_loss_mask",
    oracle=f"""
WITH t AS (
  SELECT source,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok
  FROM documents
), m AS (
  SELECT source, n_tok,
         CASE WHEN n_tok < {_MASK_MIN_TOKENS} THEN 0
              ELSE n_tok - n_tok // 2 END AS trainable
  FROM t
)
SELECT source,
       count(*) AS n_docs,
       CAST(SUM(CASE WHEN n_tok < {_MASK_MIN_TOKENS} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_fully_masked,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST(SUM(trainable) AS BIGINT) AS trainable_tokens,
       CAST(SUM(trainable) AS BIGINT) * 1000000
         // CAST(SUM(n_tok) AS BIGINT) AS trainable_ppm
FROM m
GROUP BY source
""",
    tags=("llm", "pipeline"),
)
def q_pipeline_loss_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source loss-mask budget: each document splits into a prompt
    half (first floor(n/2) tokens, masked) and a response half
    (trains); documents under the 8-token gate are fully masked. The
    report: docs, fully-masked docs, total vs trainable tokens, and
    the exact trainable share in ppm — all pure integer arithmetic.

    Scale notes: token counting is a codegen'd split+filter per row
    (no explode — only the COUNT leaves the row); the aggregate is a
    map-side-combined groupBy on the source key. One scan, one tiny
    shuffle: the same shape at 100 TB. The masking rule is the
    deterministic stand-in for a real chat-template span parser —
    swap the span boundary in, the plan is unchanged.
    """
    docs = table(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    t = docs.select("source", n_tok.cast("long").alias("n_tok"))
    trainable = F.when(
        F.col("n_tok") < _MASK_MIN_TOKENS, F.lit(0)
    ).otherwise(F.col("n_tok") - F.floor(F.col("n_tok") / 2))
    m = t.select("source", "n_tok", trainable.cast("long").alias("trainable"))
    return m.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("n_tok") < _MASK_MIN_TOKENS).cast("long")).alias(
            "n_fully_masked"
        ),
        F.sum("n_tok").alias("total_tokens"),
        F.sum("trainable").alias("trainable_tokens"),
        F.expr(
            "sum(trainable) * 1000000 DIV sum(n_tok)"
        ).alias("trainable_ppm"),
    )


# ---- q_pipeline_span_corruption ------------------------------------------ #
# T5-style span-corruption planning — the denoising-objective data
# prep: deterministic span starts are chosen by a seeded hash over
# (doc_id, position) at rate 1/10; each span masks 3 consecutive
# tokens (truncated at the document end). The audit reports, per doc,
# how many sentinel spans the example will carry and the corrupted
# share — the two numbers that size the denoising batch. The hash is
# the engine-portable md5 fold (exprs.md5_16bit), so both engines
# choose IDENTICAL spans.
_SPAN_RATE_MOD = 10
_SPAN_LEN = 3


@register(
    "q_pipeline_span_corruption",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok
  FROM documents
), marked AS (
  SELECT doc_id, n_tok,
         list_transform(range(1, n_tok + 1), p ->
           CASE WHEN {o_md5_16bit("CAST(doc_id AS VARCHAR) || ':' || CAST(p AS VARCHAR)")}
                     % {_SPAN_RATE_MOD} = 0 THEN 1 ELSE 0 END) AS starts
  FROM t WHERE n_tok >= 1
)
SELECT doc_id, n_tok AS n_tokens,
       CAST(list_sum(starts) AS BIGINT) AS n_spans,
       CAST(list_sum(list_transform(range(1, n_tok + 1), p ->
         CASE WHEN starts[p] = 1
                OR (p >= 2 AND starts[p - 1] = 1)
                OR (p >= 3 AND starts[p - 2] = 1)
              THEN 1 ELSE 0 END)) AS BIGINT) AS n_masked,
       CAST(list_sum(list_transform(range(1, n_tok + 1), p ->
         CASE WHEN starts[p] = 1
                OR (p >= 2 AND starts[p - 1] = 1)
                OR (p >= 3 AND starts[p - 2] = 1)
              THEN 1 ELSE 0 END)) AS BIGINT) * 1000000 // n_tok
         AS corrupted_ppm
FROM marked
""",
    tags=("llm", "pipeline"),
)
def q_pipeline_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document span-corruption plan: seeded-hash span starts at
    rate 1/10, span length 3 (end-truncated), reporting token count,
    sentinel/span count, masked-token count, and the corrupted share
    in exact ppm. Empty documents are excluded on both sides (n >= 1
    also guards Spark's descending sequence(1, 0) trap).

    Scale notes: everything is per-row array arithmetic in codegen —
    the position list is built once per doc, the start flags once, and
    the masked test reads the flag array (no token explode, no
    shuffle at all). A real corruption pass would replace the audit
    projection with the sentinel-rewrite over the same start flags —
    identical plan shape.
    """
    from pokertracker_cassandra_st_spark.exprs import md5_16bit

    docs = table(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    t = docs.select("doc_id", n_tok.cast("long").alias("n_tok")).filter(
        F.col("n_tok") >= 1
    )

    def is_start(p):
        return (
            F.pmod(
                md5_16bit(
                    F.concat_ws(":", F.col("doc_id").cast("string"), p.cast("string"))
                ),
                F.lit(_SPAN_RATE_MOD),
            )
            == 0
        ).cast("int")

    marked = t.select(
        "doc_id",
        "n_tok",
        F.transform(
            F.sequence(F.lit(1), F.col("n_tok").cast("int")), is_start
        ).alias("starts"),
    )
    masked = F.transform(
        F.sequence(F.lit(1), F.col("n_tok").cast("int")),
        lambda p: F.when(
            (F.element_at("starts", p.cast("int")) == 1)
            | ((p >= 2) & (F.element_at("starts", (p - 1).cast("int")) == 1))
            | ((p >= 3) & (F.element_at("starts", (p - 2).cast("int")) == 1)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return marked.select(
        "doc_id",
        F.col("n_tok").alias("n_tokens"),
        F.aggregate(
            "starts", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("n_spans"),
        F.aggregate(masked, F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "n_masked"
        ),
        F.expr(
            "aggregate(transform(sequence(1, CAST(n_tok AS INT)), p -> "
            "CASE WHEN element_at(starts, p) = 1 "
            "OR (p >= 2 AND element_at(starts, p - 1) = 1) "
            "OR (p >= 3 AND element_at(starts, p - 2) = 1) "
            "THEN 1 ELSE 0 END), CAST(0 AS BIGINT), (a, x) -> a + x) "
            "* 1000000 DIV n_tok"
        ).alias("corrupted_ppm"),
    )


# ---- q_pipeline_dedup_report ------------------------------------------------- #
# Per-source duplication audit — the rollup a curation pipeline reads
# BEFORE deciding dedup policy: how much of each source is exact-dup
# bulk, and how many bytes dedup would reclaim. Duplicate = any row
# whose md5(text) has a lower-doc_id twin anywhere in the corpus
# (global, not per-source — cross-source copies count against the
# source that carries them).


@register(
    "q_pipeline_dedup_report",
    oracle="""
WITH h AS (
  SELECT doc_id, source, n_chars, md5(text) AS hash,
         row_number() OVER (PARTITION BY md5(text)
                            ORDER BY doc_id) AS rn
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
       (1000000 * CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT))
         // count(*) AS dup_ppm,
       CAST(SUM(n_chars) AS BIGINT) AS chars_total,
       CAST(SUM(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT)
         AS chars_reclaimable
FROM h GROUP BY source ORDER BY source
""",
    tags=("llm", "pipeline", "dedup"),
)
def q_pipeline_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplication audit per source: each document hashes once
    (md5 text digest); the keep-first rule (min doc_id per hash) marks
    every later copy reclaimable; per-source counts, integer-ppm dup
    rate, and reclaimable characters roll up from the marks.

    Scale notes: the only data-sized shuffle carries (hash, doc_id,
    source, n_chars) digests — text never moves; the per-hash
    row_number partitions by the digest (uniform by construction).
    This is q_dedup_exact's accounting twin: it reports what dedup
    WOULD do without materializing the deduped corpus.
    """
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("hash").orderBy("doc_id")
    h = docs.select(
        "doc_id", "source", "n_chars", F.md5("text").alias("hash")
    ).withColumn("rn", F.row_number().over(w))
    dup = (F.col("rn") > 1).cast("long")
    return (
        h.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(dup).alias("n_dups"),
            # mirror the oracle's CASE ... ELSE 0 exactly: a non-dup row
            # contributes 0 (not NULL), so an all-NULL-n_chars source
            # yields 0 in both engines (ADVICE r10)
            F.sum(
                F.when(F.col("rn") > 1, F.col("n_chars")).otherwise(0)
            ).alias("chars_reclaimable_"),
            F.sum("n_chars").alias("chars_total"),
        )
        .select(
            "source",
            "n_docs",
            "n_dups",
            F.expr("(1000000 * n_dups) div n_docs").alias("dup_ppm"),
            "chars_total",
            F.col("chars_reclaimable_").alias("chars_reclaimable"),
        )
        .orderBy("source")
    )


@register(
    "q_pipeline_shard_plan",
    oracle="""
WITH d AS (
  SELECT doc_id, n_chars,
         CAST(COALESCE(SUM(n_chars) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS start_off
  FROM documents WHERE n_chars IS NOT NULL
), s AS (
  SELECT start_off // 50000 AS shard_id, doc_id, n_chars FROM d
)
SELECT shard_id,
       count(*) AS n_docs,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc,
       CAST(SUM(n_chars) AS BIGINT) AS shard_bytes,
       (1000000 * CAST(SUM(n_chars) AS BIGINT)) // 50000 AS fill_ppm
FROM s GROUP BY shard_id ORDER BY shard_id
""",
    tags=("llm", "pipeline"),
)
def q_pipeline_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output-shard manifest: documents in stable doc_id order are
    packed greedily into ~50 KB shards (a doc belongs to the shard its
    STARTING byte offset falls in — the WebDataset/tar-writer rule,
    llm/multimodal.py), and the plan reports each shard's doc range,
    byte count, and integer-ppm fill — the step between curation and
    the physical writer that decides file count and size skew before
    any bytes move. q_pipeline_pack's twin one level up: pack bins
    TOKENS into model windows, this bins DOCUMENTS into files.

    Scale notes: the byte offset is the TWO-PHASE distributed prefix
    sum (dist_rank.range_prefix — range-partition on doc_id, local
    running sums, broadcast bucket offsets), never a global
    single-task window; the shard rollup shuffles shard-count rows.
    Exact integers end to end.
    """
    from pokertracker_cassandra_st_spark.dist_rank import range_prefix

    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("n_chars").isNotNull())
        .select("doc_id", "n_chars")
    )
    pre = range_prefix(
        d, ["doc_id"], {"n_chars": "end_off"}, inclusive=True
    ).withColumn("start_off", F.col("end_off") - F.col("n_chars"))
    s = pre.select(
        F.expr("start_off div 50000").alias("shard_id"), "doc_id", "n_chars"
    )
    return (
        s.groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
            F.sum("n_chars").alias("shard_bytes"),
        )
        .select(
            "shard_id",
            "n_docs",
            "first_doc",
            "last_doc",
            "shard_bytes",
            F.expr("(1000000 * shard_bytes) div 50000").alias("fill_ppm"),
        )
        .orderBy("shard_id")
    )


# ---- q_pipeline_quality_curve ---------------------------------------------- #
# "How many tokens survive each quality cut?" — the curve a data-mixing
# team reads before choosing a filter threshold: rank the corpus by a
# quality score, slice into exact rank deciles, report per-decile and
# cumulative token counts plus each cut's share of the total budget.


@register(
    "q_pipeline_quality_curve",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), d AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         (1000000 * CAST(len(list_distinct(toks)) AS BIGINT))
           // CAST(len(toks) AS BIGINT) AS ttr_ppm
  FROM t WHERE len(toks) >= 1
), r AS (
  SELECT *, row_number() OVER (ORDER BY ttr_ppm DESC, doc_id) AS rk,
         count(*) OVER () AS n
  FROM d
), dec AS (
  SELECT least(CAST(10 AS BIGINT), ((rk - 1) * 10) // n + 1) AS decile,
         count(*) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
  FROM r GROUP BY 1
), c AS (
  SELECT decile, n_docs, n_tokens,
         CAST(SUM(n_docs) OVER (ORDER BY decile) AS BIGINT) AS cum_docs,
         CAST(SUM(n_tokens) OVER (ORDER BY decile) AS BIGINT) AS cum_tokens,
         CAST(SUM(n_tokens) OVER () AS BIGINT) AS total_tokens
  FROM dec
)
SELECT decile, n_docs, n_tokens, cum_docs, cum_tokens,
       CAST((1000000 * CAST(cum_tokens AS HUGEINT)) // total_tokens
            AS BIGINT) AS cum_token_share_ppm
FROM c ORDER BY decile
""",
    tags=("llm", "pipeline"),
)
def q_pipeline_quality_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-threshold token-budget curve: documents ranked by
    lexical-diversity score (exact integer TTR ppm — the
    q_text_lexical_diversity signal), cut into ten EXACT rank deciles
    (the 1 + ((rk-1)*10) div n formula — ntile remainder placement is
    engine lore), each decile reporting docs, tokens, cumulative
    docs/tokens, and the cumulative share of the total token budget in
    integer ppm. Read it as "keeping the top 30%% best-scoring docs
    retains N tokens = X ppm of the corpus".

    Scale notes: scoring is row-local array arithmetic (zero
    exchanges); the global rank is the TWO-PHASE distributed
    row_number (dist_rank) — no data-sized single-partition window;
    the corpus total n rides the rank's own bucket-totals frame
    (total_col) instead of a second aggregate over the scored frame,
    which would re-reference the subtree and re-scan + re-tokenize the
    corpus (ADVICE r11); the decile rollup carries 10 rows, where the
    cumulative window and the total attach are free. Ties rank
    deterministically by (score DESC, doc_id).
    """
    from pokertracker_cassandra_st_spark.dist_rank import range_row_number

    toks = F.split("text", " ")
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.size(toks) >= 1)
        .select(
            "doc_id",
            F.size(toks).cast("long").alias("n_tokens"),
            F.expr(
                "(1000000 * CAST(size(array_distinct(split(text, ' ')))"
                " AS BIGINT)) div CAST(size(split(text, ' ')) AS BIGINT)"
            ).alias("ttr_ppm"),
        )
        .withColumn("neg_score", -F.col("ttr_ppm"))
    )
    # total_col rides the rank's own bucket-totals frame — aggregating
    # d again here would re-reference the scored subtree and re-scan
    # the corpus + re-tokenize every row (ADVICE r11).
    ranked = range_row_number(
        d, ["neg_score", "doc_id"], "rk", total_col="n"
    )
    dec = (
        ranked
        .select(
            F.least(
                F.lit(10).cast("long"),
                F.expr("((rk - 1) * 10) div n + 1"),
            ).alias("decile"),
            "n_tokens",
        )
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    return (
        dec.select(
            "decile",
            "n_docs",
            "n_tokens",
            F.sum("n_docs").over(w_cum).cast("long").alias("cum_docs"),
            F.sum("n_tokens").over(w_cum).cast("long").alias("cum_tokens"),
            F.sum("n_tokens").over(w_all).cast("long").alias("total_tokens"),
        )
        .select(
            "decile",
            "n_docs",
            "n_tokens",
            "cum_docs",
            "cum_tokens",
            F.expr(
                "CAST((1000000 * CAST(cum_tokens AS DECIMAL(38,0)))"
                " DIV total_tokens AS BIGINT)"
            ).alias("cum_token_share_ppm"),
        )
        .orderBy("decile")
    )


# ---- q_pipeline_contamination_gate ------------------------------------------ #


@register(
    "q_pipeline_contamination_gate",
    oracle=f"""
WITH corpus AS ({_GATE_AUG}),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
shingles AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 7), ' ') AS sh
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i
        FROM toks)
),
ev AS (SELECT doc_id, sh FROM shingles WHERE doc_id % 20 = 0 AND doc_id < 1000000),
tr AS (SELECT doc_id, sh FROM shingles WHERE doc_id >= 1000000),
hits AS (
  SELECT tr.doc_id AS train_id,
         CAST(count(DISTINCT tr.sh) AS BIGINT) AS c
  FROM tr JOIN ev ON tr.sh = ev.sh GROUP BY 1
),
train AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM corpus WHERE doc_id >= 1000000
),
g AS (
  SELECT CASE WHEN h.c IS NULL THEN 'clean'
              WHEN h.c = 1 THEN 'light'
              WHEN h.c <= 4 THEN 'medium'
              ELSE 'heavy' END AS severity,
         t.n_tokens
  FROM train t LEFT JOIN hits h ON h.train_id = t.doc_id
),
s AS (
  SELECT severity, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
  FROM g GROUP BY 1
), tt AS (
  SELECT *, SUM(n_docs) OVER () AS td, SUM(n_tokens) OVER () AS tk FROM s
)
SELECT severity, n_docs, n_tokens,
       CAST((1000000 * n_docs) // td AS BIGINT) AS doc_share_ppm,
       CAST((1000000 * n_tokens) // tk AS BIGINT) AS token_share_ppm,
       severity = 'clean' AS kept
FROM tt ORDER BY severity
""",
    tags=("llm", "pipeline"),
)
def q_pipeline_contamination_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination GATE report: the q_text_contamination check
    turned into the accept/reject decision a training pipeline
    actually executes — every train document lands in a severity class
    by its count of eval-shared word-8-grams (clean / light = 1 /
    medium <= 4 / heavy), and the report shows what the gate costs in
    docs and tokens (share ppm) with the kept flag on the clean class.
    Cites the reference's test-then-act shape (PlayerResourceIT
    verifies state before mutating it); the eval set and mutated train
    shards are the dedup family's augmented corpus, so contamination
    is present by construction.

    Cross-engine determinism: counts and token sums are exact ints;
    shares are ppm integer divisions; the severity CASE is integer
    thresholds on an exact distinct count.

    Scale notes: only (shingle, doc_id) pairs shuffle; the eval side
    is benchmark-sized, so Spark broadcasts it and the train side
    never re-shuffles for the hit count; the hit frame (contaminated
    ids only — tiny vs corpus) broadcasts into the gate's LEFT join,
    so the train corpus streams through ONE pass; the severity rollup
    is 4 rows and its totals ride an empty-frame window. The corpus
    contributes two plan branches (shingles + token counts) — the
    augmented-corpus scan doctrine, bounded and documented.
    """
    corpus = augmented_corpus(spark, sf_dir)
    hits = (
        contamination_hits(corpus)
        .groupBy("train_id")
        .agg(F.countDistinct("sh").alias("c"))
    )
    train = corpus.filter(F.col("doc_id") >= AUG_OFFSET).select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    g = train.join(
        F.broadcast(hits), train["doc_id"] == hits["train_id"], "left"
    ).select(
        F.when(F.col("c").isNull(), F.lit("clean"))
        .when(F.col("c") == 1, F.lit("light"))
        .when(F.col("c") <= 4, F.lit("medium"))
        .otherwise(F.lit("heavy"))
        .alias("severity"),
        "n_tokens",
    )
    s = g.groupBy("severity").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("n_tokens")
    )
    w = Window.partitionBy()
    tt = s.select(
        "severity",
        "n_docs",
        "n_tokens",
        F.sum("n_docs").over(w).alias("td"),
        F.sum("n_tokens").over(w).alias("tk"),
    )
    return tt.select(
        "severity",
        "n_docs",
        "n_tokens",
        F.expr("CAST((1000000 * n_docs) div td AS BIGINT)").alias(
            "doc_share_ppm"
        ),
        F.expr("CAST((1000000 * n_tokens) div tk AS BIGINT)").alias(
            "token_share_ppm"
        ),
        (F.col("severity") == "clean").alias("kept"),
    ).orderBy("severity")
