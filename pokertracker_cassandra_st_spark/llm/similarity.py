"""Similarity search over the embeddings table (array<float>, dim 64).

Two paths, as a vector index would tier them:
  * brute-force exact top-k (the baseline / recall oracle);
  * IVF-style cell-restricted top-k (the scale path: probe only the
    coarse cell, here the ``label`` column as cluster assignment).

Dot products run in double via higher-order functions (zip_with +
aggregate) — JVM-side, no Python, no shuffle until the final top-k.

Scale notes: brute force is O(n_query · n_corpus · dim) — fine for a
re-rank stage, never for the full corpus. The IVF variant cuts the
candidate set by the cell selectivity (20 labels => ~5%); at 100 TB the
cells become partition keys so a probe reads only its cell's files.
The per-query top-k is a window row_number over a key with bounded
cardinality (n_query), so the heap never exceeds k per partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pokertracker_cassandra_st_spark import ckpt
from pokertracker_cassandra_st_spark.catalog import table
from pokertracker_cassandra_st_spark.registry import register

N_QUERIES = 10
TOP_K = 5


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def _cosine_topk(emb: DataFrame, same_cell_only: bool) -> DataFrame:
    # Precompute each side's norm ONCE per vector before the join —
    # same double values as recomputing per pair (norms are per-row
    # deterministic), but 3x less HOF work inside the O(q*n) join.
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
        _norm(F.col("embedding")).alias("q_norm"),
    )
    c = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("c_emb"),
        F.col("label").alias("c_label"),
        _norm(F.col("embedding")).alias("c_norm"),
    )
    cond = F.col("qid") != F.col("cid")
    joined = F.broadcast(q).join(c, cond)
    if same_cell_only:
        joined = joined.filter(F.col("q_label") == F.col("c_label"))
    cos = F.round(
        _dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm")), 6
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        joined.select("qid", "cid", cos.alias("cosine"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("qid", "cid", "cosine", F.col("rk").cast("long").alias("rk"))
    )


_ORACLE_TMPL = """
WITH q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS q_emb, label AS q_label
  FROM embeddings WHERE vec_id < {nq}
), c AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS c_emb, label AS c_label
  FROM embeddings
), scored AS (
  SELECT qid, cid,
         round(list_dot_product(q_emb, c_emb) /
               (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(c_emb, c_emb))),
               6) AS cosine
  FROM q JOIN c ON qid <> cid {cell_pred}
), ranked AS (
  SELECT qid, cid, cosine,
         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rk
  FROM scored
)
SELECT qid, cid, cosine, rk FROM ranked WHERE rk <= {k}
"""


@register(
    "q_sim_topk",
    oracle=_ORACLE_TMPL.format(nq=N_QUERIES, k=TOP_K, cell_pred=""),
    tags=("llm", "similarity", "bench"),
)
def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-5 for 10 query vectors."""
    return _cosine_topk(table(spark, sf_dir, "embeddings"), same_cell_only=False)


@register(
    "q_sim_ivf",
    oracle=_ORACLE_TMPL.format(
        nq=N_QUERIES, k=TOP_K, cell_pred="AND q_label = c_label"
    ),
    tags=("llm", "similarity"),
)
def q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: probe only the query's coarse cell (label) —
    ~20x fewer candidates; exactness within the probed cell."""
    return _cosine_topk(table(spark, sf_dir, "embeddings"), same_cell_only=True)


MAX_PLANES = 32
DIM = 64
_Q_SCALE = 1_000_000

# Plane-count ladder (round-4 rework of the round-3 'weak' finding):
# a FIXED 16-bit signature saturates its 65536 buckets as the corpus
# grows — expected bucket occupancy n/2^planes turns the downstream
# bucket-join quadratic on hot buckets. The number of planes USED is
# therefore chosen from this ladder as the smallest p with 2^p >= 4n,
# IN-PLAN (1-row corpus-count frame, broadcast cross-join — fully lazy,
# no driver-side count), identically in Spark and the DuckDB oracle.
# All ladder buckets are prefix sums of the same MAX_PLANES=32 seeded
# plane family, computed map-side in one narrow pass — adding planes
# never changes the low bits, so the 16-plane bucket at the test SFs is
# bit-identical to the fixed-plane round-3 output.
PLANES_LADDER = [16, 20, 24, 28, 32]


def _planes_used_sql(count_expr: str) -> str:
    """CASE expression choosing plane count from a corpus count —
    identical integer arithmetic in Spark SQL and DuckDB."""
    cases = " ".join(
        f"WHEN 4 * ({count_expr}) <= {1 << p} THEN {p}" for p in PLANES_LADDER[:-1]
    )
    return f"CASE {cases} ELSE {PLANES_LADDER[-1]} END"


def _plane_signs() -> list[list[int]]:
    """±1 hyperplane patterns derived from md5 of "plane_dim" strings.

    Computed in plain Python (hashlib) and inlined as LITERALS into both
    the Spark plan and the DuckDB oracle — the plane family is therefore
    engine-independent by construction, seeded, and reproducible
    anywhere.
    """
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{p}_{i}".encode()).hexdigest()[0], 16) >= 8 else -1
            for i in range(DIM)
        ]
        for p in range(MAX_PLANES)
    ]


def _lsh_oracle() -> str:
    signs = _plane_signs()
    values = ",\n    ".join(
        f"({p}, CAST({signs[p]!r} AS BIGINT[]))" for p in range(MAX_PLANES)
    )
    return f"""
WITH emb AS (
  SELECT vec_id, label,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * {_Q_SCALE} + 0.5) AS BIGINT)) AS eq
  FROM embeddings
),
params AS (
  SELECT {_planes_used_sql('count(*)')} AS planes_used FROM embeddings
),
planes(p, coef) AS (
  VALUES
    {values}
),
proj AS (
  SELECT e.vec_id, e.label, pl.p, list_dot_product(e.eq, pl.coef) AS pr
  FROM emb e CROSS JOIN planes pl
),
sig AS (
  SELECT vec_id, label,
         CAST(SUM(CASE WHEN pr > 0 AND p < planes_used
                       THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
  FROM proj CROSS JOIN params GROUP BY vec_id, label
)
SELECT bucket,
       count(*) AS n_vectors,
       CAST(count(DISTINCT label) AS BIGINT) AS n_labels,
       min(vec_id) AS min_vec_id
FROM sig
GROUP BY bucket
"""


@register("q_sim_lsh_hyperplane", oracle=_lsh_oracle(), tags=("llm", "similarity"))
def q_sim_lsh_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH (sign-of-projection signatures),
    size-adaptive plane count.

    Up to 32 deterministic ±1 hyperplanes (md5-seeded literals — see
    _plane_signs); vectors sharing the sign signature over the ACTIVE
    plane count are candidate cosine neighbors. Projections run on
    embeddings quantized to scaled longs (floor(x*1e6 + 0.5)), so every
    dot product is an exact integer — the sign can never flip on
    last-ulp float noise and the buckets are identical across engines,
    making the query fully oracle-checkable.

    Scale notes (round-4 rework of the round-3 'weak' finding): the
    plane count is chosen from PLANES_LADDER by corpus size, IN-PLAN
    (1-row count frame broadcast into a cross join; the plan stays
    lazy), so the bucket space keeps pace with the corpus and expected
    bucket occupancy — hence the downstream per-bucket verification
    join — stays ~O(1) per vector at any scale. Every ladder bucket is
    a prefix sum of one seeded plane family, computed map-side in a
    single narrow pass (zip_with + aggregate over 64-element arrays,
    JVM-side); a CASE on the broadcast plane count picks the active
    one, so no extra shuffle is introduced. At 100 TB the bucket is the
    shuffle/partition key and each bucket's verification join is
    co-located.
    """
    signs = _plane_signs()
    emb = table(spark, sf_dir, "embeddings")
    eq = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * _Q_SCALE + 0.5).cast("long"),
    )
    quant = emb.select("vec_id", "label", eq.alias("eq"))
    # prefix-sum buckets for every ladder rung, one narrow pass.
    # Optimization r13 (measured, guide §1.2): DataFrame CONSTRUCTION
    # dominated this query (4.5 s of the 7.5 s isolated wall) — 32 x 64
    # F.lit() py4j calls plus per-plane HOF lambdas, and the rung CASE
    # inlined every projection tree into every branch (~116 HOF
    # aggregates in one expression, slow to optimize/compile). Now the
    # 32 projections are parsed-SQL NAMED COLUMNS computed once per row
    # (CollapseProject keeps non-cheap multi-referenced projections in
    # their own Project) and each rung is integer arithmetic over the
    # column references. Operation-identical — bit-identical buckets.
    # 7.5 s -> 2.5 s isolated.
    def _proj_sql(p: int) -> str:
        arr = ",".join(f"{c}L" for c in signs[p])
        return (
            f"aggregate(zip_with(eq, array({arr}), (a, b) -> a * b), "
            "0L, (acc, x) -> acc + x)"
        )

    # helper-name collision guard (ADVICE r13): an input frame already
    # carrying a _pjN column would make the references below ambiguous
    clash = [c for c in quant.columns if c.startswith("_pj")]
    if clash:
        raise ValueError(f"input columns collide with _pj helpers: {clash}")
    quant = quant.select(
        "*", *[F.expr(_proj_sql(p)).alias(f"_pj{p}") for p in range(MAX_PLANES)]
    )
    bucket_sql = "0L"
    rung_buckets: dict[int, "F.Column"] = {}
    for p in range(MAX_PLANES):
        bucket_sql = (
            f"{bucket_sql} + (CASE WHEN _pj{p} > 0 THEN {1 << p}L ELSE 0L END)"
        )
        if p + 1 in PLANES_LADDER:
            rung_buckets[p + 1] = F.expr(bucket_sql)
    params = (
        emb.agg(F.count("*").alias("n_vecs"))
        .select(F.expr(_planes_used_sql("n_vecs")).alias("planes_used"))
    )
    sel = None
    for rung in PLANES_LADDER[:-1]:
        cond = F.col("planes_used") == rung
        sel = F.when(cond, rung_buckets[rung]) if sel is None else sel.when(
            cond, rung_buckets[rung]
        )
    sel = sel.otherwise(rung_buckets[PLANES_LADDER[-1]])
    sigs = (
        quant.crossJoin(F.broadcast(params))
        .select("vec_id", "label", sel.cast("long").alias("bucket"))
    )
    return sigs.groupBy("bucket").agg(
        F.count("*").alias("n_vectors"),
        F.countDistinct("label").alias("n_labels"),
        F.min("vec_id").alias("min_vec_id"),
    )


# ---------------------------------------------------------------- #
# k-means assignment step (one Lloyd iteration, exact integers)     #
# ---------------------------------------------------------------- #

_KM_K = 8  # centroids = the vectors with vec_id < _KM_K
_KM_S = 1_000_000  # quantization scale: long(x * 1e6), half-away


def _km_quant_duck(col: str) -> str:
    return (
        f"list_transform({col}, x -> CAST(CASE WHEN x < 0 "
        f"THEN -floor(abs(CAST(x AS DOUBLE)) * {_KM_S} + 0.5) "
        f"ELSE  floor(abs(CAST(x AS DOUBLE)) * {_KM_S} + 0.5) END AS BIGINT))"
    )


_KMEANS_ORACLE = f"""
WITH q AS (
  SELECT vec_id, {_km_quant_duck('embedding')} AS qe FROM embeddings
), cent AS (
  SELECT vec_id AS cid, qe AS ce FROM q WHERE vec_id < {_KM_K}
), dist AS (
  SELECT q.vec_id, cent.cid,
         list_sum(list_transform(list_zip(q.qe, cent.ce),
                  p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
  FROM q CROSS JOIN cent
), assigned AS (
  SELECT vec_id, cid, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
  FROM dist
)
SELECT cid, count(*) AS n_assigned,
       CAST(sum(d2) AS BIGINT) AS sse_scaled
FROM assigned WHERE rn = 1
GROUP BY cid
"""


@register("q_sim_kmeans", oracle=_KMEANS_ORACLE, tags=("llm", "similarity"))
def q_sim_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means (Lloyd) assignment step: every embedding is assigned
    to its nearest of ``_KM_K`` seed centroids (the vectors with the
    lowest ids) by squared L2 distance, reporting cluster sizes and the
    within-cluster sum of squared distances — the building block of the
    coarse-quantizer training loop behind the IVF index (q_sim_ivf
    consumes exactly such an assignment as its cell structure).

    Determinism: embeddings are quantized to longs (1e-6 resolution,
    half-away) BEFORE any arithmetic, so distances are exact integer
    sums — max |q| ~ 2e6, dim 64 => d2 <= 64 * (4e6)^2 ~ 1e15, well
    inside int64 — and the argmin (ties broken by centroid id) is
    bit-identical across engines and partitionings.

    Scale notes: the centroid side is ``_KM_K`` rows — broadcast; the
    assignment is a stateless narrow map over the corpus (no shuffle of
    embeddings), and the cluster rollup shuffles only (cid, d2) pairs
    with map-side partial aggregation. An iterated version repeats this
    plan with the recomputed centroid table re-broadcast each step —
    per-iteration cost is one corpus scan, which is the floor.
    """
    emb = table(spark, sf_dir, "embeddings")

    def _quant(col: Column) -> Column:
        def one(x: Column) -> Column:
            mag = F.floor(F.abs(x.cast("double")) * _KM_S + 0.5).cast("long")
            return F.when(x < 0, -mag).otherwise(mag)

        return F.transform(col, one)

    q = emb.select("vec_id", _quant(F.col("embedding")).alias("qe"))
    cent = q.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), F.col("qe").alias("ce")
    )
    d2 = F.aggregate(
        F.zip_with("qe", "ce", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    dist = q.join(F.broadcast(cent)).select("vec_id", "cid", d2.alias("d2"))
    best = dist.groupBy("vec_id").agg(
        F.min(F.struct("d2", "cid")).alias("m")
    )
    return (
        best.select(F.col("m.cid").alias("cid"), F.col("m.d2").alias("d2"))
        .groupBy("cid")
        .agg(
            F.count("*").alias("n_assigned"),
            F.sum("d2").cast("long").alias("sse_scaled"),
        )
    )


# ---- Product quantization (ADC) ------------------------------------
# 64 dims split into 4 subspaces of 16; per-subspace codebook of 16
# centroids "trained" deterministically as the subvectors of the first
# 16 corpus vectors (same fixed-seed convention as q_sim_kmeans).
_PQ_M = 4
_PQ_SUB = 16
_PQ_K = 16
_PQ_NQ = 5
_PQ_TOPK = 5

_PQ_D2 = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(range(1, {n}), i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), "
    "(acc, x) -> acc + x)"
)


def _pq_oracle() -> str:
    d2 = lambda a, b: _PQ_D2.format(n=_PQ_SUB + 1, a=a, b=b)  # noqa: E731
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), sub AS (
  SELECT vec_id, t.m, v[(1 + {_PQ_SUB} * t.m):({_PQ_SUB} * (t.m + 1))] AS sv
  FROM e, (VALUES (0), (1), (2), (3)) AS t(m)
), codes AS (
  SELECT vec_id, m, cent_id FROM (
    SELECT s.vec_id, s.m, c.vec_id AS cent_id,
           row_number() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {d2("s.sv", "c.sv")}, c.vec_id) AS rn
    FROM sub s JOIN sub c ON c.vec_id < {_PQ_K} AND c.m = s.m
  ) WHERE rn = 1
), parts AS (
  SELECT q.vec_id AS qid, k.vec_id AS cid, k.m, {d2("q.sv", "c.sv")} AS dp
  FROM codes k
  JOIN sub c ON c.vec_id = k.cent_id AND c.m = k.m
  JOIN sub q ON q.m = k.m AND q.vec_id < {_PQ_NQ}
  WHERE q.vec_id <> k.vec_id
), approx AS (
  SELECT qid, cid,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(dp ORDER BY m)),
                     (acc, x) -> acc + x) AS ad2
  FROM parts GROUP BY qid, cid
), ranked AS (
  SELECT qid, cid, ad2,
         row_number() OVER (PARTITION BY qid ORDER BY ad2, cid) AS rk
  FROM approx
)
SELECT qid, cid, round(ad2, 6) AS approx_d2, rk
FROM ranked WHERE rk <= {_PQ_TOPK}
"""


def _sq_l2(a: Column, b: Column) -> Column:
    """Σ (a_i - b_i)² as the same left fold the oracle writes."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


@register("q_sim_pq", oracle=_pq_oracle(), tags=("llm", "similarity"))
def q_sim_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (asymmetric distance computation): each
    corpus vector is compressed to 4 centroid codes (one per 16-dim
    subspace, nearest centroid by L2, tie-broken by centroid id); a
    query's approximate distance to a corpus vector is the sum of its
    exact subspace distances TO THE VECTOR'S CENTROIDS — the classic
    IVFADC re-rank arithmetic, here over a deterministic codebook so
    the DuckDB oracle reproduces it exactly.

    Scale notes: the codebook is tiny (M·K subvectors) and broadcast;
    encoding is one broadcast-join pass over the corpus (at 100 TB the
    codes persist as a 4-byte-per-subspace column and amortize across
    every query); the query fan-out touches M rows per corpus vector
    with map-side arithmetic, and the top-k is a bounded per-qid
    window. All float work is double HOFs inside codegen — no UDFs,
    and every fold runs in the same written order as the oracle's
    list_reduce, so results are bit-deterministic.
    """
    emb = table(spark, sf_dir, "embeddings")
    darr = F.transform("embedding", lambda x: x.cast("double"))
    subs = emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice(darr, 1 + _PQ_SUB * m, _PQ_SUB).alias("sv"),
                    )
                    for m in range(_PQ_M)
                ]
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))
    cents = subs.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("cent_id"),
        F.col("m").alias("cm"),
        F.col("sv").alias("cv"),
    )
    scored = subs.join(F.broadcast(cents), F.col("m") == F.col("cm")).select(
        "vec_id",
        "m",
        "cent_id",
        _sq_l2(F.col("sv"), F.col("cv")).alias("d2"),
    )
    w_enc = Window.partitionBy("vec_id", "m").orderBy("d2", "cent_id")
    codes = (
        scored.withColumn("rn", F.row_number().over(w_enc))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", "cent_id")
    )
    qsubs = subs.filter(F.col("vec_id") < _PQ_NQ).select(
        F.col("vec_id").alias("qid"), F.col("m").alias("qm"), F.col("sv").alias("qv")
    )
    cent_vecs = cents.select(
        F.col("cent_id").alias("kc"), F.col("cm").alias("km"), F.col("cv")
    )
    parts = (
        codes.join(
            F.broadcast(cent_vecs),
            (F.col("m") == F.col("km")) & (F.col("cent_id") == F.col("kc")),
        )
        .join(F.broadcast(qsubs), F.col("m") == F.col("qm"))
        .filter(F.col("qid") != F.col("vec_id"))
        .select(
            "qid",
            F.col("vec_id").alias("cid"),
            "m",
            _sq_l2(F.col("qv"), F.col("cv")).alias("dp"),
        )
    )
    approx = parts.groupBy("qid", "cid").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("m", "dp"))),
            F.lit(0.0),
            lambda acc, s: acc + s["dp"],
        ).alias("ad2")
    )
    w_rank = Window.partitionBy("qid").orderBy("ad2", "cid")
    return (
        approx.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= _PQ_TOPK)
        .select(
            "qid",
            "cid",
            F.round("ad2", 6).alias("approx_d2"),
            F.col("rk").cast("long").alias("rk"),
        )
    )


def _recall_oracle() -> str:
    # exact and cell-probed top-k as two instantiations of the same
    # ranked CTE, then recall@k = |exact ∩ approx| / k per query
    ranked = """
WITH q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS q_emb, label AS q_label
  FROM embeddings WHERE vec_id < {nq}
), c AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS c_emb, label AS c_label
  FROM embeddings
), scored AS (
  SELECT qid, cid, q_label, c_label,
         round(list_dot_product(q_emb, c_emb) /
               (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(c_emb, c_emb))),
               6) AS cosine
  FROM q JOIN c ON qid <> cid
), exact AS (
  SELECT qid, cid FROM (
    SELECT qid, cid, row_number() OVER (PARTITION BY qid
                                        ORDER BY cosine DESC, cid) AS rk
    FROM scored) WHERE rk <= {k}
), approx AS (
  SELECT qid, cid FROM (
    SELECT qid, cid, row_number() OVER (PARTITION BY qid
                                        ORDER BY cosine DESC, cid) AS rk
    FROM scored WHERE q_label = c_label) WHERE rk <= {k}
)
SELECT e.qid,
       count(a.cid) AS n_matched,
       round(count(a.cid) / CAST({k} AS DOUBLE), 2) AS recall_at_k
FROM exact e
LEFT JOIN approx a ON e.qid = a.qid AND e.cid = a.cid
GROUP BY e.qid
ORDER BY e.qid
"""
    return ranked.format(nq=N_QUERIES, k=TOP_K)


@register("q_sim_recall_eval", oracle=_recall_oracle(), tags=("llm", "similarity"))
def q_sim_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality measurement AS a query: recall@5 of the IVF
    cell-probe against the brute-force exact top-5, per query vector —
    the evaluation loop every vector-index deployment runs before
    trusting an approximate path, expressed as a join of the two
    operators' own outputs (no third implementation to drift).

    Scale notes: the exact side is the expensive one and exists only
    for the (sampled) evaluation set — in production this runs over a
    held-out query sample, not the full corpus; the join is on (qid,
    cid) pairs, k rows per query each side.
    """
    emb = table(spark, sf_dir, "embeddings")
    exact = _cosine_topk(emb, same_cell_only=False).select("qid", "cid")
    approx = _cosine_topk(emb, same_cell_only=True).select(
        F.col("qid").alias("aqid"), F.col("cid").alias("acid")
    )
    matched = exact.join(
        F.broadcast(approx),
        (F.col("qid") == F.col("aqid")) & (F.col("cid") == F.col("acid")),
        "left",
    )
    return (
        matched.groupBy("qid")
        .agg(
            F.count("acid").alias("n_matched"),
            F.round(F.count("acid") / F.lit(float(TOP_K)), 2).alias("recall_at_k"),
        )
        .orderBy("qid")
    )


# ---- IVF + PQ (IVFADC) --------------------------------------------- #
def _ivfpq_oracle() -> str:
    d2 = lambda a, b: _PQ_D2.format(n=_PQ_SUB + 1, a=a, b=b)  # noqa: E731
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), lab AS (
  SELECT vec_id, label FROM embeddings
), sub AS (
  SELECT vec_id, t.m, v[(1 + {_PQ_SUB} * t.m):({_PQ_SUB} * (t.m + 1))] AS sv
  FROM e, (VALUES (0), (1), (2), (3)) AS t(m)
), codes AS (
  SELECT vec_id, m, cent_id FROM (
    SELECT s.vec_id, s.m, c.vec_id AS cent_id,
           row_number() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {d2("s.sv", "c.sv")}, c.vec_id) AS rn
    FROM sub s JOIN sub c ON c.vec_id < {_PQ_K} AND c.m = s.m
  ) WHERE rn = 1
), parts AS (
  SELECT q.vec_id AS qid, k.vec_id AS cid, k.m, {d2("q.sv", "c.sv")} AS dp
  FROM codes k
  JOIN sub c ON c.vec_id = k.cent_id AND c.m = k.m
  JOIN sub q ON q.m = k.m AND q.vec_id < {_PQ_NQ}
  JOIN lab lq ON lq.vec_id = q.vec_id
  JOIN lab lc ON lc.vec_id = k.vec_id
  WHERE q.vec_id <> k.vec_id AND lq.label = lc.label
), approx AS (
  SELECT qid, cid,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(dp ORDER BY m)),
                     (acc, x) -> acc + x) AS ad2
  FROM parts GROUP BY qid, cid
), ranked AS (
  SELECT qid, cid, ad2,
         row_number() OVER (PARTITION BY qid ORDER BY ad2, cid) AS rk
  FROM approx
)
SELECT qid, cid, round(ad2, 6) AS approx_d2, rk
FROM ranked WHERE rk <= {_PQ_TOPK}
"""


@register("q_sim_ivf_pq", oracle=_ivfpq_oracle(), tags=("llm", "similarity"))
def q_sim_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC — the FAISS-style production ANN shape: the coarse IVF
    quantizer (the ``label`` cell, as in q_sim_ivf) restricts each
    query to its own cell's inverted list, and distances within the
    cell are PQ asymmetric-distance computations against the corpus
    vectors' 4-subspace codes (the q_sim_pq codebook) — index memory
    is codes (4 small ints/vector), never raw vectors. This is the
    standard two-level composition that serves billion-vector corpora:
    cells bound the candidate count, codes bound the bytes per
    candidate.

    Scale notes: encoding is one broadcast-codebook pass (amortized:
    codes persist as a column at ingest); the probe joins the
    query's cell ONLY — at 100 TB cells are partition keys, so the
    inverted-list read is a partition-pruned scan of code columns
    (bytes ~ cell_size x 4 codes, not x dim floats). The ADC fan-out
    is M rows per candidate with map-side arithmetic; per-query top-k
    is a bounded window. All distance folds run in the oracle's
    written order — bit-deterministic. Recall loss vs exact is
    measured in-engine by q_sim_recall_eval's methodology (cell
    restriction dominates; ADC adds quantization error bounded by
    codebook fit).
    """
    emb = table(spark, sf_dir, "embeddings")
    darr = F.transform("embedding", lambda x: x.cast("double"))
    subs = emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice(darr, 1 + _PQ_SUB * m, _PQ_SUB).alias("sv"),
                    )
                    for m in range(_PQ_M)
                ]
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))
    cents = subs.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("cent_id"),
        F.col("m").alias("cm"),
        F.col("sv").alias("cv"),
    )
    scored = subs.join(F.broadcast(cents), F.col("m") == F.col("cm")).select(
        "vec_id",
        "m",
        "cent_id",
        _sq_l2(F.col("sv"), F.col("cv")).alias("d2"),
    )
    w_enc = Window.partitionBy("vec_id", "m").orderBy("d2", "cent_id")
    codes = (
        scored.withColumn("rn", F.row_number().over(w_enc))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", "cent_id")
    )
    lab = emb.select("vec_id", "label")
    # codes ⋈ labels is key-co-located (both derive from the same scan)
    coded = codes.join(lab, "vec_id").select(
        F.col("vec_id").alias("cid"), "m", "cent_id", F.col("label").alias("c_label")
    )
    cent_vecs = cents.select(
        F.col("cent_id").alias("kc"), F.col("cm").alias("km"), F.col("cv")
    )
    qsubs = (
        subs.filter(F.col("vec_id") < _PQ_NQ)
        .join(lab, "vec_id")
        .select(
            F.col("vec_id").alias("qid"),
            F.col("m").alias("qm"),
            F.col("sv").alias("qv"),
            F.col("label").alias("q_label"),
        )
    )
    parts = (
        coded.join(
            F.broadcast(cent_vecs),
            (F.col("m") == F.col("km")) & (F.col("cent_id") == F.col("kc")),
        )
        .join(
            F.broadcast(qsubs),
            (F.col("m") == F.col("qm")) & (F.col("c_label") == F.col("q_label")),
        )
        .filter(F.col("qid") != F.col("cid"))
        .select("qid", "cid", "m", _sq_l2(F.col("qv"), F.col("cv")).alias("dp"))
    )
    approx = parts.groupBy("qid", "cid").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("m", "dp"))),
            F.lit(0.0),
            lambda acc, s: acc + s["dp"],
        ).alias("ad2")
    )
    w_rank = Window.partitionBy("qid").orderBy("ad2", "cid")
    return (
        approx.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= _PQ_TOPK)
        .select(
            "qid",
            "cid",
            F.round("ad2", 6).alias("approx_d2"),
            F.col("rk").cast("long").alias("rk"),
        )
    )


# ---- range (radius) search ---------------------------------------- #
# The other half of the vector-query API: not "top-k nearest" but
# "everything within cosine >= tau of the probe" — the shape dedup
# sweeps and contamination scans use (a match is a match; the count is
# data-dependent, not fixed at k).
_RANGE_TAU = 0.20


_RANGE_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS q_emb, label AS q_label
  FROM embeddings WHERE vec_id < {N_QUERIES}
), c AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS c_emb, label AS c_label
  FROM embeddings
), scored AS (
  SELECT qid, cid,
         round(list_dot_product(q_emb, c_emb) /
               (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(c_emb, c_emb))),
               6) AS cosine
  FROM q JOIN c ON qid <> cid AND q_label = c_label
)
SELECT qid, cid, cosine
FROM scored
WHERE cosine >= {_RANGE_TAU}
"""


@register("q_sim_range_search", oracle=_RANGE_ORACLE, tags=("llm", "similarity"))
def q_sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius query: every same-cell vector with cosine >= tau of each
    probe vector — the data-dependent-cardinality twin of q_sim_topk
    (no window/rank stage at all: the threshold is a plain filter).

    Scale notes: identical candidate-generation shape to q_sim_ivf
    (broadcast the tiny probe side, restrict to the probe's coarse
    cell), but the post-join operator is a pure narrow FILTER instead
    of a per-key window sort — no shuffle after the join, so the radius
    sweep is strictly cheaper than top-k at the same probe set. At
    100 TB the cell restriction IS the index (cells = partition keys;
    a probe touches only its cell's files), and tau bounds the output
    before anything wide happens. This is the primitive behind
    "find every near-duplicate of this known-bad document" abuse
    sweeps and targeted decontamination.
    """
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
        _norm(F.col("embedding")).alias("q_norm"),
    )
    c = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("c_emb"),
        F.col("label").alias("c_label"),
        _norm(F.col("embedding")).alias("c_norm"),
    )
    cos = F.round(
        _dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm")), 6
    )
    return (
        F.broadcast(q)
        .join(c, (F.col("qid") != F.col("cid")) & (F.col("q_label") == F.col("c_label")))
        .select("qid", "cid", cos.alias("cosine"))
        .filter(F.col("cosine") >= _RANGE_TAU)
    )


# ---- Matryoshka / adaptive retrieval ------------------------------- #
# Two-tier scoring with ONE embedding column: a cheap coarse pass over
# the first _MRL_DIM dimensions (Matryoshka-style truncation) selects
# _MRL_CAND candidates per probe, then the full-dimension exact cosine
# reranks them to top-5. The production "adaptive retrieval" shape:
# prefix dims are 4x cheaper to score and the rerank touches only the
# shortlist.
_MRL_DIM = 16
_MRL_CAND = 20


_MRL_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS q_emb, label AS q_label
  FROM embeddings WHERE vec_id < {N_QUERIES}
), c AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS c_emb, label AS c_label
  FROM embeddings
), coarse AS (
  SELECT qid, cid, q_emb, c_emb,
         round(list_dot_product(q_emb[1:{_MRL_DIM}], c_emb[1:{_MRL_DIM}]) /
               (sqrt(list_dot_product(q_emb[1:{_MRL_DIM}], q_emb[1:{_MRL_DIM}])) *
                sqrt(list_dot_product(c_emb[1:{_MRL_DIM}], c_emb[1:{_MRL_DIM}]))),
               6) AS ccos
  FROM q JOIN c ON qid <> cid AND q_label = c_label
), shortlist AS (
  SELECT qid, cid, q_emb, c_emb,
         row_number() OVER (PARTITION BY qid ORDER BY ccos DESC, cid) AS crk
  FROM coarse
), reranked AS (
  SELECT qid, cid,
         round(list_dot_product(q_emb, c_emb) /
               (sqrt(list_dot_product(q_emb, q_emb)) *
                sqrt(list_dot_product(c_emb, c_emb))), 6) AS cosine
  FROM shortlist WHERE crk <= {_MRL_CAND}
)
SELECT qid, cid, cosine, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT qid, cid, cosine,
         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rk
  FROM reranked
)
WHERE rk <= {TOP_K}
"""


@register("q_sim_matryoshka", oracle=_MRL_ORACLE, tags=("llm", "similarity"))
def q_sim_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style adaptive retrieval: score the 16-dim embedding
    PREFIX to shortlist 20 candidates per probe (cell-restricted), then
    rerank the shortlist with the exact full-dimension cosine to top-5.

    Scale notes: the coarse pass is the same broadcast-probe /
    cell-restricted join shape as q_sim_ivf but touches only dim/4 of
    each vector — at 100 TB this is the difference between streaming
    16 floats and 64 (or 256 vs 3072 for production embedding sizes)
    through the scoring loop, and prefix dims need no separate index
    because Matryoshka training orders information by dimension. The
    rerank tier reads full vectors for candidates ONLY (bounded at
    probes x 20 rows), so full-width vectors never enter a wide join.
    Both tiers are JVM higher-order functions; the per-probe windows
    rank frames bounded by the candidate cap.
    """
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    c = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("c_emb"),
        F.col("label").alias("c_label"),
    )
    qp = F.slice("q_emb", 1, _MRL_DIM)
    cp = F.slice("c_emb", 1, _MRL_DIM)
    ccos = F.round(
        _dot(qp, cp) / (F.sqrt(_dot(qp, qp)) * F.sqrt(_dot(cp, cp))), 6
    )
    coarse = (
        F.broadcast(q)
        .join(c, (F.col("qid") != F.col("cid")) & (F.col("q_label") == F.col("c_label")))
        .select("qid", "cid", "q_emb", "c_emb", ccos.alias("ccos"))
    )
    w_c = Window.partitionBy("qid").orderBy(F.col("ccos").desc(), "cid")
    shortlist = (
        coarse.withColumn("crk", F.row_number().over(w_c))
        .filter(F.col("crk") <= _MRL_CAND)
    )
    cosine = F.round(
        _dot(F.col("q_emb"), F.col("c_emb"))
        / (_norm(F.col("q_emb")) * _norm(F.col("c_emb"))),
        6,
    )
    w_r = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), "cid")
    return (
        shortlist.select("qid", "cid", cosine.alias("cosine"))
        .withColumn("rk", F.row_number().over(w_r).cast("long"))
        .filter(F.col("rk") <= TOP_K)
    )


# ---- k-NN graph construction ----------------------------------------- #
# The batch composition ANN pipelines feed into clustering / SemDeDup /
# label propagation: EVERY vector gets its k nearest neighbors, not
# just a query set. Round-8 rework of the round-7 'weak' finding:
# blocking on the raw label alone made per-cell pair counts quadratic
# in corpus size (SCALE.md's 100x sweep excluded it). The cell key is
# now the corpus-size-adaptive (label, subcell) from the shared
# CELL_BITS_LADDER (llm/dedup.py — the exact blocking q_dedup_embedding
# runs), so expected cell depth stays <= CELL_TARGET at any scale.
# Because a true nearest neighbor can sit across a subcell boundary
# (unlike dedup, where cross-cell misses are the documented recall
# tradeoff), the probe side enumerates its own subcell PLUS every
# single-bit flip of the active prefix — hamming<=1 multi-probe, the
# standard LSH recall recovery (per-vector candidates ~ (cbits+1) *
# CELL_TARGET, still linear overall). Neighbors at hamming >= 2 are
# out of recall by contract; q_sim_recall_eval measures this class of
# approximation. At driver gate scales the ladder picks cbits=0, the
# probe list degrades to the identity and the output is bit-identical
# to plain label blocking.
_KNN_K = 3

# identity probe + one flip per active prefix bit; all values distinct,
# so each (a,b) candidate pair materializes exactly once (a.probe hits
# b.subcell iff hamming(a,b) <= 1, a symmetric relation)
_KNN_PROBES_SQL = (
    "concat(array(subcell), transform(sequence(0, cbits - 1), "
    "p -> subcell ^ shiftleft(cast(1 as bigint), p)))"
)

# Probe radius scales with cell depth (VERDICT r9 #4): on the n=4000
# single-label contract corpus the ladder picks cb=4 (256*2^4 = 4096;
# rounds 8-9 mislabeled this rung cb=6), where hamming<=1 recall@3
# measured 0.537 while hamming<=2 measured 0.859 at 1.5x wall (28.8 s
# -> 43.0 s, probes 5 -> 11/vector). Policy: radius 2 from cbits >= 4,
# radius 1 below (cb=2's ring is small enough that radius 1 already
# measured 0.866). At deeper rungs (cb=10 at 100x) radius-2 probes
# grow as 1 + cb + C(cb,2) — still linear in the corpus. Mirrored
# EXACTLY in the oracle's probes CTE; candidate pairs still
# materialize once (all probe values distinct).
_KNN_RADIUS2_MIN_CBITS = 4
_KNN_PROBES_R2_SQL = (
    "concat(array(subcell), "
    "transform(sequence(0, cbits - 1), "
    "p -> subcell ^ shiftleft(cast(1 as bigint), p)), "
    "flatten(transform(sequence(0, cbits - 2), p -> "
    "transform(sequence(p + 1, cbits - 1), q -> "
    "subcell ^ shiftleft(cast(1 as bigint), p) "
    "^ shiftleft(cast(1 as bigint), q)))))"
)

_KNN_ORACLE = f"""
WITH aug AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
), {{cell_ctes}}, normed AS (
  SELECT vec_id, label, emb, subcell,
         sqrt(list_dot_product(emb, emb)) AS nrm
  FROM cells
), probes AS (
  SELECT vec_id, label, emb, nrm,
         unnest(CASE WHEN cbits >= {{r2min}} THEN list_concat(
             list_concat([subcell],
                 list_transform(range(0, cbits),
                     p -> xor(subcell, CAST(1 AS BIGINT) << p))),
             flatten(list_transform(range(0, cbits - 1), p ->
                 list_transform(range(p + 1, cbits), q ->
                     xor(xor(subcell, CAST(1 AS BIGINT) << p),
                         CAST(1 AS BIGINT) << q)))))
           ELSE list_concat([subcell],
             list_transform(range(0, cbits),
                 p -> xor(subcell, CAST(1 AS BIGINT) << p)))
           END) AS probe
  FROM normed CROSS JOIN cellparams
), scored AS (
  SELECT p.vec_id, c.vec_id AS nbr_id,
         round(list_dot_product(p.emb, c.emb) / (p.nrm * c.nrm), 6) AS cosine
  FROM probes p JOIN normed c
    ON p.label = c.label AND p.probe = c.subcell AND p.vec_id <> c.vec_id
), ranked AS (
  SELECT vec_id, nbr_id, cosine,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, nbr_id) AS rk
  FROM scored
)
SELECT vec_id, nbr_id, cosine, rk FROM ranked WHERE rk <= {_KNN_K}
"""


def _knn_oracle() -> str:
    from pokertracker_cassandra_st_spark.llm.dedup import _cell_subcell_ctes

    return _KNN_ORACLE.format(cell_ctes=_cell_subcell_ctes(), r2min=_KNN_RADIUS2_MIN_CBITS)


@register("q_sim_knn_graph", oracle=_knn_oracle(), tags=("llm", "similarity"))
def q_sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive-cell k-NN graph: every vector's top-3 neighbors by
    cosine among candidates within hamming<=1 of its (label, subcell)
    cell (hamming<=2 from cbits >= 4 — the radius scales with cell
    depth; rounded to 6dp before ranking in BOTH engines; ties broken
    by neighbor id) — the adjacency input for graph-based dedup /
    clustering stages (q_dedup_components consumes exactly this edge
    shape).

    Scale notes: the multi-probe side explodes each vector into
    cbits+1 probe keys (a narrow map), then ONE shuffle co-locates
    candidates on (label, subcell); per-cell work is depth-bounded by
    the CELL_BITS_LADDER (expected <= CELL_TARGET per cell), so total
    pair count stays ~O(n * (cbits+1) * CELL_TARGET) — linear in the
    corpus, never all-pairs. Norms are precomputed once per vector,
    the pair join multiplies JVM HOF dot products only, and the
    window's per-vector top-k holds k rows per heap.
    """
    from pokertracker_cassandra_st_spark.llm.dedup import _with_subcell

    v = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").alias("emb"),
        "label",
        _norm(F.col("embedding")).alias("nrm"),
    )
    cells = _with_subcell(v, keep_bits=True)
    # sequence(0, -1) yields a DESCENDING [0, -1] in Spark, so the
    # cbits=0 rung must short-circuit to the bare identity probe;
    # deep rungs (cbits >= 4) widen to hamming<=2 (see the radius
    # policy comment above — measured 0.537 -> 0.859 recall at cb=4)
    probe_list = (
        F.when(F.col("cbits") == 0, F.array(F.col("subcell")))
        .when(
            F.col("cbits") >= _KNN_RADIUS2_MIN_CBITS,
            F.expr(_KNN_PROBES_R2_SQL),
        )
        .otherwise(F.expr(_KNN_PROBES_SQL))
    )
    a = cells.select(
        "vec_id", "emb", "nrm", "label", F.explode(probe_list).alias("probe")
    ).alias("a")
    # SHUFFLE_HASH: both sides are the corpus — the local size estimate
    # would broadcast one copy against the other, a toy-scale-only
    # shape; the cluster-correct plan shuffles both sides once on the
    # cell key so each cell's bounded quadratic stays partition-local.
    b = (
        cells.select(
            F.col("vec_id").alias("nbr_id"),
            F.col("emb").alias("b_emb"),
            F.col("nrm").alias("b_nrm"),
            F.col("label").alias("b_label"),
            "subcell",
        )
        .hint("shuffle_hash")
        .alias("b")
    )
    cos = F.round(
        _dot(F.col("a.emb"), F.col("b_emb")) / (F.col("a.nrm") * F.col("b_nrm")), 6
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cosine").desc(), F.col("nbr_id"))
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b_label"))
            & (F.col("a.probe") == F.col("b.subcell"))
            & (F.col("a.vec_id") != F.col("nbr_id")),
        )
        .select(F.col("a.vec_id").alias("vec_id"), "nbr_id", cos.alias("cosine"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _KNN_K)
        .select("vec_id", "nbr_id", "cosine", F.col("rk").cast("long").alias("rk"))
    )


# ---- q_sim_hybrid_search ---------------------------------------------- #
# The RAG retrieval stack: lexical BM25 over an inverted-posting join +
# vector cosine top-k, fused by reciprocal-rank fusion (RRF, Cormack et
# al.) — the hybrid shape production retrieval runs because neither
# signal alone survives both paraphrase and keyword queries. Query set:
# five corpus documents (doc_id % 100 == 7, < 500) playing the role of
# incoming queries against everything else.
#
# Determinism doctrine: BM25 per-term scores are computed from exact
# integers (tf, df, N, doc/avg lengths) and quantized to 1e-12 scaled
# longs BEFORE the per-(query, doc) sum (the PSI/KL ln() rule), so the
# text rank orders exact integers; the vector rank orders 6dp-rounded
# cosines (the q_sim_topk rule); RRF then maps two int ranks through a
# fixed expression — every rank is tie-broken by doc id.
_HYB_K1 = 1.2
_HYB_B = 0.75
_HYB_SIDE_K = 20
_HYB_K = 5
_HYB_RRF = 60
_HYB_Q = 12

_HYBRID_ORACLE = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, t AS term FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
  ) WHERE t <> ''
), tf AS MATERIALIZED (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), dl AS MATERIALIZED (
  SELECT doc_id, count(*) AS len_d FROM toks GROUP BY doc_id
), stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM documents) AS avglen
  FROM toks
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), qt AS (
  SELECT DISTINCT tf.doc_id AS qid, tf.term
  FROM tf JOIN df USING (term) CROSS JOIN stats
  WHERE tf.doc_id % 100 = 7 AND tf.doc_id < 500
    AND df * 2 <= n_docs
), bm AS (
  SELECT q.qid, tf.doc_id,
         sum(CAST(round(
           ln(1 + (n_docs - df + 0.5) / (df + 0.5))
           * tf.tf * ({_HYB_K1} + 1)
           / (tf.tf + {_HYB_K1} * (1 - {_HYB_B} + {_HYB_B} * dl.len_d / avglen))
           * 1e{_HYB_Q}) AS BIGINT)) AS score_q
  FROM qt q
  JOIN tf ON tf.term = q.term AND tf.doc_id <> q.qid
  JOIN df ON df.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY q.qid, tf.doc_id
), trank AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY score_q DESC, doc_id)
           AS rt
  FROM bm QUALIFY rt <= {_HYB_SIDE_K}
), qv AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS q_emb
  FROM embeddings WHERE vec_id % 100 = 7 AND vec_id < 500
), cv AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS c_emb FROM embeddings
), vrank AS (
  SELECT qid, vec_id AS doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id)
           AS rv
  FROM (
    SELECT qid, vec_id,
           round(list_dot_product(q_emb, c_emb) /
                 (sqrt(list_dot_product(q_emb, q_emb)) *
                  sqrt(list_dot_product(c_emb, c_emb))), 6) AS cosine
    FROM qv JOIN cv ON vec_id <> qid
  ) QUALIFY rv <= {_HYB_SIDE_K}
), fused AS (
  SELECT coalesce(t.qid, v.qid) AS qid,
         coalesce(t.doc_id, v.doc_id) AS doc_id,
         coalesce(1.0 / ({_HYB_RRF} + t.rt), 0.0)
           + coalesce(1.0 / ({_HYB_RRF} + v.rv), 0.0) AS rrf,
         CASE WHEN t.qid IS NOT NULL AND v.qid IS NOT NULL THEN 'both'
              WHEN t.qid IS NOT NULL THEN 'text' ELSE 'vec' END AS src
  FROM trank t FULL OUTER JOIN vrank v
    ON t.qid = v.qid AND t.doc_id = v.doc_id
)
SELECT qid, doc_id, round(rrf, 6) AS rrf, src,
       row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id)
         AS frank
FROM fused QUALIFY frank <= {_HYB_K}
"""


@register("q_sim_hybrid_search", oracle=_HYBRID_ORACLE, tags=("llm", "similarity", "text"))
def q_sim_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 (k1=1.2, b=0.75, stopword terms with
    df > N/2 dropped from queries) and cosine similarity each produce
    a top-20 list per query document; reciprocal-rank fusion
    (1/(60+rank), summed across the lists a doc appears in) picks the
    final top-5 — the lexical+dense retrieval stack behind RAG
    pipelines and contamination checks.

    Scale notes: the BM25 candidate join is the inverted-index shape —
    (query-term x posting-list) keyed on term, payloads are
    (qid, doc_id, tf) only; the df > N/2 stopword drop removes exactly
    the keys that would run hot, and the per-(q,d) sum partial-
    aggregates map-side. Query-side frames (5 rows) broadcast; the
    corpus-sized tf/df/length frames join SHUFFLE_HASH on term/doc.
    The vector side is the q_sim_topk broadcast-probe tier; its scale
    path is IVF (q_sim_ivf). RRF then touches only 2 x top-20 rows per
    query. No floats cross an aggregation unquantized (module note).
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    # every lexical frame derives from the ONE (doc, term) tf count —
    # len_d = sum(tf) per doc, df = count per term, corpus token total
    # = sum of len_d — so the executed plan collapses the tokenize to
    # a ReusedExchange instead of re-exploding the corpus per frame
    # (the q_text_kl_divergence lesson)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("len_d"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    stats = dl.agg(F.sum("len_d").alias("n_toks")).crossJoin(
        F.broadcast(d.agg(F.count("*").alias("n_docs")))
    ).select(
        "n_docs",
        (F.col("n_toks").cast("double") / F.col("n_docs")).alias("avglen"),
    )
    is_query = (F.col("doc_id") % 100 == 7) & (F.col("doc_id") < 500)
    qt = (
        tf.filter(is_query)
        .join(df_.hint("shuffle_hash"), "term")
        .crossJoin(F.broadcast(stats))
        .filter(F.col("df") * 2 <= F.col("n_docs"))
        .select(F.col("doc_id").alias("qid"), "term")
        .distinct()
    )
    from pokertracker_cassandra_st_spark.exprs import slong

    idf = F.log(
        1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tnorm = F.col("tf") + _HYB_K1 * (
        1 - _HYB_B + _HYB_B * F.col("len_d") / F.col("avglen")
    )
    term_q = slong(idf * F.col("tf") * (_HYB_K1 + 1) / tnorm, _HYB_Q)
    bm = (
        F.broadcast(qt)
        .join(
            tf.hint("shuffle_hash"),
            (tf["term"] == qt["term"]) & (tf["doc_id"] != qt["qid"]),
        )
        .drop(qt["term"])
        # df is corpus-vocab-sized — never broadcast (the perplexity
        # count-join rule); the candidate side is already keyed on term
        .join(df_.hint("shuffle_hash"), "term")
        .join(dl.hint("shuffle_hash"), "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("qid", "doc_id")
        .agg(F.sum(term_q).alias("score_q"))
    )
    w_t = Window.partitionBy("qid").orderBy(F.desc("score_q"), "doc_id")
    trank = (
        bm.withColumn("rt", F.row_number().over(w_t))
        .filter(F.col("rt") <= _HYB_SIDE_K)
        .select("qid", "doc_id", "rt")
    )
    e = table(spark, sf_dir, "embeddings")
    qv = e.filter((F.col("vec_id") % 100 == 7) & (F.col("vec_id") < 500)).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("q_emb"),
        _norm(F.col("embedding")).alias("q_norm"),
    )
    cv = e.select(
        F.col("vec_id"),
        F.col("embedding").alias("c_emb"),
        _norm(F.col("embedding")).alias("c_norm"),
    )
    cos = F.round(
        _dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm")), 6
    )
    w_v = Window.partitionBy("qid").orderBy(F.desc("cosine"), "vec_id")
    vrank = (
        F.broadcast(qv)
        .join(cv, F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", cos.alias("cosine"))
        .withColumn("rv", F.row_number().over(w_v))
        .filter(F.col("rv") <= _HYB_SIDE_K)
        .select("qid", F.col("vec_id").alias("doc_id"), "rv")
    )
    t, v = trank.alias("t"), vrank.alias("v")
    rrf = F.coalesce(1.0 / (_HYB_RRF + F.col("t.rt")), F.lit(0.0)) + F.coalesce(
        1.0 / (_HYB_RRF + F.col("v.rv")), F.lit(0.0)
    )
    src = (
        F.when(F.col("t.qid").isNotNull() & F.col("v.qid").isNotNull(), "both")
        .when(F.col("t.qid").isNotNull(), "text")
        .otherwise("vec")
    )
    w_f = Window.partitionBy("qid").orderBy(F.desc("rrf"), "doc_id")
    return (
        t.join(
            v,
            (F.col("t.qid") == F.col("v.qid"))
            & (F.col("t.doc_id") == F.col("v.doc_id")),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("t.qid"), F.col("v.qid")).alias("qid"),
            F.coalesce(F.col("t.doc_id"), F.col("v.doc_id")).alias("doc_id"),
            rrf.alias("rrf"),
            src.alias("src"),
        )
        .withColumn("frank", F.row_number().over(w_f).cast("long"))
        .filter(F.col("frank") <= _HYB_K)
        .select("qid", "doc_id", F.round("rrf", 6).alias("rrf"), "src", "frank")
    )


# ---- q_sim_two_stage_rerank ---------------------------------------------- #
# Two-stage retrieval — the production serving shape: a cheap int8
# coarse pass scores the WHOLE corpus with exact integer dot products
# (4x less bandwidth than floats, SIMD-friendly on a real index), keeps
# NC candidates per query, and only those pay the exact float cosine.
# Determinism: the coarse score is int_dot(q8, c8) * candidate_scale_ppb
# — pure int64 (|int_dot| <= 127*127*64 ~ 1e6, scale_ppb ~ 1e7 =>
# |score| <= ~1e13); the query's own scale is constant per query so
# dropping it is rank-preserving; every rank tie-breaks by cid.
_RERANK_NC = 50


def _int8(e: Column) -> Column:
    """Symmetric per-vector int8 of a double array (q_sim_quantize's
    rule: scale = max|v|/127, half-away rounding, clamp to ±127)."""
    scale = F.array_max(F.transform(e, F.abs)) / 127.0
    return F.transform(
        e,
        lambda x: F.greatest(
            F.lit(-127),
            F.least(
                F.lit(127),
                F.when(
                    x < 0, -F.floor(F.abs(x) / scale + 0.5).cast("long")
                ).otherwise(F.floor(F.abs(x) / scale + 0.5).cast("long")),
            ),
        ),
    )


@register(
    "q_sim_two_stage_rerank",
    oracle=f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), s AS (
  SELECT vec_id, e,
         list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
  FROM v
), q8 AS (
  SELECT vec_id, e,
         list_transform(e, x -> greatest(-127, least(127,
           CASE WHEN x < 0
                THEN -CAST(floor(abs(x) / scale + 0.5) AS BIGINT)
                ELSE  CAST(floor(abs(x) / scale + 0.5) AS BIGINT)
           END))) AS qv,
         CAST(floor(scale * 1000000000 + 0.5) AS BIGINT) AS scale_ppb
  FROM s WHERE scale > 0
), qs AS (
  SELECT vec_id AS qid, e AS q_emb, qv AS q_qv
  FROM q8 WHERE vec_id < {N_QUERIES}
), cs AS (
  SELECT vec_id AS cid, e AS c_emb, qv AS c_qv, scale_ppb AS c_ppb
  FROM q8
), coarse AS (
  SELECT qid, cid, q_emb, c_emb,
         CAST(list_sum(list_transform(list_zip(q_qv, c_qv),
                                      p -> p[1] * p[2])) AS BIGINT) * c_ppb
           AS score1
  FROM qs JOIN cs ON qid <> cid
), cand AS (
  SELECT qid, cid, q_emb, c_emb, score1,
         row_number() OVER (PARTITION BY qid ORDER BY score1 DESC, cid)
           AS coarse_rk
  FROM coarse
  QUALIFY coarse_rk <= {_RERANK_NC}
), rerank AS (
  SELECT qid, cid, CAST(coarse_rk AS BIGINT) AS coarse_rk,
         round(list_dot_product(q_emb, c_emb) /
               (sqrt(list_dot_product(q_emb, q_emb)) *
                sqrt(list_dot_product(c_emb, c_emb))), 6) AS cosine
  FROM cand
)
SELECT qid, cid, cosine, coarse_rk,
       row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rk
FROM rerank
QUALIFY rk <= {TOP_K}
""",
    tags=("llm", "similarity"),
)
def q_sim_two_stage_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN: int8 coarse scoring of the full corpus (exact
    integer dot x candidate scale — rank-preserving symmetric
    quantization) keeps the top-50 per query; only those 50 pay the
    exact double cosine, returning the reranked top-5 with each hit's
    coarse rank (the recall audit column: a hit with coarse_rk near 50
    says NC is too tight).

    Scale notes: stage 1 is the only corpus-wide pass and it runs on
    int8 — on a real index 4x less memory bandwidth and SIMD-packed;
    here the quantization and integer dot are JVM HOFs fused into the
    broadcast-join stage (queries broadcast, corpus never shuffles).
    Stage 2 touches NC*queries rows — constant, corpus-independent.
    The NC knob trades recall for stage-2 cost exactly like IVF probes
    (q_sim_ivf) trade cell coverage.
    """
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    q8 = e.filter(
        F.array_max(F.transform("e", F.abs)) > 0
    ).select(
        "vec_id",
        "e",
        _int8(F.col("e")).alias("qv"),
        F.floor(
            F.array_max(F.transform("e", F.abs)) / 127.0 * 1e9 + 0.5
        )
        .cast("long")
        .alias("scale_ppb"),
    )
    qs = q8.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("e").alias("q_emb"),
        F.col("qv").alias("q_qv"),
    )
    cs = q8.select(
        F.col("vec_id").alias("cid"),
        F.col("e").alias("c_emb"),
        F.col("qv").alias("c_qv"),
        F.col("scale_ppb").alias("c_ppb"),
    )
    int_dot = F.aggregate(
        F.zip_with("q_qv", "c_qv", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # the coarse rank's hash exchange must carry ONLY (qid, cid,
    # score1) — never the 64-double embedding arrays (at corpus scale
    # that exchange is queries x corpus rows); stage 2 re-attaches
    # vectors for the NC survivors only
    coarse = (
        F.broadcast(qs.select("qid", "q_qv"))
        .join(cs.select("cid", "c_qv", "c_ppb"), F.col("qid") != F.col("cid"))
        .select("qid", "cid", (int_dot * F.col("c_ppb")).alias("score1"))
    )
    wc = Window.partitionBy("qid").orderBy(F.desc("score1"), "cid")
    cand = (
        coarse.withColumn("coarse_rk", F.row_number().over(wc))
        .filter(F.col("coarse_rk") <= _RERANK_NC)
        .select("qid", "cid", "coarse_rk")
    )
    stage2 = F.broadcast(
        cand.join(F.broadcast(qs.select("qid", "q_emb")), "qid")
    ).join(cs.select("cid", "c_emb"), "cid")
    cos = F.round(
        _dot(F.col("q_emb"), F.col("c_emb"))
        / (_norm(F.col("q_emb")) * _norm(F.col("c_emb"))),
        6,
    )
    wr = Window.partitionBy("qid").orderBy(F.desc("cosine"), "cid")
    return (
        stage2.select(
            "qid",
            "cid",
            cos.alias("cosine"),
            F.col("coarse_rk").cast("long").alias("coarse_rk"),
        )
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= TOP_K)
        .withColumn("rk", F.col("rk").cast("long"))
    )


# ---- q_sim_cell_stats ------------------------------------------------------ #
# Index-health report for the adaptive (label, subcell) ANN cells —
# the stat an index operator watches: per label, how many cells are
# live, how deep the deepest is, and the imbalance factor
# max_depth / expected_depth (in exact ppm). A hot cell is where the
# bucketed joins (knn graph, embedding dedup, SemDeDup) go quadratic;
# this query is their early-warning gauge and shares their EXACT cell
# assignment (same plane family, same ladder).


_CELL_STATS_ORACLE = """
WITH aug AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
), {cell_ctes},
per_cell AS (
  SELECT label, subcell, count(*) AS depth
  FROM cells GROUP BY label, subcell
)
SELECT label,
       count(*) AS n_cells,
       CAST(SUM(depth) AS BIGINT) AS n_vectors,
       min(depth) AS min_depth,
       max(depth) AS max_depth,
       max(depth) * count(*) * 1000000 // CAST(SUM(depth) AS BIGINT)
         AS imbalance_ppm
FROM per_cell
GROUP BY label
"""


def _cell_stats_oracle() -> str:
    from pokertracker_cassandra_st_spark.llm.dedup import _cell_subcell_ctes

    return _CELL_STATS_ORACLE.format(cell_ctes=_cell_subcell_ctes())


@register(
    "q_sim_cell_stats",
    oracle=_cell_stats_oracle(),
    tags=("llm", "similarity"),
)
def q_sim_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label ANN cell statistics: live cell count, depth band, and
    imbalance = max_depth / mean_depth in exact ppm (cross-multiplied
    integer division — no float ratio). Uses the SAME _with_subcell
    assignment as the dedup/knn tier, so the report describes exactly
    the cells those operators join on.

    Scale notes: one narrow cell-assignment pass (the ladder choice is
    a 1-row broadcast), one (label, subcell) map-side-combined count,
    then a label-bounded rollup — the whole report costs one shuffle
    of (cell key, partial count) pairs at any corpus size.
    """
    from pokertracker_cassandra_st_spark.llm.dedup import _with_subcell

    v = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("emb"), "label"
    )
    cells = _with_subcell(v)
    per_cell = cells.groupBy("label", "subcell").agg(
        F.count("*").alias("depth")
    )
    return per_cell.groupBy("label").agg(
        F.count("*").alias("n_cells"),
        F.sum("depth").cast("long").alias("n_vectors"),
        F.min("depth").alias("min_depth"),
        F.max("depth").alias("max_depth"),
        F.expr(
            "max(depth) * count(*) * 1000000 DIV CAST(sum(depth) AS BIGINT)"
        ).alias("imbalance_ppm"),
    )



# ---- q_sim_centroid_matrix --------------------------------------------------- #
# Embedding-space structure audit: pairwise cosine between LABEL
# CENTROIDS — the 10x10 (upper-triangle) map of how separable the
# coarse cells are, which is exactly what decides IVF probe counts
# (q_sim_ivf) and SemDeDup cell quality. All arithmetic is exact
# integers until one final double expression: components quantize to
# 1e-6 longs, per-label sums are int64, centroids re-quantize at 1e-6
# (floor(x + 0.5) on the same double in both engines), and dot/norm
# accumulate as exact int64 products per dimension.


@register(
    "q_sim_centroid_matrix",
    oracle="""
WITH base AS (
  SELECT label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
), ex AS (
  SELECT label, emb, CAST(generate_subscripts(emb, 1) AS INT) AS pos
  FROM base
), comp AS (
  SELECT label, pos,
         CAST(floor(emb[pos] * 1000000 + 0.5) AS BIGINT) AS q
  FROM ex
), cent AS (
  SELECT label, pos,
         CAST(floor(CAST(SUM(q) AS DOUBLE) / count(*) + 0.5) AS BIGINT)
           AS cq
  FROM comp GROUP BY label, pos
), pair AS (
  SELECT a.label AS label_a, b.label AS label_b,
         CAST(SUM(a.cq * b.cq) AS BIGINT) AS dot
  FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
  GROUP BY 1, 2
), nrm AS (
  SELECT label, CAST(SUM(cq * cq) AS BIGINT) AS nsq FROM cent GROUP BY label
)
SELECT p.label_a, p.label_b,
       round(CAST(p.dot AS DOUBLE)
             / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))),
             6) AS cosine
FROM pair p
JOIN nrm na ON p.label_a = na.label
JOIN nrm nb ON p.label_b = nb.label
ORDER BY label_a, label_b
""",
    tags=("llm", "similarity"),
)
def q_sim_centroid_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity of label centroids (upper triangle):
    posexplode each embedding to (label, pos, q6-component), sum per
    (label, pos) in exact int64, re-quantize the centroid component at
    1e-6 (same floor(x+0.5) on the same double both engines), then
    exact-integer dot products and norms over the bounded centroid
    frame; one final double division + round.

    Scale notes: the data-sized stage is ONE narrow (label, pos, long)
    shuffle with map-side partial sums — 64 rows per input vector, no
    payload. Everything after lives on labels x 64 rows, and the
    pairwise join is bounded by the label count squared (structure
    audit output, not data). This is the exact-arithmetic version of
    "are my IVF cells well separated" — the knob q_sim_ivf's recall
    depends on.
    """
    emb = table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos0", "x"
        ),
    ).select(
        "label",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.floor(F.col("x") * 1_000_000 + 0.5).cast("long").alias("q"),
    )
    cent = comp.groupBy("label", "pos").agg(
        F.floor(
            F.sum("q").cast("double") / F.count("*") + 0.5
        )
        .cast("long")
        .alias("cq")
    )
    a = cent.select(
        F.col("label").alias("label_a"), "pos", F.col("cq").alias("cqa")
    )
    b = cent.select(
        F.col("label").alias("label_b"),
        F.col("pos").alias("posb"),
        F.col("cq").alias("cqb"),
    )
    pair = (
        a.join(
            b,
            (F.col("pos") == F.col("posb"))
            & (F.col("label_a") < F.col("label_b")),
        )
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("cqa") * F.col("cqb")).alias("dot"))
    )
    nrm = cent.groupBy("label").agg(
        F.sum(F.col("cq") * F.col("cq")).alias("nsq")
    )
    na = nrm.select(F.col("label").alias("label_a"), F.col("nsq").alias("nsqa"))
    nb = nrm.select(F.col("label").alias("label_b"), F.col("nsq").alias("nsqb"))
    return (
        pair.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("nsqa").cast("double"))
                    * F.sqrt(F.col("nsqb").cast("double"))
                ),
                6,
            ).alias("cosine"),
        )
        .orderBy("label_a", "label_b")
    )


# ---- q_sim_threshold_sweep --------------------------------------------------- #
# Dedup-threshold tuning: how many near-duplicate PAIRS exist at
# cosine >= 0.95 / 0.90 / 0.80, per label, WITHIN the corpus-size-
# adaptive (label, subcell) blocking cells the SemDeDup family
# actually dedups in (dedup.CELL_BITS_LADDER: cb=0 at gate scales —
# identical to plain label cells — deeper splits at 10x/100x keep
# expected cell depth <= CELL_TARGET, so pair volume stays
# ~O(n * CELL_TARGET), never quadratic in corpus size; the first cut
# of this operator joined raw label cells and the 100x sweep showed
# exactly the quadratic pair blow-up the ladder exists to prevent).
# ZERO floats: with q6-quantized components, cos >= tau (tau > 0,
# rational p/10000) iff dot > 0 AND 10000*dot^2 >= p*nsqa*nsqb,
# evaluated in exact DECIMAL(38,0) — boundary pairs (exact duplicates
# land EXACTLY on cos = 1) classify identically in both engines.


def _threshold_sweep_oracle() -> str:
    from pokertracker_cassandra_st_spark.llm.dedup import _cell_subcell_ctes

    return f"""
WITH aug AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
), {_cell_subcell_ctes()}, qt AS (
  SELECT vec_id, label, subcell,
         list_transform(emb, x -> CAST(CASE WHEN x < 0
             THEN -floor(-x * 1000000 + 0.5)
             ELSE  floor( x * 1000000 + 0.5) END AS BIGINT)) AS q
  FROM cells
), nrm AS (
  SELECT vec_id, label, subcell, q,
         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(q, x -> x * x)), (a, x) -> a + x) AS BIGINT)
           AS nsq
  FROM qt
), pairs AS (
  SELECT a.label,
         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(1, 65), i -> a.q[i] * b.q[i])),
              (acc, x) -> acc + x) AS BIGINT) AS dot,
         a.nsq AS na, b.nsq AS nb
  FROM nrm a JOIN nrm b
    ON a.label = b.label AND a.subcell = b.subcell
   AND a.vec_id < b.vec_id
  WHERE a.nsq > 0 AND b.nsq > 0
)
SELECT label,
       count(*) AS n_pairs,
       CAST(SUM(CASE WHEN dot > 0 AND
              10000 * CAST(dot AS DECIMAL(38,0)) * CAST(dot AS DECIMAL(38,0))
              >= 9025 * CAST(na AS DECIMAL(38,0)) * CAST(nb AS DECIMAL(38,0))
            THEN 1 ELSE 0 END) AS BIGINT) AS dup_95,
       CAST(SUM(CASE WHEN dot > 0 AND
              10000 * CAST(dot AS DECIMAL(38,0)) * CAST(dot AS DECIMAL(38,0))
              >= 8100 * CAST(na AS DECIMAL(38,0)) * CAST(nb AS DECIMAL(38,0))
            THEN 1 ELSE 0 END) AS BIGINT) AS dup_90,
       CAST(SUM(CASE WHEN dot > 0 AND
              10000 * CAST(dot AS DECIMAL(38,0)) * CAST(dot AS DECIMAL(38,0))
              >= 6400 * CAST(na AS DECIMAL(38,0)) * CAST(nb AS DECIMAL(38,0))
            THEN 1 ELSE 0 END) AS BIGINT) AS dup_80
FROM pairs GROUP BY label ORDER BY label
"""


@register(
    "q_sim_threshold_sweep",
    oracle=_threshold_sweep_oracle(),
    tags=("llm", "similarity", "dedup"),
)
def q_sim_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pair counts at cosine thresholds 0.95/0.90/0.80
    per label, generated WITHIN the adaptive (label, subcell) blocking
    cells shared with q_dedup_semantic (cb=0 at gate scales makes the
    cell key degrade to the plain label; at 10x/100x the ladder keeps
    expected cell depth <= CELL_TARGET so the self-join's pair volume
    stays linear in the corpus). The threshold test compares
    10000*dot^2 against p*nsqa*nsqb in exact DECIMAL(38,0)
    (p = 9025/8100/6400), so boundary pairs — exact duplicates sit
    exactly on cos=1 — agree by construction; zero-norm vectors are
    excluded (cosine undefined) identically on both sides.

    Scale notes: this measures the thresholds where the SemDeDup
    family would actually cut, inside the same cells it cuts in —
    cross-cell pairs are out of scope by the documented blocking
    trade. All three thresholds ride one pass as conditional sums; the
    per-pair payload through the join is the two quantized vectors,
    bounded by cell depth, not corpus size.
    """
    from pokertracker_cassandra_st_spark.llm.dedup import _with_subcell

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    cells = _with_subcell(emb)
    qcol = F.transform(
        "emb",
        lambda x: (F.signum(x) * F.floor(F.abs(x) * 1_000_000 + 0.5)).cast(
            "long"
        ),
    )
    nsq = F.aggregate(
        F.transform(F.col("q"), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    # optimization r13 (guide §5): nrm feeds both pair-join sides —
    # each re-ran the quantize + norm pass (and, pre-checkpoint, the
    # whole subcell assignment) before
    nrm = ckpt.materialized(
        cells.select("vec_id", "label", "subcell", qcol.alias("q"))
        .withColumn("nsq", nsq)
        .filter(F.col("nsq") > 0)
    )
    a = nrm.select(
        "label",
        "subcell",
        F.col("vec_id").alias("ida"),
        F.col("q").alias("qa"),
        F.col("nsq").alias("na"),
    )
    b = nrm.select(
        "label",
        "subcell",
        F.col("vec_id").alias("idb"),
        F.col("q").alias("qb"),
        F.col("nsq").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(b.hint("shuffle_hash"), ["label", "subcell"])
        .filter(F.col("ida") < F.col("idb"))
        .select("label", dot.alias("dot"), "na", "nb")
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    hit = lambda p: (  # noqa: E731
        (F.col("dot") > 0)
        & (
            F.lit(10000) * d38("dot") * d38("dot")
            >= F.lit(p) * d38("na") * d38("nb")
        )
    ).cast("long")
    return (
        pairs.groupBy("label")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(hit(9025)).alias("dup_95"),
            F.sum(hit(8100)).alias("dup_90"),
            F.sum(hit(6400)).alias("dup_80"),
        )
        .orderBy("label")
    )


def _neighbor_overlap_oracle() -> str:
    # the knn edge set verbatim as a nested CTE (a CTE body is a full
    # SELECT and may carry its own WITH clause), so the two operators
    # can never drift apart
    return f"""
WITH e AS (
{_knn_oracle()}
), lab AS (SELECT vec_id, label FROM embeddings),
m AS (
  SELECT l.label, e.vec_id, e.nbr_id, e.cosine,
         EXISTS (SELECT 1 FROM e r
                 WHERE r.vec_id = e.nbr_id AND r.nbr_id = e.vec_id)
           AS mutual
  FROM e JOIN lab l ON l.vec_id = e.vec_id
)
SELECT label,
       count(*) AS n_edges,
       CAST(SUM(CASE WHEN mutual THEN 1 ELSE 0 END) AS BIGINT) AS n_mutual,
       (1000000 * CAST(SUM(CASE WHEN mutual THEN 1 ELSE 0 END) AS BIGINT))
         // count(*) AS mutual_ppm,
       CAST(SUM(CAST(round(cosine * 1000000) AS BIGINT)) AS BIGINT)
         // count(*) AS avg_cosine_e6
FROM m GROUP BY label ORDER BY label
"""


@register(
    "q_sim_neighbor_overlap",
    oracle=_neighbor_overlap_oracle(),
    tags=("llm", "similarity"),
)
def q_sim_neighbor_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN graph symmetry audit: per label, how many directed top-3
    edges are MUTUAL (the reverse edge also ranks top-3) and the mean
    edge cosine — the index-quality diagnostic behind ANN graphs
    (HNSW-family indexes degrade where neighborhoods are asymmetric;
    a low mutual share marks hub-dominated regions needing deeper
    probes). Composes q_sim_knn_graph verbatim: same edges, one
    question up.

    Determinism: edge cosines are already round-6; the mean goes
    through exact scaled-long sums (slong) with an integral divide —
    no float accumulation; mutuality is set membership, exact.

    Scale notes: the edge build inherits knn_graph's cell-bounded
    linear pair volume AND RUNS EXACTLY ONCE — the edge frame is
    localCheckpointed before the rev / left-semi / final-join fan-out,
    because a DataFrame referenced from three plan branches re-executes
    its whole subtree per branch (the documented re-reference-rescan
    trap; this query's pre-fix 100x wall was ~3x the knn build it
    composes — VERDICT r11 'What's wrong #1'; the q_text_bpe_train
    precedent).  The checkpointed edges are (3n)-rows-by-4-columns —
    executor-storage-cheap at any corpus size.  Mutuality then adds
    ONE self left-semi join of the edge list hash-partitioned on the
    (nbr, vec) pair key, and the label attach is a shuffle-hash join
    on vec_id — both edge-list-sized, never corpus-quadratic.
    """
    from pokertracker_cassandra_st_spark.exprs import slong

    # eager=False: the checkpoint still computes the knn subtree ONCE
    # (within the first action) but plan construction stays lazy —
    # eager localCheckpoint would execute the whole edge build merely
    # on DataFrame construction (explain-only paths included), and the
    # non-reliable checkpointed RDD is better materialized by the real
    # action than by query *registration*.
    e = q_sim_knn_graph(spark, sf_dir).localCheckpoint(eager=False)
    rev = e.select(
        F.col("vec_id").alias("r_vec"), F.col("nbr_id").alias("r_nbr")
    )
    mutual = e.join(
        rev.hint("shuffle_hash"),
        (F.col("vec_id") == F.col("r_nbr")) & (F.col("nbr_id") == F.col("r_vec")),
        "left_semi",
    ).select("vec_id", "nbr_id")
    lab = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    m = (
        e.join(
            mutual.withColumn("mutual", F.lit(True)).hint("shuffle_hash"),
            ["vec_id", "nbr_id"],
            "left",
        )
        .join(lab.hint("shuffle_hash"), "vec_id")
        .select(
            "label",
            F.coalesce("mutual", F.lit(False)).alias("mutual"),
            "cosine",
        )
    )
    return (
        m.groupBy("label")
        .agg(
            F.count("*").alias("n_edges"),
            F.sum(F.col("mutual").cast("long")).alias("n_mutual"),
            F.sum(slong("cosine", 6)).alias("sc"),
        )
        .select(
            "label",
            "n_edges",
            "n_mutual",
            F.expr("(1000000 * n_mutual) div n_edges").alias("mutual_ppm"),
            F.expr("sc div n_edges").alias("avg_cosine_e6"),
        )
        .orderBy("label")
    )


# ---- q_sim_dim_profile ------------------------------------------------------- #


@register(
    "q_sim_dim_profile",
    oracle="""
WITH base AS (
  SELECT CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
), ex AS (
  SELECT emb, CAST(generate_subscripts(emb, 1) AS INT) AS pos FROM base
), comp AS (
  SELECT pos - 1 AS dim,
         CAST(floor(emb[pos] * 1000000 + 0.5) AS BIGINT) AS q
  FROM ex
), d AS (
  SELECT dim,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(q) AS BIGINT) AS sum_q,
         CAST(SUM(CAST(q AS HUGEINT) * q) AS HUGEINT) AS sum_q2
  FROM comp GROUP BY dim
), t AS (
  SELECT *, SUM(sum_q2) OVER () AS tot_q2 FROM d
)
SELECT dim, n, sum_q,
       CAST(sum_q2 AS BIGINT) AS sum_q2,
       sum_q // n AS mean_q,
       CAST((1000000 * sum_q2) // tot_q2 AS BIGINT) AS energy_share_ppm,
       round((CAST(sum_q2 AS DOUBLE) - CAST(sum_q AS DOUBLE)
              * CAST(sum_q AS DOUBLE) / CAST(n AS DOUBLE))
             / (CAST(n AS DOUBLE) - 1.0) / 1e12, 9) + 0.0 AS var_unit
FROM t ORDER BY dim
""",
    tags=("llm", "similarity"),
)
def q_sim_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION embedding profile over the whole corpus: exact
    component sums/energies in e6-quantized longs, each dimension's
    share of total L2 energy (ppm), and unit-scale variance — the
    index-health audit that finds DEAD dimensions (no energy: wasted
    index width), BIASED dimensions (|mean| >> 0: a centering bug
    upstream), and energy concentration (a few dominant dims =>
    anisotropic space where cosine quantizers and PQ codebooks degrade;
    the standard pre-check before training an IVF/PQ index).

    Cross-engine determinism: components quantize by the family's
    floor(x*1e6 + 0.5) form; all sums are exact BIGINT/HUGEINT; the
    mean and energy share are integer divisions (nonnegative
    denominators; mean_q uses the engines' shared truncating integer
    division on the signed numerator — Spark `div` == DuckDB integer
    `//`, both truncate toward zero); var_unit derives from the same
    exact integers through one shared expression with the signed-zero
    epilogue.

    Scale notes: ONE scan; posexplode emits narrow (dim, q) pairs that
    partial-aggregate map-side down to a dim-bounded frame (64 rows
    here; any real index width stays in the thousands), so the
    exchange carries dims x partials, never vectors; the energy total
    rides an empty-frame window on the bounded frame (no rescan).
    """
    comp = (
        table(spark, sf_dir, "embeddings")
        .select(F.posexplode("embedding").alias("dim", "x"))
        .select(
            "dim",
            F.expr(
                "CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)"
            ).alias("q"),
        )
    )
    d = comp.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("q").alias("sum_q"),
        F.sum(F.col("q").cast("decimal(38,0)") * F.col("q")).alias("_q2"),
    )
    t = d.withColumn("tot_q2", F.sum("_q2").over(Window.partitionBy()))
    return t.select(
        "dim",
        "n",
        "sum_q",
        F.col("_q2").cast("long").alias("sum_q2"),
        F.expr("sum_q div n").alias("mean_q"),
        F.expr("CAST((1000000 * _q2) div tot_q2 AS BIGINT)").alias(
            "energy_share_ppm"
        ),
        F.expr(
            "round((CAST(_q2 AS DOUBLE) - CAST(sum_q AS DOUBLE)"
            " * CAST(sum_q AS DOUBLE) / CAST(n AS DOUBLE))"
            " / (CAST(n AS DOUBLE) - 1.0) / 1e12, 9) + 0.0"
        ).alias("var_unit"),
    ).orderBy("dim")
