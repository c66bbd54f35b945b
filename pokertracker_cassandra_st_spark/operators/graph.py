"""Graph operator: unrolled PageRank over the customer-supplier
bipartite trade graph.

Iterative graph algorithms on Spark are expressed as REPEATED JOINS
against a stable edge table (the Pregel-as-joins pattern: each
iteration is contribution-scatter = edges ⋈ ranks, then
gather = groupBy(dst).sum). This module unrolls two propagation steps
of PageRank (customers -> suppliers -> customers, damping 0.85) so the
whole computation is ONE Catalyst plan the optimizer can pipeline —
the shape an iterative driver loop would produce per step, minus the
per-step job-submission overhead.

Determinism: ranks are scaled longs (1e9 = rank 1.0) and every
division is integer division, mirrored exactly in the oracle — no
float accumulation order to diverge. dedup.py's connected-components
query (llm/dedup.py) is the other graph op in the engine; both use the
same edges-as-DataFrame representation.

Scale notes: the edge table shuffles once per direction on its join
key; contributions are (node, long) pairs — narrow. Degree tables are
per-node aggregates (broadcastable below ~100M nodes). An iterative
version at 100 TB would checkpoint ranks between steps to truncate
lineage; unrolling two steps keeps this a single exchange-reusing plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pokertracker_cassandra_st_spark import ckpt
from pokertracker_cassandra_st_spark.catalog import table
from pokertracker_cassandra_st_spark.registry import register

_R0 = 1_000_000_000  # initial rank 1.0, scaled 1e9
_BASE = 150_000_000  # (1 - 0.85) scaled


def _trade_edges(
    spark: SparkSession, sf_dir: str, drop_null_cust: bool = False
) -> DataFrame:
    """Distinct customer->supplier trade edges, built ONCE per query
    invocation and materialized (see ckpt.materialized): the bipartite
    graph every c/s-family query re-derived per reference before."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    if drop_null_cust:
        o = o.filter(F.col("o_custkey").isNotNull())
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    return ckpt.materialized(edges)


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct part co-purchase edges (p1 < p2), built ONCE per query
    and materialized.  Built by basket aggregation + row-local pair
    explode instead of the two-sided lineitem self-join (guide §2.4:
    one exchange on the order key replaces the join's two fact
    exchanges; pair fan-out is C(basket, 2), identical to the join's).
    The null filters mirror the self-join's null-rejecting equi/< keys
    exactly, so the edge set is value-identical."""
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(
            F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull()
        )
    )
    baskets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    pairs = (
        baskets.select(F.explode("ps").alias("p1"), "ps")
        .select("p1", F.explode("ps").alias("p2"))
        .filter(F.col("p1") < F.col("p2"))
    )
    return ckpt.materialized(pairs.select("p1", "p2").distinct())


def _oriented_triangles(edges: DataFrame) -> DataFrame:
    """Every triangle of the undirected edge set, exactly once, via
    DEGREE-ordered orientation (optimization r13 — the 'degree-ordered
    variant' the triangle docstring documented; Suri & Vassilvitskii's
    MR orientation): each edge is directed from its (degree, id)-lower
    endpoint to the higher, so every wedge is centered at its
    (degree, id)-minimal vertex and wedge fan-out is sum(out_deg²)
    = O(m^1.5) instead of sum(deg²) — the ID-oriented form fanned out
    quadratically on hub parts (measured 8.7 s vs 3.3 s at sf0.1 for
    q_graph_triangle_count end to end).

    Output columns (a, b, c) are the triangle's three distinct nodes
    (a = the minimal-degree corner); consumers use only the vertex
    multiset / row count, both invariant under the corner relabeling
    vs the old a<b<c orientation.
    """
    deg = (
        edges.select(F.col("p1").alias("node"))
        .unionAll(edges.select(F.col("p2").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("dg"))
    )
    d1 = deg.select(F.col("node").alias("p1"), F.col("dg").alias("dg1"))
    d2 = deg.select(F.col("node").alias("p2"), F.col("dg").alias("dg2"))
    ed = edges.join(d1.hint("shuffle_hash"), "p1").join(
        d2.hint("shuffle_hash"), "p2"
    )
    fwd = (F.col("dg1") < F.col("dg2")) | (
        (F.col("dg1") == F.col("dg2")) & (F.col("p1") < F.col("p2"))
    )
    o = ckpt.materialized(
        ed.select(
            F.when(fwd, F.col("p1")).otherwise(F.col("p2")).alias("u"),
            F.when(fwd, F.col("p2")).otherwise(F.col("p1")).alias("v"),
            F.when(fwd, F.col("dg2")).otherwise(F.col("dg1")).alias("dv"),
        )
    )
    o1 = o.alias("o1")
    o2 = o.alias("o2")
    # wedge (v1, v2) at center u, canonicalized so (deg, id) of v1 is
    # below v2's — which is exactly the stored orientation of the
    # closing edge, so one equi semi-probe on (u=v1, v=v2) suffices
    wedges = o1.join(
        o2,
        (F.col("o1.u") == F.col("o2.u"))
        & (
            (F.col("o1.dv") < F.col("o2.dv"))
            | (
                (F.col("o1.dv") == F.col("o2.dv"))
                & (F.col("o1.v") < F.col("o2.v"))
            )
        ),
    ).select(
        F.col("o1.u").alias("a"),
        F.col("o1.v").alias("b"),
        F.col("o2.v").alias("c"),
    )
    closing = o.select(F.col("u").alias("b"), F.col("v").alias("c"))
    # default strategy (sort-merge) deliberately: a shuffle_hash hint
    # here builds a hash table over the CORPUS-LINEAR edge set per
    # partition — the exact shape that OOM'd the near-minhash composite
    # key joins at the 100x rung (llm/dedup.py doctrine); measured at
    # parity locally, so the spill-graceful strategy wins
    return wedges.join(closing, ["b", "c"], "left_semi")

_PAGERANK_ORACLE = f"""
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), deg_c AS (
  SELECT c, count(*) AS dc FROM edges GROUP BY c
), deg_s AS (
  SELECT s, count(*) AS ds FROM edges GROUP BY s
), rank_s AS (
  SELECT e.s,
         {_BASE} + CAST(850 * sum({_R0} // d.dc) // 1000 AS BIGINT) AS rs
  FROM edges e JOIN deg_c d ON e.c = d.c
  GROUP BY e.s
), rank_c AS (
  SELECT e.c,
         {_BASE} + CAST(850 * sum(r.rs // d.ds) // 1000 AS BIGINT) AS rank_scaled
  FROM edges e JOIN rank_s r ON e.s = r.s JOIN deg_s d ON e.s = d.s
  GROUP BY e.c
)
SELECT c AS custkey, rank_scaled
FROM rank_c
ORDER BY rank_scaled DESC, custkey
LIMIT 100
"""


@register("q_graph_pagerank", oracle=_PAGERANK_ORACLE, tags=("graph",))
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled PageRank propagation steps over the distinct
    customer->supplier edge set derived from orders ⋈ lineitem,
    returning the 100 highest-ranked customers (ties broken by key).

    Step 1 pushes uniform initial rank from customers to suppliers
    (scatter rank/out-degree along edges, gather by supplier, damp);
    step 2 pushes the supplier ranks back to customers the same way.

    Optimization r13 (guide §5): edges is referenced four times
    (deg_c, deg_s, both scatter joins) — materialized once instead of
    re-deriving the orders ⋈ lineitem distinct per reference.
    """
    edges = _trade_edges(spark, sf_dir)
    deg_c = edges.groupBy("c").agg(F.count("*").alias("dc"))
    deg_s = edges.groupBy("s").agg(F.count("*").alias("ds"))

    rank_s = (
        edges.join(deg_c, "c")
        .groupBy("s")
        .agg(
            (
                F.lit(_BASE)
                + F.expr(f"850 * sum({_R0} DIV dc) DIV 1000")
            ).alias("rs")
        )
    )
    rank_c = (
        edges.join(rank_s, "s")
        .join(deg_s, "s")
        .groupBy("c")
        .agg(
            (
                F.lit(_BASE) + F.expr("850 * sum(rs DIV ds) DIV 1000")
            ).alias("rank_scaled")
        )
    )
    return (
        rank_c.select(F.col("c").alias("custkey"), "rank_scaled")
        .orderBy(F.desc("rank_scaled"), "custkey")
        .limit(100)
    )


_TRIANGLE_ORACLE = """
WITH e AS MATERIALIZED (
  -- MATERIALIZED: DuckDB inlines plain CTEs per reference; e is
  -- referenced three times (e1/e2/e3), so the inlined plan recomputed
  -- the distinct edge set thrice and spilled past the disk at the
  -- 100x rung (ENOSPC in duckdb_temp_storage — the q_graph_kcore
  -- round-8 lesson, hit here at 100x round 12).  Oracle-side planning
  -- hint only; values unchanged.
  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
  FROM lineitem a
  JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), tri AS MATERIALIZED (
  SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
  FROM e e1
  JOIN e e2 ON e1.p2 = e2.p1
  JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
), per_node AS (
  SELECT node, count(*) AS n_triangles FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
)
SELECT node AS partkey, n_triangles,
       (SELECT count(*) FROM tri) AS total_triangles
FROM per_node
ORDER BY n_triangles DESC, partkey
LIMIT 20
"""


@register("q_graph_triangle_count", oracle=_TRIANGLE_ORACLE, tags=("graph",))
def q_graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the part co-purchase graph (parts sharing
    an order are connected), via the canonical oriented edge-edge-edge
    join: every edge is stored once as (lo, hi) with lo < hi, so each
    triangle a<b<c is produced exactly once by
    e(a,b) ⋈ e(b,c) ⋈ e(a,c) — no per-triangle dedup pass needed.

    Returns the 20 parts participating in the most triangles (total
    count carried alongside), deterministic tie-break on partkey.

    Reference parity: the reference has no graph engine; this is part of
    the analytics surface mandated by BASELINE.json:6. Cites the classic
    MR triangle enumeration (Suri & Vassilvitskii, WWW'11).

    Scale notes: the wedge join e1 ⋈ e2 on the shared middle vertex is
    the expensive step — its fan-out is sum(deg^2). At 100 TB the
    standard mitigation (implemented by orientation here, documented for
    the degree-ordered variant) is to orient edges from lower- to
    higher-degree endpoints so every wedge is centered at its
    lowest-degree vertex, bounding fan-out by O(m^1.5) total. All three
    joins are equi-joins on narrow (long, long) pairs, so each is a
    plain shuffle the optimizer can plan; no all-pairs step exists.
    AQE handles the skewed middle-vertex partitions at runtime.

    Optimization r13 (guide §5, §2.4): edges is materialized once
    (it fed e1/e2/e3 as three separate lineages before — three
    edge-builds per run); the per-node counts explode the triangle
    rows in ONE pass instead of three unionAll branches (each branch
    re-ran the full wedge join); and the total rides the per-node
    frame (each triangle contributes exactly 3 node instances, so
    total = sum(n_triangles) DIV 3 — exact integers) instead of a
    fourth wedge-join execution. 74.9 s isolated -> 3.6 s at sf0.1,
    identical output.
    """
    edges = _copurchase_edges(spark, sf_dir)
    tri = _oriented_triangles(edges)
    per_node = ckpt.materialized(
        tri.select(
            F.explode(F.array("a", "b", "c")).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    total = per_node.agg(
        F.expr("sum(n_triangles) DIV 3").alias("total_triangles")
    )
    return (
        per_node.crossJoin(F.broadcast(total))
        .select(
            F.col("node").alias("partkey"), "n_triangles", "total_triangles"
        )
        .orderBy(F.desc("n_triangles"), "partkey")
        .limit(20)
    )


@register(
    "q_graph_degree_hist",
    oracle="""
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), deg AS (
  SELECT c, count(*) AS degree FROM edges GROUP BY c
)
SELECT degree,
       count(*) AS n_nodes,
       CAST(SUM(count(*)) OVER (ORDER BY degree) AS BIGINT) AS cum_nodes
FROM deg
GROUP BY degree
ORDER BY degree
""",
    tags=("graph",),
)
def q_graph_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the customer->supplier trade graph:
    out-degree per customer, histogrammed, with a cumulative count —
    the first diagnostic run on any production graph (skew detection
    before choosing join strategies).

    Scale: edges shuffle once to dedup, once to count per node; the
    histogram is an agg over |distinct degrees| rows and its cumulative
    window orders over that tiny frame only (bounded by max degree,
    never by node count).
    """
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    deg = edges.groupBy("c").agg(F.count("*").alias("degree"))
    hist = deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))
    from pyspark.sql import Window

    w = Window.orderBy("degree").rowsBetween(Window.unboundedPreceding, 0)
    return hist.select(
        "degree",
        "n_nodes",
        F.sum("n_nodes").over(w).cast("long").alias("cum_nodes"),
    ).orderBy("degree")


def common_neighbor_pairs(edges: DataFrame, salt_n: int = 1) -> DataFrame:
    """Count common neighbors per (s1, s2) pair from an (c, s) edge
    table via a self-join keyed on the shared neighbor ``c``.

    ``salt_n=1`` is the plain form the registered query uses (per-key
    fan-out is bounded on the driver fixture, and AQE's skew-join
    splitter handles moderate hot keys at runtime). ``salt_n>1`` is the
    documented hot-key remedy — the same doctrine as q_join_salted,
    adapted to a self-join: the LEFT side keys each edge with
    ``salt = hash(s) % salt_n`` so the hot neighbor's rows spread over
    ``salt_n`` reducers, and the RIGHT side replicates each edge to all
    salts so every (s1, s2) pair still meets exactly once. Correctness
    is salt-invariant (asserted on a hot-key fixture in
    tests/test_adversarial.py::test_jaccard_salted_pairgen_spreads_hot_neighbor);
    cost is an extra ``salt_n``x replication of ONE side, which is why
    it is the escalation path rather than the default."""
    e1 = edges.select(F.col("c").alias("c1"), F.col("s").alias("s1"))
    e2 = edges.select(F.col("c").alias("c2"), F.col("s").alias("s2"))
    if salt_n > 1:
        e1 = e1.withColumn("salt", F.pmod(F.xxhash64("s1"), F.lit(salt_n)))
        e2 = e2.withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(salt_n - 1)))
        ).withColumn("salt", F.col("salt").cast("long"))
        joined = e1.join(
            e2,
            (F.col("c1") == F.col("c2"))
            & (e1["salt"] == e2["salt"])
            & (F.col("s1") < F.col("s2")),
        )
    else:
        joined = e1.join(
            e2, (F.col("c1") == F.col("c2")) & (F.col("s1") < F.col("s2"))
        )
    return joined.groupBy("s1", "s2").agg(F.count("*").alias("common"))


@register(
    "q_graph_jaccard",
    oracle="""
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), deg AS (
  SELECT s, count(*) AS d FROM edges GROUP BY s
), common AS (
  SELECT e1.s AS s1, e2.s AS s2, count(*) AS common
  FROM edges e1 JOIN edges e2 ON e1.c = e2.c AND e1.s < e2.s
  GROUP BY e1.s, e2.s
)
SELECT c.s1, c.s2, c.common,
       CAST(c.common * 1000000 // (d1.d + d2.d - c.common) AS BIGINT)
         AS jaccard_ppm
FROM common c JOIN deg d1 ON c.s1 = d1.s JOIN deg d2 ON c.s2 = d2.s
ORDER BY jaccard_ppm DESC, c.s1, c.s2
LIMIT 20
""",
    tags=("graph",),
)
def q_graph_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor Jaccard similarity between supplier pairs (the
    link-prediction primitive): two suppliers are similar when the
    customer sets they trade with overlap. jaccard = |N1 ∩ N2| /
    |N1 ∪ N2|, kept exact as parts-per-million integer division.

    Scale shape: pair generation is keyed on the SHARED NEIGHBOR (the
    customer) — a self-join on c, never supplier × supplier. Per-key
    fan-out is the customer's supplier count, bounded by its order
    count (constant as the corpus grows: TPC-H-style data adds
    customers, not orders-per-customer), so candidate pairs grow O(n).
    A hot customer inflates its own block quadratically — the salting
    remedy of q_join_salted applies unchanged. Degrees join in as two
    small broadcasts; the top-20 is a TakeOrdered, no global sort.

    Optimization r13 (guide §5): edges materialized once — it fed the
    degree agg plus both self-join sides as three lineages before.
    """
    edges = _trade_edges(spark, sf_dir)
    deg = edges.groupBy("s").agg(F.count("*").alias("d"))
    common = common_neighbor_pairs(edges)
    d1 = deg.select(F.col("s").alias("s1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("s").alias("s2"), F.col("d").alias("d2"))
    return (
        common.join(F.broadcast(d1), "s1")
        .join(F.broadcast(d2), "s2")
        .select(
            "s1",
            "s2",
            "common",
            # integer DIV, not double /: both engines floor exact int64
            # quotients, so no float rounding can shave a ppm off.
            F.expr("common * 1000000L DIV (d1 + d2 - common)").alias(
                "jaccard_ppm"
            ),
        )
        .orderBy(F.desc("jaccard_ppm"), "s1", "s2")
        .limit(20)
    )


_KCORE_K = 3

# AS MATERIALIZED: DuckDB inlines plain CTEs per reference; edges/e1/e2
# are each referenced 3-5 times (degree subqueries + counts), so the
# inlined oracle recomputes the 60M-row distinct repeatedly at 100x and
# spills past any disk. Materialization changes nothing semantically.
_KCORE_ORACLE = f"""
WITH edges AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), e1 AS MATERIALIZED (
  SELECT e.c, e.s
  FROM edges e
  JOIN (SELECT c FROM edges GROUP BY c HAVING count(*) >= {_KCORE_K}) dc
    ON e.c = dc.c
  JOIN (SELECT s FROM edges GROUP BY s HAVING count(*) >= {_KCORE_K}) ds
    ON e.s = ds.s
), e2 AS MATERIALIZED (
  SELECT e.c, e.s
  FROM e1 e
  JOIN (SELECT c FROM e1 GROUP BY c HAVING count(*) >= {_KCORE_K}) dc
    ON e.c = dc.c
  JOIN (SELECT s FROM e1 GROUP BY s HAVING count(*) >= {_KCORE_K}) ds
    ON e.s = ds.s
)
SELECT * FROM (
  SELECT 0 AS round, count(*) AS n_edges,
         count(DISTINCT c) AS n_customers, count(DISTINCT s) AS n_suppliers
  FROM edges
  UNION ALL
  SELECT 1, count(*), count(DISTINCT c), count(DISTINCT s) FROM e1
  UNION ALL
  SELECT 2, count(*), count(DISTINCT c), count(DISTINCT s) FROM e2
) ORDER BY round
"""


@register("q_graph_kcore", oracle=_KCORE_ORACLE, tags=("graph",))
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two peeling rounds of {k}-core decomposition on the customer-
    supplier trade graph: drop every node with degree < {k}, recompute
    degrees on the surviving subgraph, drop again — reporting edge and
    node counts per round (round 0 = the raw graph). The k-core is the
    standard dense-substructure filter run before community detection
    or embedding training; peeling converges when a round removes
    nothing.

    Scale shape: each round is degrees (groupBy per side) + two
    semi-join filters back onto the edge list — the same Pregel-as-
    joins doctrine as q_graph_pagerank, unrolled so both rounds fuse
    into ONE Catalyst plan. Degree frames are per-node aggregates
    (shuffle carries one row per node); the edge table reshuffles on
    the filtered key each round. A full peel at 100 TB would loop
    until fixpoint with lineage checkpoints every few rounds; the
    per-round plan is exactly this shape.

    Optimization r13 (guide §5): edges / e1 / e2 are each consumed by
    a peel round AND a summary branch (3+ references each — the raw
    edge build ran 9x before); each round's survivor frame is
    materialized once.
    """
    edges = _trade_edges(spark, sf_dir)

    def peel(e: DataFrame) -> DataFrame:
        keep_c = e.groupBy("c").agg(F.count("*").alias("dc")).filter(
            F.col("dc") >= _KCORE_K
        )
        keep_s = e.groupBy("s").agg(F.count("*").alias("ds")).filter(
            F.col("ds") >= _KCORE_K
        )
        return e.join(keep_c.select("c"), "c", "left_semi").join(
            keep_s.select("s"), "s", "left_semi"
        )

    def summary(e: DataFrame, rnd: int) -> DataFrame:
        return e.agg(
            F.lit(rnd).cast("int").alias("round"),
            F.count("*").alias("n_edges"),
            F.countDistinct("c").alias("n_customers"),
            F.countDistinct("s").alias("n_suppliers"),
        )

    e1 = ckpt.materialized(peel(edges))
    e2 = ckpt.materialized(peel(e1))
    return (
        summary(edges, 0)
        .unionAll(summary(e1, 1))
        .unionAll(summary(e2, 2))
        .orderBy("round")
    )


# ---- label propagation --------------------------------------------- #
# Community detection by iterative majority vote (Raghavan et al. 2007,
# arXiv:0709.2938), unrolled two half-steps over the same bipartite
# customer->supplier edge set as q_graph_pagerank. Seeds are customer
# nations; suppliers adopt the majority label of their customer
# neighbors, then customers re-vote from supplier labels. Deterministic
# tie-break: highest count, then LOWEST label — the same argmax
# convention as q_dedup_components' min-label rule.

_LABELPROP_ORACLE = """
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE o.o_custkey IS NOT NULL
), seed AS (
  SELECT c_custkey AS c, CAST(c_nationkey AS BIGINT) AS lbl FROM customer
), s_votes AS (
  SELECT e.s, d.lbl, count(*) AS cnt
  FROM edges e JOIN seed d ON e.c = d.c
  GROUP BY e.s, d.lbl
), s_lbl AS (
  SELECT s, lbl FROM (
    SELECT s, lbl,
           row_number() OVER (PARTITION BY s ORDER BY cnt DESC, lbl) AS rn
    FROM s_votes
  ) WHERE rn = 1
), c_votes AS (
  SELECT e.c, sl.lbl, count(*) AS cnt
  FROM edges e JOIN s_lbl sl ON e.s = sl.s
  GROUP BY e.c, sl.lbl
), c_lbl AS (
  SELECT c, lbl FROM (
    SELECT c, lbl,
           row_number() OVER (PARTITION BY c ORDER BY cnt DESC, lbl) AS rn
    FROM c_votes
  ) WHERE rn = 1
)
SELECT cl.lbl AS community,
       count(*) AS n_customers,
       count(CASE WHEN cl.lbl = sd.lbl THEN 1 END) AS n_kept_seed
FROM c_lbl cl JOIN seed sd USING (c)
GROUP BY cl.lbl
"""


@register("q_graph_label_prop", oracle=_LABELPROP_ORACLE, tags=("graph",))
def q_graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled label-propagation half-steps over the customer->
    supplier trade graph: nation seeds, per-neighbor majority vote with
    a (count DESC, label ASC) deterministic tie-break, reported as the
    resulting community-size histogram + how many customers kept their
    seed label.

    Scale notes: each half-step is one shuffle of (node, label) count
    pairs — the per-node label histogram is bounded by the label
    alphabet (25 nations), so partial aggregation caps map output at
    nodes x 25; the argmax is a per-node window over that bounded
    histogram, never over raw edges. Same Pregel-as-joins doctrine as
    q_graph_pagerank; deeper iteration stacks more of the same plan
    (checkpoint between steps at cluster scale to truncate lineage).

    Optimization r13 (guide §5): edges materialized once — both vote
    half-steps consumed it as separate lineages before.
    """
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("c"), F.col("c_nationkey").cast("long").alias("lbl")
    )
    edges = _trade_edges(spark, sf_dir, drop_null_cust=True)

    def argmax_label(votes: DataFrame, node: str) -> DataFrame:
        w = Window.partitionBy(node).orderBy(F.desc("cnt"), F.asc("lbl"))
        return (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(node, "lbl")
        )

    s_votes = (
        edges.join(c, "c").groupBy("s", "lbl").agg(F.count("*").alias("cnt"))
    )
    s_lbl = argmax_label(s_votes, "s")
    c_votes = (
        edges.join(s_lbl, "s").groupBy("c", "lbl").agg(F.count("*").alias("cnt"))
    )
    c_lbl = argmax_label(c_votes, "c")
    return (
        c_lbl.join(c.withColumnRenamed("lbl", "seed_lbl"), "c")
        .groupBy("lbl")
        .agg(
            F.count("*").alias("n_customers"),
            F.count(F.when(F.col("lbl") == F.col("seed_lbl"), 1)).alias(
                "n_kept_seed"
            ),
        )
        .select(F.col("lbl").alias("community"), "n_customers", "n_kept_seed")
    )


# ---- multi-source BFS ----------------------------------------------- #
# Frontier expansion as semi/anti joins — the Pregel BFS step expressed
# relationally. Seeds: nation-0 customers. The bipartite trade graph
# alternates node classes per hop, so three unrolled frontiers give
# customer distances {0, 2} and supplier distances {1, 3}; everything
# else is unreached within 3 hops (dist -1 in the report).

# AS MATERIALIZED (the q_graph_kcore lesson): without it DuckDB
# inlines `edges` into every frontier consumer and recomputes the
# distinct 60M-row join per reference — >400 s at the 100x sweep;
# materialized once, the whole oracle runs in ~1 s there.
_BFS_ORACLE = """
WITH edges AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE o.o_custkey IS NOT NULL
), seed AS MATERIALIZED (
  SELECT c_custkey AS c FROM customer WHERE c_nationkey = 0
), s1 AS MATERIALIZED (
  SELECT DISTINCT e.s FROM edges e JOIN seed d ON e.c = d.c
), c2 AS MATERIALIZED (
  SELECT DISTINCT e.c FROM edges e JOIN s1 ON e.s = s1.s
  WHERE e.c NOT IN (SELECT c FROM seed)
), s3 AS MATERIALIZED (
  SELECT DISTINCT e.s FROM edges e JOIN c2 ON e.c = c2.c
  WHERE e.s NOT IN (SELECT s FROM s1)
)
SELECT 'customer' AS node_class, 0 AS dist, count(*) AS n FROM seed
UNION ALL SELECT 'supplier', 1, count(*) FROM s1
UNION ALL SELECT 'customer', 2, count(*) FROM c2
UNION ALL SELECT 'supplier', 3, count(*) FROM s3
UNION ALL SELECT 'customer', -1,
  (SELECT count(*) FROM customer)
    - (SELECT count(*) FROM seed) - (SELECT count(*) FROM c2)
UNION ALL SELECT 'supplier', -1,
  (SELECT count(*) FROM supplier)
    - (SELECT count(*) FROM s1) - (SELECT count(*) FROM s3)
"""


@register("q_graph_bfs", oracle=_BFS_ORACLE, tags=("graph",))
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the customer->supplier trade graph:
    distance-layer sizes from the nation-0 customer seed set, three
    unrolled hops, unreached nodes reported as dist -1.

    Each hop is frontier LEFT-SEMI edges (reach the next class) then
    LEFT-ANTI the already-visited set — the relational Pregel BFS
    step: per hop one shuffle keyed by the frontier's node id, with
    the frontier frames carrying ONLY node ids (never attributes).
    Visited-set semantics come from anti joins instead of mutable
    state; deeper searches stack the same pair of joins and
    localCheckpoint the frontier every few hops to truncate lineage
    (the q_dedup_components doctrine). The layer counts collapse each
    frontier to one row before the union, so the report is 6 rows at
    any scale.
    """
    cust = table(spark, sf_dir, "customer")
    supp = table(spark, sf_dir, "supplier")
    # NULL endpoints leave at the edge build (a NULL key would be kept
    # by the anti joins but dropped by the oracle's NOT IN — the
    # label_prop doctrine). Optimization r13 (guide §5): edges and each
    # frontier are materialized once — every hop consumes the previous
    # frontier 2-4x (probe + anti + layer count + unreached count), so
    # the un-checkpointed form re-ran the whole prefix per reference.
    edges = _trade_edges(spark, sf_dir, drop_null_cust=True)
    seed = ckpt.materialized(
        cust.filter(F.col("c_nationkey") == 0).select(
            F.col("c_custkey").alias("c")
        )
    )
    # SHUFFLE_HASH on every frontier probe: frontiers are data-dependent
    # (often a large customer fraction), so neither a broadcast (OOM on
    # a wide frontier) nor a sort-merge (two sorts per hop for a
    # hash-sized build) is the cluster shape; shuffle-hash keys both
    # sides by the frontier's node id, one exchange per side per hop.
    s1 = ckpt.materialized(
        edges.join(seed.hint("shuffle_hash"), "c", "left_semi")
        .select("s")
        .distinct()
    )
    c2 = ckpt.materialized(
        edges.join(s1.hint("shuffle_hash"), "s", "left_semi")
        .select("c")
        .distinct()
        .join(seed.hint("shuffle_hash"), "c", "left_anti")
    )
    s3 = ckpt.materialized(
        edges.join(c2.hint("shuffle_hash"), "c", "left_semi")
        .select("s")
        .distinct()
        .join(s1.hint("shuffle_hash"), "s", "left_anti")
    )

    def layer(df: DataFrame, cls: str, dist: int) -> DataFrame:
        return df.agg(F.count("*").alias("n")).select(
            F.lit(cls).alias("node_class"), F.lit(dist).alias("dist"), "n"
        )

    n_cust = cust.agg(F.count("*").alias("total"))
    n_supp = supp.agg(F.count("*").alias("total"))

    def unreached(total: DataFrame, cls: str, *reached: DataFrame) -> DataFrame:
        out = total
        for i, r in enumerate(reached):
            out = out.crossJoin(
                F.broadcast(r.agg(F.count("*").alias(f"r{i}")))
            )
        expr = F.col("total")
        for i in range(len(reached)):
            expr = expr - F.col(f"r{i}")
        return out.select(
            F.lit(cls).alias("node_class"),
            F.lit(-1).alias("dist"),
            expr.alias("n"),
        )

    return (
        layer(seed, "customer", 0)
        .unionByName(layer(s1, "supplier", 1))
        .unionByName(layer(c2, "customer", 2))
        .unionByName(layer(s3, "supplier", 3))
        .unionByName(unreached(n_cust, "customer", seed, c2))
        .unionByName(unreached(n_supp, "supplier", s1, s3))
    )


# ---- q_graph_adamic_adar -------------------------------------------------- #
# Adamic-Adar link prediction — q_graph_jaccard's frequency-weighted
# sibling: common neighbors count 1/ln(degree) each, so sharing a RARE
# neighbor says more than sharing a hub. Weights quantize to 1e-9
# scaled longs before the pair sum (order independence; ln's libm
# last-ulp doctrine): a common neighbor has degree >= 2, so
# 1/ln(d) <= 1/ln 2 ~ 1.443 -> <= 1.45e9 per term, ~1e4 terms/pair max
# — well inside int64.


@register(
    "q_graph_adamic_adar",
    oracle="""
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), cdeg AS (
  SELECT c, count(*) AS d FROM edges GROUP BY c
), w AS (
  SELECT e.c, e.s,
         CAST(round(1000000000.0 / ln(cd.d)) AS BIGINT) AS wq
  FROM edges e JOIN cdeg cd ON e.c = cd.c
  WHERE cd.d >= 2
), pairs AS (
  SELECT w1.s AS s1, w2.s AS s2,
         count(*) AS n_common,
         CAST(SUM(w1.wq) AS BIGINT) AS aa_q9
  FROM w w1 JOIN w w2 ON w1.c = w2.c AND w1.s < w2.s
  GROUP BY w1.s, w2.s
)
SELECT s1, s2, n_common, aa_q9
FROM pairs
ORDER BY aa_q9 DESC, s1, s2
LIMIT 20
""",
    tags=("graph",),
)
def q_graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 supplier pairs by Adamic-Adar score over the shared-
    customer bipartite graph: AA(s1,s2) = sum over common customers c
    of 1/ln(degree(c)), exact as 1e-9 scaled-long sums (both join
    sides carry the SAME shared-neighbor weight, so summing one side
    equals the formula).

    Scale shape: identical to q_graph_jaccard's — pair generation is
    keyed on the SHARED neighbor (a self-join on c, never supplier x
    supplier), per-key fan-out bounded by the customer's supplier
    count, degree weights attach BEFORE the pair join (one small join,
    not per-pair), and the top-20 is a TakeOrdered. The salting remedy
    for hot neighbors (common_neighbor_pairs salt_n) applies unchanged.
    """
    from pokertracker_cassandra_st_spark.exprs import slong

    # Optimization r13 (guide §5): edges materialized once (degree agg
    # + weight attach consumed it twice); the weighted edge frame w is
    # materialized too — both self-join sides read it instead of
    # re-running the edge build + degree join per side.
    edges = _trade_edges(spark, sf_dir)
    cdeg = edges.groupBy("c").agg(F.count("*").alias("d"))
    w = ckpt.materialized(
        edges.join(cdeg.hint("shuffle_hash"), "c")
        .filter(F.col("d") >= 2)
        .select(
            "c",
            "s",
            slong(F.lit(1.0) / F.log(F.col("d").cast("double")), 9).alias("wq"),
        )
    )
    w1 = w.select("c", F.col("s").alias("s1"), F.col("wq").alias("wq1"))
    w2 = w.select("c", F.col("s").alias("s2"))
    return (
        w1.join(w2, ["c"])
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(
            F.count("*").alias("n_common"),
            F.sum("wq1").alias("aa_q9"),
        )
        .orderBy(F.desc("aa_q9"), "s1", "s2")
        .limit(20)
    )


_CLUSTERING_ORACLE = """
WITH e AS MATERIALIZED (
  -- MATERIALIZED: e is referenced five times (deg's union + the
  -- e1/e2/e3 wedge join); DuckDB's per-reference inlining recomputed
  -- the distinct edge set and ENOSPC'd at the 100x rung (same round-12
  -- finding as q_graph_triangle_count).  Planning hint only.
  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
  FROM lineitem a
  JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT p1 AS node, p2 AS nbr FROM e
    UNION ALL SELECT p2, p1 FROM e
  ) GROUP BY node
), tri AS MATERIALIZED (
  SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
  FROM e e1
  JOIN e e2 ON e1.p2 = e2.p1
  JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
), pt AS (
  SELECT node, count(*) AS n_triangles FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
)
SELECT d.node AS partkey, d.degree,
       COALESCE(p.n_triangles, 0) AS n_triangles,
       (2000000 * COALESCE(p.n_triangles, 0))
         // (d.degree * (d.degree - 1)) AS coeff_ppm
FROM deg d LEFT JOIN pt p ON p.node = d.node
WHERE d.degree >= 2
ORDER BY coeff_ppm DESC, partkey
LIMIT 50
"""


@register(
    "q_graph_clustering_coeff", oracle=_CLUSTERING_ORACLE, tags=("graph",)
)
def q_graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node of the part co-purchase
    graph: 2*triangles(v) / (deg(v)*(deg(v)-1)) in exact integer ppm —
    how tightly each part's neighborhood interlinks (the community /
    ego-density signal; q_graph_triangle_count gives the raw counts,
    this normalizes them per node). Top-50, tie-broken on partkey.

    Scale notes: reuses the oriented edge-edge-edge triangle join
    (every triangle produced exactly once, wedge fan-out bounded by
    orientation — see q_graph_triangle_count's degree-ordering note);
    the degree table is one groupBy over the doubled edge list; the
    final join is node-keyed and narrow. The coefficient is pure
    integral arithmetic — zero floats.

    Optimization r13 (guide §5, §2.4): edges materialized once — it
    fed deg's two union branches AND e1/e2/e3 as five lineages before
    (five edge-builds per run, 20.5 s); the per-node triangle counts
    explode the triangle rows in one pass instead of three unionByName
    branches that each re-ran the wedge join.
    """
    edges = _copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("p1").alias("node"))
        .unionByName(edges.select(F.col("p2").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    tri = _oriented_triangles(edges)
    pt = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    return (
        deg.join(pt, "node", "left")
        .filter(F.col("degree") >= 2)
        .select(
            F.col("node").alias("partkey"),
            "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.expr(
                "(2000000 * coalesce(n_triangles, 0))"
                " div (degree * (degree - 1))"
            ).alias("coeff_ppm"),
        )
        .orderBy(F.desc("coeff_ppm"), "partkey")
        .limit(50)
    )


# ---- q_graph_assortativity -------------------------------------------------- #


_ASSORT_ORACLE = """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
  FROM lineitem a
  JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT p1 AS node FROM e UNION ALL SELECT p2 FROM e
  ) GROUP BY node
), dir AS (
  SELECT p1 AS u, p2 AS v FROM e
  UNION ALL
  SELECT p2, p1 FROM e
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(SUM(CAST(du.d AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(SUM(CAST(du.d AS HUGEINT) * dv.d) AS HUGEINT) AS sxy,
         CAST(SUM(CAST(du.d AS HUGEINT) * du.d) AS HUGEINT) AS sxx
  FROM dir
  JOIN deg du ON du.node = dir.u
  JOIN deg dv ON dv.node = dir.v
)
SELECT m AS n_directed_edges,
       CAST(sx AS BIGINT) AS sum_deg,
       CAST((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            / nullif(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0)
         AS DOUBLE)
         AS assortativity
FROM m
"""


@register("q_graph_assortativity", oracle=_ASSORT_ORACLE, tags=("graph",))
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the part co-purchase graph: the Pearson
    correlation of endpoint degrees over all DIRECTED edge instances
    (each undirected edge counted both ways — Newman 2002's estimator).
    Positive r = hubs link hubs (assortative); negative = hub-spoke.
    Because the x/y samples are symmetric under edge reversal,
    sum(x) = sum(y) and sum(x^2) = sum(y^2), so the correlation
    reduces to (m*sxy - sx^2) / (m*sxx - sx^2).

    Determinism: every moment (m, sx, sxy, sxx) is an exact integer
    accumulated through DECIMAL(38,0)/HUGEINT (deg^2 times edge count
    passes int64 at the 100x rung); the single output double derives
    from the same four integers by the same pinned expression tree —
    numerator and denominator each multiply-then-subtract, one final
    divide.

    Scale notes: the edge build is the oriented-distinct pair join the
    whole graph family shares; degrees come from ONE aggregation of
    the edge endpoints; the two degree attaches are hash joins on the
    node key (nodes-sized frames, never all-pairs); the moments
    collapse map-side to a single row.

    Optimization r13 (guide §5): e materialized once (deg's union, the
    dir_ union and the moment pass consumed it as four lineages
    before); deg materialized too (du and dv read it twice).
    """
    e = _copurchase_edges(spark, sf_dir)
    deg = ckpt.materialized(
        e.select(F.col("p1").alias("node"))
        .unionAll(e.select(F.col("p2").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    dir_ = e.select(F.col("p1").alias("u"), F.col("p2").alias("v")).unionAll(
        e.select(F.col("p2").alias("u"), F.col("p1").alias("v"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    m = (
        dir_.join(du.hint("shuffle_hash"), "u")
        .join(dv.hint("shuffle_hash"), "v")
        .agg(
            F.count("*").alias("m"),
            F.sum(F.col("du").cast("decimal(38,0)")).alias("sx"),
            F.sum(F.col("du").cast("decimal(38,0)") * F.col("dv")).alias(
                "sxy"
            ),
            F.sum(F.col("du").cast("decimal(38,0)") * F.col("du")).alias(
                "sxx"
            ),
        )
    )
    return m.select(
        F.col("m").alias("n_directed_edges"),
        F.col("sx").cast("long").alias("sum_deg"),
        (
            (
                F.col("m").cast("double") * F.col("sxy").cast("double")
                - F.col("sx").cast("double") * F.col("sx").cast("double")
            )
            # nullif-guarded divide (BOTH engines): a degree-regular
            # graph zeroes the variance denominator; Spark's non-ANSI
            # Divide returns NULL on /0 while DuckDB IEEE doubles give
            # NaN/Inf — pinning nullif(den, 0.0) on both sides makes
            # the engines agree on NULL for the degenerate input (not
            # in fixtures, but 100x sweeps regenerate data).
            / F.nullif(
                F.col("m").cast("double") * F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx").cast("double"),
                F.lit(0.0),
            )
        ).alias("assortativity"),
    )


# ---- q_graph_projection_size ------------------------------------------------ #


@register(
    "q_graph_projection_size",
    oracle="""
WITH k AS (
  SELECT l_orderkey, CAST(count(DISTINCT l_partkey) AS BIGINT) AS k
  FROM lineitem GROUP BY 1
), h AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_orders FROM k GROUP BY k
), p AS (
  SELECT k, n_orders,
         n_orders * k * (k - 1) // 2 AS pair_instances
  FROM h
), t AS (
  SELECT *, SUM(pair_instances) OVER () AS tot FROM p
)
SELECT k AS items_per_order, n_orders,
       CAST(pair_instances AS BIGINT) AS pair_instances,
       CAST(CASE WHEN tot = 0 THEN 0
            ELSE (1000000 * pair_instances) // tot END AS BIGINT)
         AS pair_share_ppm
FROM t ORDER BY k
""",
    tags=("graph",),
)
def q_graph_projection_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite-projection pre-flight: from the order-part incidence
    alone, the exact number of co-purchase pair INSTANCES each
    order-size class k contributes to the projected part-part graph
    (n_orders * k*(k-1)/2) and its share — the planning query run
    BEFORE any pair-emitting join in the graph family, because
    projected edge volume is quadratic in k and ONE mega-order can
    dominate the whole join output (the skew the simhash bucket-cap
    ladder exists for). At 100 TB this histogram is how you decide
    whether the projection is joinable at all, and where to cap.

    Cross-engine determinism: exact distinct counts, exact integer
    pair arithmetic (k*(k-1)/2 of BIGINTs), ppm integer division with
    a zero-total guard on both sides.

    Scale notes: one (orderkey) exact-distinct rollup of the fact,
    one k-histogram exchange of the orders-sized frame, and the total
    rides an empty-frame window on the k-bounded histogram (tens of
    rows). No pair is ever materialized — that is the point.
    """
    k = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.countDistinct("l_partkey").alias("k"))
    )
    h = k.groupBy("k").agg(F.count("*").alias("n_orders"))
    p = h.select(
        "k",
        "n_orders",
        F.expr("n_orders * k * (k - 1) div 2").alias("pair_instances"),
    )
    t = p.withColumn(
        "tot", F.sum("pair_instances").over(Window.partitionBy())
    )
    return t.select(
        F.col("k").alias("items_per_order"),
        "n_orders",
        "pair_instances",
        F.expr(
            "CAST(CASE WHEN tot = 0 THEN 0"
            " ELSE (1000000 * pair_instances) div tot END AS BIGINT)"
        ).alias("pair_share_ppm"),
    ).orderBy("items_per_order")
