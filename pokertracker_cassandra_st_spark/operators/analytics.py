"""Composite analytics: TPC-H-shaped multi-join queries + skew-safe
aggregation patterns.

Scale notes: Q3/Q5 shapes are where Catalyst's join reordering, filter
pushdown through joins, and AQE broadcast conversion earn their keep —
the engine declares the joins and lets the optimizer order them from
stats (CBO at 100 TB would use table/column statistics; AQE corrects at
runtime either way). The salted aggregate is the documented recipe for
hot keys: pre-aggregate on (key, salt) so no single reducer sees a hot
key's full row set, then merge — results provably identical to the
direct groupBy (same oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pokertracker_cassandra_st_spark import ckpt
from pokertracker_cassandra_st_spark.catalog import table, tables
from pokertracker_cassandra_st_spark.exprs import slong
from pokertracker_cassandra_st_spark.registry import register

# oracle-side fragment; the Spark side uses exprs.slong (same values).
# scale-2 rates + BIGINT-wrapped SUM keep the oracle on the native
# int64->double conversion path (see aggregates.py fragment comment).
_REV = (
    "CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100) AS BIGINT))"
)


def _rev_col():
    return slong("l_extendedprice", 2) * (100 - slong("l_discount", 2))


@register(
    "q_tpch_q3_shape",
    oracle=f"""
SELECT l.l_orderkey,
       CAST(CAST(SUM({_REV}) AS BIGINT) AS DOUBLE) / 10000 AS revenue,
       CAST(CAST(o.o_orderdate AS DATE) AS STRING) AS orderdate,
       o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15'
  AND l.l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
""",
    tags=("analytics", "bench"),
)
def q_tpch_q3_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment filter -> 3-way join -> grouped revenue
    -> top-10. Filters push into all three scans; AQE picks the join
    order/strategies."""
    t = tables(spark, sf_dir, "customer", "orders", "lineitem")
    rev = _rev_col()
    return (
        t.customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(t.orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
        .join(t.lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(rev).cast("double") / 10_000).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("date").cast("string").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "q_tpch_q5_shape",
    oracle=f"""
SELECT n.n_name,
       CAST(CAST(SUM({_REV}) AS BIGINT) AS DOUBLE) / 10000 AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n.n_name
""",
    tags=("analytics", "bench"),
)
def q_tpch_q5_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join through the full star.

    Join order is chosen selectivity-first (no CBO stats locally): the
    region predicate reaches customer AND supplier through broadcast
    dim joins BEFORE the fact joins, shrinking both probe sides ~5x —
    the reordering a stats-fed CBO would do. At 100 TB this ordering is
    the difference between shuffling all orders vs one region's orders.

    The two FACT joins carry explicit SHUFFLE_HASH hints with the
    build on the filtered small side (region-year customer x orders;
    region suppliers): without them the local planner's size estimate
    put the whole column-pruned lineitem under the broadcast threshold
    and BUILT ON THE FACT — a shape that only exists at toy scale —
    and the supplier join fell to SortMergeJoin, paying two sorts for
    a join whose build side is dim-sized at any scale. The hinted plan
    is the one a cluster would want (facts shuffle on join keys, hash
    builds on the bounded side, no fact-table broadcast or sort) and
    is ~20% faster locally (round-7 probe: 1.43 s -> 1.09 s best-of-3;
    AQE still re-splits skewed partitions under the hint).
    """
    t = tables(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region"
    )
    rev = _rev_col()
    asia_nations = (
        t.nation.join(
            F.broadcast(t.region.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select("n_nationkey", "n_name")
    )
    cust = t.customer.join(
        F.broadcast(asia_nations), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", "c_nationkey")
    supp = t.supplier.join(
        F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_nationkey", "n_name")
    orders = t.orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .hint("shuffle_hash")
        .join(t.lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supp.hint("shuffle_hash"),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg((F.sum(rev).cast("double") / 10_000).alias("revenue"))
    )


@register(
    "q_skew_salted_agg",
    oracle="""
SELECT l_suppkey,
       count(*) AS n,
       CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_qty,
       max(l_extendedprice) AS max_price
FROM lineitem
GROUP BY l_suppkey
""",
    tags=("analytics",),
)
def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation: identical result to the direct
    groupBy (same oracle), but no reducer ever sees one key's full row
    set — the manual recipe for hot keys beyond what AQE's skew-join
    handling covers (e.g. a null-heavy join key or a celebrity user).

    Stage 1 aggregates on (key, salt=pmod(hash,16)); stage 2 merges the
    16 partials per key. Both stages are partial-aggregation-friendly.
    """
    li = table(spark, sf_dir, "lineitem")
    salted = li.withColumn("salt", F.pmod(F.hash("l_orderkey"), F.lit(16)))
    stage1 = salted.groupBy("l_suppkey", "salt").agg(
        F.count("*").alias("pn"),
        F.sum(slong("l_quantity", 2)).alias("pqty"),
        F.max("l_extendedprice").alias("pmax"),
    )
    return stage1.groupBy("l_suppkey").agg(
        F.sum("pn").alias("n"),
        (F.sum("pqty").cast("double") / 100).alias("sum_qty"),
        F.max("pmax").alias("max_price"),
    )


@register(
    "q_tpch_q18_shape",
    oracle="""
WITH big AS (
  SELECT l_orderkey
  FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(round(l_quantity * 100) AS BIGINT)) > 25000
)
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       CAST(CAST(o.o_orderdate AS DATE) AS STRING) AS orderdate,
       CAST(SUM(CAST(round(l.l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100
         AS total_qty
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN big ON big.l_orderkey = o.o_orderkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate
ORDER BY total_qty DESC, o.o_orderkey
LIMIT 100
""",
    tags=("analytics",),
)
def q_tpch_q18_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): a HAVING-filtered
    self-referencing fact aggregate drives a 3-way join back onto the
    same fact table, then a second grouped aggregate — the canonical
    "aggregate as semi-join filter" pattern.

    Scale notes: the `big` subquery is lineitem's groupBy(l_orderkey)
    with map-side partial sums (narrow (key, long) shuffle), and its
    HAVING output is tiny (hundreds of keys at any sf) — so AQE
    converts the `big ⋈ orders` join to broadcast at runtime, and the
    re-join to lineitem is then pre-filtered to those few orderkeys
    before the final aggregate. lineitem is scanned twice by design;
    at 100 TB the first scan reads only (l_orderkey, l_quantity) —
    column pruning keeps it narrow. Quantities are exact scaled longs
    (fixed 2-decimal domain; sum bounded far inside int64).
    """
    t = tables(spark, sf_dir, "customer", "orders", "lineitem")
    li = t.lineitem.select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(slong("l_quantity", 2)).alias("qsum"))
        .filter(F.col("qsum") > 25000)
        .select("l_orderkey")
    )
    return (
        t.customer.join(
            t.orders, t.orders["o_custkey"] == t.customer["c_custkey"]
        )
        .join(big, big["l_orderkey"] == F.col("o_orderkey"))
        .join(li.alias("l"), F.col("l.l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate")
        .agg((F.sum(slong("l.l_quantity", 2)).cast("double") / 100).alias("total_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd").alias(
                "orderdate"
            ),
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), "o_orderkey")
        .limit(100)
    )


@register(
    "q_tpch_q7_shape",
    oracle=f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
       CAST(CAST(SUM({_REV}) AS BIGINT) AS DOUBLE) / 10000 AS revenue
FROM supplier s
JOIN lineitem l ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'FRANCE' AND n2.n_name = 'GERMANY')
    OR (n1.n_name = 'GERMANY' AND n2.n_name = 'FRANCE'))
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
    tags=("analytics",),
)
def q_tpch_q7_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): revenue between two nations in
    both directions, by supplier nation × customer nation × ship year.

    Selectivity-first ordering, same doctrine as Q5: the two-nation
    predicate reaches supplier AND customer through broadcast nation
    joins BEFORE any fact join, so the lineitem probe is filtered by a
    ~2/25 supplier subset and the orders→customer join by the matching
    customer subset; the final OR-pair predicate runs on two ints.
    Exact revenue via the scaled-long fast path (exprs.slong).

    Scale notes: at 100 TB the nation-filtered supplier/customer sides
    stay broadcastable (bounded dims); the only large shuffle is
    lineitem⋈orders on orderkey, which AQE sizes. Year extraction is a
    scan-level projection — no repartition by year needed for the
    bounded (2 × years) output.
    """
    t = tables(
        spark, sf_dir, "supplier", "lineitem", "orders", "customer", "nation"
    )
    pair = t.nation.filter(F.col("n_name").isin("FRANCE", "GERMANY"))
    supp = t.supplier.join(
        F.broadcast(pair.select(F.col("n_nationkey").alias("sk"),
                                F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("sk"),
    ).select("s_suppkey", "supp_nation")
    cust = t.customer.join(
        F.broadcast(pair.select(F.col("n_nationkey").alias("ck"),
                                F.col("n_name").alias("cust_nation"))),
        F.col("c_nationkey") == F.col("ck"),
    ).select("c_custkey", "cust_nation")
    rev = _rev_col()
    return (
        t.lineitem.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg((F.sum(rev).cast("double") / 10_000).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# ---- q_agg_basket_pairs ------------------------------------------------ #
# Market-basket co-occurrence: the classic frequent-itemset-pairs query
# (which parts ship together more often than chance). Pair generation
# is ORDER-LOCAL — each order contributes C(items, 2) pairs with a
# p1 < p2 canonical orientation — so the blowup is bounded by basket
# size squared, never corpus²; lift is exact integer arithmetic.


def _basket_oracle() -> str:
    return """
WITH items AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem
), pairs AS (
  SELECT a.pkey AS p1, b.pkey AS p2, count(*) AS n_ab
  FROM items a JOIN items b ON a.okey = b.okey AND a.pkey < b.pkey
  GROUP BY a.pkey, b.pkey
), freq AS (
  SELECT pkey, count(*) AS n_p FROM items GROUP BY pkey
), tot AS (SELECT count(DISTINCT okey) AS n_orders FROM items)
SELECT p.p1, p.p2, p.n_ab, fa.n_p AS n_p1, fb.n_p AS n_p2,
       CAST((p.n_ab * t.n_orders * 1000000) // (fa.n_p * fb.n_p) AS BIGINT)
         AS lift_q6
FROM pairs p
JOIN freq fa ON p.p1 = fa.pkey
JOIN freq fb ON p.p2 = fb.pkey
CROSS JOIN tot t
ORDER BY p.n_ab DESC, p.p1, p.p2
LIMIT 20
"""


@register("q_agg_basket_pairs", oracle=_basket_oracle(), tags=("agg", "analytics"))
def q_agg_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 co-purchased part pairs with exact integer lift
    (n_ab * N_orders * 1e6 DIV (n_p1 * n_p2)) — the market-basket
    affinity query behind recommendations and assortment analysis.

    Scale notes: the pair generator self-joins the DISTINCT
    (order, part) item table on its ORDER key, so each order expands
    to at most C(basket, 2) pairs locally after one hash exchange on
    okey — basket sizes are bounded (TPC-H ~7), so pair volume is
    linear in orders at any corpus size, never all-pairs across parts.
    Pair counts shuffle on (p1, p2); part frequencies are a
    parts-bounded frame joined SHUFFLE_HASH on each endpoint (at 100 TB
    the parts dimension can exceed broadcast limits); the 1-row order
    count broadcasts; the final top-20 rides TakeOrderedAndProject.
    """
    li = table(spark, sf_dir, "lineitem")
    # optimization r13 (guide §5): items feeds both self-join sides,
    # the frequency agg and the order count — four lineages, each
    # re-running the fact scan + distinct before; materialized once
    items = ckpt.materialized(
        li.select(
            F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pkey")
        ).distinct()
    )
    a = items.select("okey", F.col("pkey").alias("p1"))
    b = items.select("okey", F.col("pkey").alias("p2"))
    pairs = (
        a.join(b, ["okey"])
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("n_ab"))
    )
    freq = items.groupBy("pkey").agg(F.count("*").alias("n_p"))
    tot = items.agg(F.countDistinct("okey").alias("n_orders"))
    fa = freq.select(F.col("pkey").alias("p1"), F.col("n_p").alias("n_p1"))
    fb = freq.select(F.col("pkey").alias("p2"), F.col("n_p").alias("n_p2"))
    return (
        pairs.join(fa.hint("shuffle_hash"), ["p1"])
        .join(fb.hint("shuffle_hash"), ["p2"])
        .crossJoin(F.broadcast(tot))
        .select(
            "p1",
            "p2",
            "n_ab",
            "n_p1",
            "n_p2",
            F.expr("(n_ab * n_orders * 1000000) DIV (n_p1 * n_p2)")
            .cast("long")
            .alias("lift_q6"),
        )
        .orderBy(F.desc("n_ab"), "p1", "p2")
        .limit(20)
    )


@register(
    "q_tpch_q10_shape",
    oracle=f"""
SELECT c.c_custkey, c.c_name, n.n_name,
       CAST(CAST(SUM({_REV}) AS BIGINT) AS DOUBLE) / 10000 AS revenue,
       c.c_acctbal
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-10-01'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""",
    tags=("analytics",),
)
def q_tpch_q10_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — returned-item revenue report: which customers
    returned the most value in a quarter. Quarter filter on orders,
    returnflag filter on lineitem, nation broadcast for display, top-20
    by lost revenue (c_custkey tie-break).

    Scale notes: both selective filters push into their parquet scans
    BEFORE the fact-fact join (a quarter is ~1/8 of orders, 'R' is
    ~1/3 of lineitem); the orders-lineitem join carries an explicit
    SHUFFLE_HASH hint with the build on the quarter-filtered orders
    side (the q5 doctrine — never sort or broadcast a fact), customer
    joins AFTER aggregation-relevant columns are reduced, and nation
    is a broadcast dim. The grouped top-20 ends in a partial
    TakeOrdered, never a global sort of the aggregate.
    """
    t = tables(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    rev = _rev_col()
    orders = t.orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    returned = t.lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    per_cust = (
        orders.hint("shuffle_hash")
        .join(returned, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_custkey")
        .agg((F.sum(rev).cast("double") / 10_000).alias("revenue"))
    )
    return (
        per_cust.join(
            t.customer, F.col("o_custkey") == F.col("c_custkey")
        )
        .join(
            F.broadcast(t.nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "c_name", "n_name", "revenue", "c_acctbal")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q_tpch_q1_shape",
    oracle="""
WITH m AS (
  SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(round(l_quantity * 10000) AS BIGINT)) AS BIGINT) AS sq,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS sb,
         CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 1000000)
                       AS BIGINT)) AS BIGINT) AS sd,
         CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                             * 1000000) AS BIGINT)) AS BIGINT) AS sc,
         CAST(SUM(CAST(round(l_discount * 10000) AS BIGINT)) AS BIGINT) AS sdis,
         count(*) AS count_order
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '2001-06-01 00:00:00'
  GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus,
       CAST(sq AS DOUBLE) / 10000.0 AS sum_qty,
       CAST(sb AS DOUBLE) / 100.0 AS sum_base_price,
       CAST(sd AS DOUBLE) / 1000000.0 AS sum_disc_price,
       CAST(sc AS DOUBLE) / 1000000.0 AS sum_charge,
       CAST(sq AS DOUBLE) / 10000.0 / count_order AS avg_qty,
       CAST(sb AS DOUBLE) / 100.0 / count_order AS avg_price,
       CAST(sdis AS DOUBLE) / 10000.0 / count_order AS avg_disc,
       count_order
FROM m ORDER BY l_returnflag, l_linestatus
""",
    tags=("analytics", "agg", "bench"),
)
def q_tpch_q1_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing-summary shape: the canonical scan-heavy
    aggregate (every warehouse's first benchmark query) — one predicate
    on ship date, eight aggregates over four grouping cells. Completes
    the composite-analytics tier's scan-bound corner (q3/q5/q7/q10/q18
    cover the join shapes; q1 is pure aggregate throughput).

    Determinism: every sum runs over per-row SCALED LONGS (the slong
    doctrine) — the per-row products are identical IEEE doubles in both
    engines and the int64 sums are exact and order-independent; every
    double in the OUTPUT derives from the same BIGINT by the same
    division, so even values past 2^53 (where DECIMAL->DOUBLE casts
    diverge in the last ulp between engines — found by this op's own
    10x gate) hash identically. Int64 headroom: the 1e6-scaled charge
    sum stays under 2^63 to ~9x10^12 rows per cell; past that, widen
    the partial to DECIMAL(38,0) with no plan change.

    Scale notes: the filter and 6-column pruning reach the parquet
    scan; partial aggregation collapses everything map-side to 4
    cells x 6 longs before a trivial shuffle — the plan IS the 100 TB
    plan (scan-bound, embarrassingly parallel, zero skew exposure).
    """
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-06-01 00:00:00").cast("timestamp")
    )
    from pokertracker_cassandra_st_spark.exprs import slong

    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    m = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(slong("l_quantity", 4)).alias("sq"),
        F.sum(slong("l_extendedprice", 2)).alias("sb"),
        F.sum(slong(disc_price, 6)).alias("sd"),
        F.sum(slong(charge, 6)).alias("sc"),
        F.sum(slong("l_discount", 4)).alias("sdis"),
        F.count("*").alias("count_order"),
    )
    return m.select(
        "l_returnflag",
        "l_linestatus",
        (F.col("sq").cast("double") / 10000.0).alias("sum_qty"),
        (F.col("sb").cast("double") / 100.0).alias("sum_base_price"),
        (F.col("sd").cast("double") / 1000000.0).alias("sum_disc_price"),
        (F.col("sc").cast("double") / 1000000.0).alias("sum_charge"),
        (F.col("sq").cast("double") / 10000.0 / F.col("count_order")).alias(
            "avg_qty"
        ),
        (F.col("sb").cast("double") / 100.0 / F.col("count_order")).alias(
            "avg_price"
        ),
        (F.col("sdis").cast("double") / 10000.0 / F.col("count_order")).alias(
            "avg_disc"
        ),
        "count_order",
    ).orderBy("l_returnflag", "l_linestatus")


@register(
    "q_agg_contribution",
    oracle="""
WITH wk AS (
  SELECT event_type, user_id,
         CAST(floor(floor(epoch(ts)) / 604800) AS BIGINT) AS w,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
), mx AS (SELECT max(w) AS w1 FROM wk),
d AS (
  SELECT event_type, user_id,
         CAST(SUM(CASE WHEN w = mx.w1 THEN cents ELSE 0 END) AS BIGINT)
           - CAST(SUM(CASE WHEN w = mx.w1 - 1 THEN cents ELSE 0 END)
                  AS BIGINT) AS user_delta_cents
  FROM wk CROSS JOIN mx
  WHERE w IN (mx.w1, mx.w1 - 1)
  GROUP BY event_type, user_id
), t AS (
  SELECT event_type, user_id, user_delta_cents,
         CAST(SUM(user_delta_cents) OVER (PARTITION BY event_type)
              AS BIGINT) AS type_delta_cents,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY abs(user_delta_cents) DESC, user_id)
           AS rk
  FROM d
)
SELECT event_type, user_id, user_delta_cents, type_delta_cents, rk
FROM t WHERE rk <= 3 ORDER BY event_type, rk
""",
    tags=("agg", "analytics"),
)
def q_agg_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contribution analysis (metric-tree root-causing): for each event
    type, the week-over-week revenue delta of the LAST observed week vs
    the week before, decomposed to the top-3 users by absolute delta —
    the "which accounts moved the metric" question every WBR asks
    after q_ts_growth says the metric moved. Exact integer cents end
    to end; no division, so signed deltas never hit floor-vs-trunc
    engine lore.

    Scale notes: the two-week filter prunes the scan via the broadcast
    1-row max-week frame; the (type, user) rollup is map-side combined;
    the per-type total and top-3 rank share one type-partitioned
    window pass over user-level rows. At 100 TB the deltas frame is
    users-sized, never events-sized.
    """
    wk = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            "user_id",
            # FLOOR, not div: matches DuckDB // for pre-1970 ts too
            # (doctrine at q_ts_stickiness)
            F.expr(
                "CAST(FLOOR(unix_timestamp(ts) / 604800.0D) AS BIGINT)"
            ).alias("w"),
            slong("value", 2).alias("cents"),
        )
    )
    mx = wk.agg(F.max("w").alias("w1"))
    d = (
        wk.crossJoin(F.broadcast(mx))
        .filter((F.col("w") == F.col("w1")) | (F.col("w") == F.col("w1") - 1))
        .groupBy("event_type", "user_id")
        .agg(
            (
                F.sum(
                    F.when(F.col("w") == F.col("w1"), F.col("cents")).otherwise(
                        0
                    )
                )
                - F.sum(
                    F.when(
                        F.col("w") == F.col("w1") - 1, F.col("cents")
                    ).otherwise(0)
                )
            ).alias("user_delta_cents")
        )
    )
    from pyspark.sql import Window

    wt = Window.partitionBy("event_type")
    wr = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("user_delta_cents")).desc(), "user_id"
    )
    return (
        d.select(
            "event_type",
            "user_id",
            "user_delta_cents",
            F.sum("user_delta_cents").over(wt).alias("type_delta_cents"),
            F.row_number().over(wr).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= 3)
        .orderBy("event_type", "rk")
    )
