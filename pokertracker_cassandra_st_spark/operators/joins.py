"""Join operators (SURVEY.md §2: inner/broadcast/sort-merge/outer/
semi/anti/theta/as-of).

Scale notes per strategy:
  * inner equi-join on a key both sides are large on -> sort-merge with
    a shuffle on the key; AQE converts to broadcast if one side turns
    out small, and splits skewed partitions.
  * bounded dims (region: 5 rows, nation: 25) are explicitly
    ``F.broadcast`` so the fact side never shuffles.
  * semi/anti joins ship only the key column of the filter side.
  * the theta (non-equi) join deliberately broadcasts the small side —
    a BroadcastNestedLoopJoin; the aggregate keeps output linear. At
    100 TB the band-join rewrite (bucketize the range key, equi-join on
    bucket, post-filter) keeps it out of quadratic territory; the
    as-of join below demonstrates exactly that shape.
  * as-of join: implemented as union + last(ignorenulls) over a
    per-key ordered window — one shuffle on (key), no range explosion;
    this is the scalable pattern for "latest event at or before T".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pokertracker_cassandra_st_spark.catalog import scratch_dir, table, tables
from pokertracker_cassandra_st_spark.exprs import dsum, o_fmt_ts, slong
from pokertracker_cassandra_st_spark.registry import register


@register(
    "q_join_inner_hash",
    oracle="""
SELECT c.c_nationkey, count(*) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_nationkey
""",
    tags=("join",),
)
def q_join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer equi-join, aggregated per nation."""
    t = tables(spark, sf_dir, "orders", "customer")
    return (
        t.orders.join(t.customer, t.orders.o_custkey == t.customer.c_custkey, "inner")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("total_price"))
    )


@register(
    "q_join_broadcast",
    oracle="""
SELECT r.r_name, n.n_name, count(*) AS n_customers,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
""",
    tags=("join",),
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ bounded dims with explicit broadcast — zero fact shuffle
    for the joins (only the final aggregation shuffles)."""
    t = tables(spark, sf_dir, "customer", "nation", "region")
    return (
        t.customer.join(F.broadcast(t.nation), t.customer.c_nationkey == t.nation.n_nationkey)
        .join(F.broadcast(t.region), F.col("n_regionkey") == t.region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"), dsum("c_acctbal").alias("sum_acctbal"))
    )


@register(
    "q_join_sortmerge",
    oracle="""
SELECT o.o_orderpriority, count(*) AS n_lines,
       CAST(CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT)
            AS DOUBLE) / 10000 AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
GROUP BY o.o_orderpriority
""",
    tags=("join",),
)
def q_join_sortmerge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders — the large-large join; Catalyst/AQE picks
    sort-merge (or shuffled hash) from stats. The orderdate filter is
    pushed below the join into the orders scan."""
    t = tables(spark, sf_dir, "lineitem", "orders")
    o = t.orders.filter(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
    # exact scaled-long revenue (see exprs.slong): price(1e2) * (1-disc)(1e2)
    rev = slong("l_extendedprice", 2) * (100 - slong("l_discount", 2))
    return (
        t.lineitem.join(o, t.lineitem.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            (F.sum(rev).cast("double") / 10_000).alias("revenue"),
        )
    )


@register(
    "q_join_outer",
    oracle="""
SELECT c.c_custkey, c.c_mktsegment,
       count(o.o_orderkey) AS n_orders,
       coalesce(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 0.0) AS spend
FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_mktsegment
""",
    tags=("join",),
)
def q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with null-extension: customers keep a row even
    with zero orders (count(col) skips nulls; sum coalesced to 0)."""
    t = tables(spark, sf_dir, "customer", "orders")
    return (
        t.customer.join(t.orders, t.orders.o_custkey == t.customer.c_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(dsum("o_totalprice"), F.lit(0.0)).alias("spend"),
        )
    )


@register(
    "q_join_semi",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
""",
    tags=("join",),
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers having at least one big order."""
    t = tables(spark, sf_dir, "customer", "orders")
    big = t.orders.filter(F.col("o_totalprice") > 400000)
    return t.customer.join(
        big, t.customer.c_custkey == big.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "q_join_anti",
    oracle="""
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
    tags=("join",),
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no orders (the Tier A7 tombstone
    pattern applied to a dim/fact pair)."""
    t = tables(spark, sf_dir, "customer", "orders")
    return t.customer.join(
        t.orders, t.customer.c_custkey == t.orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


@register(
    "q_join_theta",
    oracle="""
SELECT s.s_suppkey, s.s_name, count(*) AS n_poorer_customers
FROM supplier s JOIN customer c ON s.s_acctbal > c.c_acctbal
GROUP BY s.s_suppkey, s.s_name
""",
    tags=("join",),
)
def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta) join on an acctbal inequality.

    Physically a BroadcastNestedLoopJoin with the supplier side (small)
    broadcast; the aggregate keeps the output linear in suppliers. At
    100 TB both sides large -> rewrite as band join: bucketize acctbal,
    equi-join on bucket +/- 1, post-filter (same result, no quadratics).
    """
    t = tables(spark, sf_dir, "supplier", "customer")
    return (
        F.broadcast(t.supplier)
        .join(t.customer, t.supplier.s_acctbal > t.customer.c_acctbal)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("n_poorer_customers"))
    )


@register(
    "q_join_nullsafe",
    oracle="""
SELECT coalesce(CAST(a.o_custkey AS STRING), '∅') AS custkey_a,
       count(*) AS n_pairs
FROM (SELECT o_custkey FROM orders WHERE o_orderkey % 100 = 0) a
JOIN (SELECT o_custkey FROM orders WHERE o_orderkey % 100 = 50) b
  ON a.o_custkey IS NOT DISTINCT FROM b.o_custkey
GROUP BY 1
""",
    tags=("join",),
)
def q_join_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing — the semantics needed when
    'unknown' is a real category (orphan orders, missing dimensions).

    Scale notes: the null bucket is the ultimate skewed key; in
    production pair <=> with the salting recipe (q_skew_salted_agg) or
    split the null partition off and cross-count it separately.
    """
    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 100 == 0).select(
        F.col("o_custkey").alias("k_a")
    )
    b = o.filter(F.col("o_orderkey") % 100 == 50).select(
        F.col("o_custkey").alias("k_b")
    )
    return (
        a.join(b, F.col("k_a").eqNullSafe(F.col("k_b")))
        .groupBy(F.coalesce(F.col("k_a").cast("string"), F.lit("∅")).alias("custkey_a"))
        .agg(F.count("*").alias("n_pairs"))
    )


@register(
    "q_join_band",
    oracle="""
SELECT s.s_suppkey, s.s_name, count(*) AS n_poorer_customers
FROM supplier s JOIN customer c ON s.s_acctbal > c.c_acctbal
GROUP BY s.s_suppkey, s.s_name
""",
    tags=("join",),
)
def q_join_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalable rewrite of q_join_theta (SAME oracle — provably the
    same result): count customers poorer than each supplier WITHOUT the
    quadratic nested-loop join.

    Bucketize acctbal (width 500); then for each supplier
      * customers in strictly-lower buckets all qualify -> one
        broadcast lookup into per-bucket prefix counts;
      * only the supplier's OWN bucket needs a real comparison ->
        equi-join on bucket + filter.
    Cost: O(n) + a same-bucket join whose fan-out is one bucket wide —
    at 100 TB this is the difference between a band join finishing and
    a BroadcastNestedLoopJoin never finishing.
    """
    t = tables(spark, sf_dir, "supplier", "customer")
    width = 500
    cust = t.customer.select(
        F.floor(F.col("c_acctbal") / width).cast("long").alias("bkt"), "c_acctbal"
    )
    per_bucket = cust.groupBy("bkt").agg(F.count("*").alias("n_in_bkt"))
    supp = t.supplier.select(
        "s_suppkey",
        "s_name",
        "s_acctbal",
        F.floor(F.col("s_acctbal") / width).cast("long").alias("bkt"),
    )
    # full lower buckets: range-join against the BUCKET-COUNT table —
    # O(#buckets) rows broadcast, so the "theta" part is trivial
    lower = per_bucket.select(F.col("bkt").alias("c_bkt"), "n_in_bkt")
    with_prefix = (
        supp.join(F.broadcast(lower), F.col("c_bkt") < F.col("bkt"), "left")
        .groupBy("s_suppkey", "s_name", "s_acctbal", "bkt")
        .agg(F.coalesce(F.sum("n_in_bkt"), F.lit(0)).alias("n_below_bkt"))
    )
    # partial bucket via equi-join on the supplier's own bucket
    same_bkt = (
        with_prefix.join(cust, "bkt")
        .filter(F.col("s_acctbal") > F.col("c_acctbal"))
        .groupBy("s_suppkey")
        .agg(F.count("*").alias("n_same_bkt"))
    )
    return (
        with_prefix.join(same_bkt, "s_suppkey", "left")
        .select(
            "s_suppkey",
            "s_name",
            (F.col("n_below_bkt") + F.coalesce("n_same_bkt", F.lit(0))).alias(
                "n_poorer_customers"
            ),
        )
        .filter(F.col("n_poorer_customers") > 0)
    )


@register(
    "q_join_asof",
    oracle=f"""
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), clicks AS (
  -- deterministic tie rule: among clicks sharing (user_id, ts) the one
  -- with the max event_id wins (ASOF JOIN would otherwise pick an
  -- arbitrary row among equal c.ts)
  SELECT user_id, ts, value FROM events WHERE event_type = 'click'
  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
)
SELECT p.event_id,
       p.user_id,
       {o_fmt_ts('p.ts')} AS purchase_ts,
       {o_fmt_ts('c.ts')} AS last_click_ts,
       c.value            AS last_click_value
FROM purchases p
ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
    tags=("join",),
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the latest click of the same user
    at-or-before the purchase time.

    Spark has no native ASOF JOIN; the scalable pattern is the
    union-and-fill: tag both streams, union, order per key by (ts,
    side), and carry the last click forward with last(ignorenulls) —
    one shuffle on user_id, no range-join explosion. DuckDB's native
    ASOF JOIN is the oracle.
    """
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("value").alias("click_value"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("tie_id"),
    )
    unioned = purchases.withColumn("click_value", F.lit(None).cast("double")).withColumn(
        "click_ts", F.lit(None).cast("timestamp")
    ).withColumn("side", F.lit(1)).withColumn("tie_id", F.col("event_id")).unionByName(
        clicks.withColumn("event_id", F.lit(None).cast("long")).withColumn(
            "side", F.lit(0)
        )
    )
    # Order clicks before purchases at identical ts so "at-or-before"
    # includes a click with exactly the purchase timestamp; tie_id
    # (the click's own event_id) breaks ties among clicks sharing a
    # timestamp so last() is deterministic — max event_id wins, the
    # same rule the oracle's QUALIFY dedup pins.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "tie_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Carry the whole click ROW as a struct: the struct is non-null for
    # every click even when its value field is NULL, so ignorenulls
    # skips only "no click yet" — a null-VALUED click still matches
    # (the ASOF contract; caught by tests/test_adversarial.py).
    click_row = F.when(
        F.col("side") == 0, F.struct("click_ts", "click_value")
    )
    return (
        unioned.withColumn("last_click", F.last(click_row, ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            F.date_format("last_click.click_ts", "yyyy-MM-dd HH:mm:ss").alias(
                "last_click_ts"
            ),
            F.col("last_click.click_value").alias("last_click_value"),
        )
    )


@register(
    "q_join_asof_tolerance",
    oracle=f"""
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'click'
  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
)
SELECT p.event_id,
       p.user_id,
       {o_fmt_ts('p.ts')} AS purchase_ts,
       CASE WHEN p.ts - c.ts <= INTERVAL 30 MINUTE
            THEN {o_fmt_ts('c.ts')} END AS last_click_ts,
       CASE WHEN p.ts - c.ts <= INTERVAL 30 MINUTE
            THEN c.value END AS last_click_value
FROM purchases p
ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
    tags=("join",),
)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a tolerance (pandas merge_asof semantics): the
    latest same-user click at-or-before each purchase counts only if it
    is at most 30 minutes old — older matches null out, exactly as a
    feature-engineering join would refuse stale context.

    Same union-and-fill shape as q_join_asof (one shuffle on user_id,
    no range-join explosion); the tolerance is one post-fill predicate
    in exact microseconds. Oracle: DuckDB native ASOF JOIN + the same
    staleness CASE.
    """
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("value").alias("click_value"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("tie_id"),
    )
    unioned = (
        purchases.withColumn("click_value", F.lit(None).cast("double"))
        .withColumn("click_ts", F.lit(None).cast("timestamp"))
        .withColumn("side", F.lit(1))
        .withColumn("tie_id", F.col("event_id"))
        .unionByName(
            clicks.withColumn("event_id", F.lit(None).cast("long")).withColumn(
                "side", F.lit(0)
            )
        )
    )
    # tie_id: deterministic winner among same-(user_id, ts) clicks —
    # see q_join_asof; the oracle's QUALIFY mirrors the max-event_id rule
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "tie_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_row = F.when(F.col("side") == 0, F.struct("click_ts", "click_value"))
    fresh = (
        F.unix_micros(F.col("ts")) - F.unix_micros(F.col("last_click.click_ts"))
    ) <= 1800 * 1_000_000
    return (
        unioned.withColumn("last_click", F.last(click_row, ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            F.when(
                fresh, F.date_format("last_click.click_ts", "yyyy-MM-dd HH:mm:ss")
            ).alias("last_click_ts"),
            F.when(fresh, F.col("last_click.click_value")).alias("last_click_value"),
        )
    )


@register(
    "q_join_cross",
    oracle="""
SELECT r.r_name, n.n_name, (n.n_regionkey = r.r_regionkey) AS is_home
FROM region r CROSS JOIN nation n
""",
    tags=("join",),
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two BOUNDED dims (5 regions x 25 nations =
    125 rows) — the template grid every region/nation combination
    reporting needs. Explicit crossJoin with a broadcast side.

    Scale notes: cross joins are safe ONLY when one side is provably
    bounded (broadcast nested loop over a dim); the engine never crosses
    two sf-scaled tables — unbounded theta shapes go through the band
    rewrite (q_join_band) instead."""
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    return r.crossJoin(F.broadcast(n)).select(
        "r_name",
        "n_name",
        (F.col("n_regionkey") == F.col("r_regionkey")).alias("is_home"),
    )


@register(
    "q_join_interval_overlap",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sess_no
  FROM flagged
), sessions AS (
  SELECT user_id, min(ts) AS s_start, max(ts) AS s_end
  FROM numbered GROUP BY user_id, sess_no
), bounds AS (
  SELECT date_trunc('hour', min(ts)) AS v, max(ts) AS mx FROM events
), camp AS (
  SELECT CAST((epoch_us(gs) - epoch_us(v)) // 14400000000 AS BIGINT) AS campaign_k,
         gs AS c_start,
         gs + INTERVAL 6 HOUR AS c_end
  FROM (SELECT v, unnest(generate_series(v, mx, INTERVAL 4 HOUR)) AS gs FROM bounds)
)
SELECT s.user_id,
       strftime(s.s_start, '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(s.s_end, '%Y-%m-%d %H:%M:%S') AS session_end,
       c.campaign_k,
       epoch_us(least(s.s_end, c.c_end)) - epoch_us(greatest(s.s_start, c.c_start))
         AS overlap_us
FROM sessions s
JOIN camp c
  ON c.c_start <= s.s_end AND s.s_start < c.c_end
""",
    tags=("join",),
)
def q_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: user activity sessions (30-min-gap
    sessionization, exact µs bounds) against overlapping campaign
    windows (6-hour windows starting every 4 hours across the event
    span), emitting each (session, campaign) pair with its exact
    overlap duration. The attribution/exposure primitive: "which
    campaigns was this session exposed to, for how long".

    Interval semantics: sessions are closed [start, end] (single-event
    sessions are valid zero-length intervals), campaigns half-open
    [start, end) — predicate c_start <= s_end AND s_start < c_end.

    Scale notes: the campaign side is bounded by calendar span, not
    data size, so it broadcasts and the session side never reshuffles
    after its sessionization window — the overlap predicate runs as a
    broadcast nested-loop with bounded fan-out (span/step + 1 windows
    max per session, typically 1-2 for short sessions). When BOTH
    interval sides are data-sized, this shape is wrong — bucketize to
    time bands and equi-join on band + post-filter (the q_join_band
    rewrite) to stay out of quadratic territory.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.lag("ts").over(w).isNull() | (gap_us > 1800 * 1_000_000), 1)
        .otherwise(0)
        .alias("new_sess"),
    )
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = (
        flagged.withColumn("sess_no", F.sum("new_sess").over(wsum))
        .groupBy("user_id", "sess_no")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    # campaign calendar generated FROM the data's own time bounds, as a
    # plan-side sequence off a 1-row aggregate frame — no driver-side
    # .first() roundtrip, and the frame still broadcasts below
    bounds = ev.agg(F.min("ts").alias("tmin"), F.max("ts").alias("tmax"))
    camp = (
        bounds.select(
            F.posexplode(
                F.sequence(
                    F.date_trunc("hour", F.col("tmin")),
                    F.col("tmax"),
                    F.expr("INTERVAL 4 HOURS"),
                )
            ).alias("campaign_k", "c_start")
        )
        .select(
            F.col("campaign_k").cast("long").alias("campaign_k"),
            "c_start",
            (F.col("c_start") + F.expr("INTERVAL 6 HOURS")).alias("c_end"),
        )
    )
    overlap_us = F.unix_micros(F.least("s_end", "c_end")) - F.unix_micros(
        F.greatest("s_start", "c_start")
    )
    return (
        sessions.join(
            F.broadcast(camp),
            (F.col("c_start") <= F.col("s_end")) & (F.col("s_start") < F.col("c_end")),
        )
        .select(
            "user_id",
            F.date_format("s_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("s_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "campaign_k",
            overlap_us.alias("overlap_us"),
        )
    )


@register(
    "q_join_bucketed",
    oracle="""
SELECT o.o_orderpriority,
       count(*) AS n_lines,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
""",
    tags=("join",),
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed large-large join — the zero-shuffle upgrade path for
    joins where neither side broadcasts: both tables are written
    bucketed+sorted on the join key, so the SortMergeJoin reads
    co-located buckets directly and needs NO Exchange on either input
    (asserted in tests/test_plans.py). The ``merge`` hint pins the
    strategy so the demonstration holds at any test SF where one side
    would otherwise broadcast.

    Scale notes: at 100 TB this converts every repeated join on the
    same key from a full two-sided shuffle into a local merge per
    bucket — the write-once/join-many amortization that star-schema
    fact-fact joins (orders x lineitem) rely on. Bucket count scales
    with cluster parallelism, not data volume; the only Exchange left
    in the query is the final aggregation's.
    """
    base = scratch_dir(sf_dir, "bucketed_q")
    li_t, o_t = "q_jb_lineitem", "q_jb_orders"
    spark.sql(f"DROP TABLE IF EXISTS {li_t}")
    spark.sql(f"DROP TABLE IF EXISTS {o_t}")
    (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity")
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", f"{base}/{li_t}")
        .saveAsTable(li_t)
    )
    (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", f"{base}/{o_t}")
        .saveAsTable(o_t)
    )
    li = spark.table(li_t)
    o = spark.table(o_t).hint("merge")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("l_quantity").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


_SALT_N = 8  # salt fan-out for the hot-key join


@register(
    "q_join_salted",
    oracle="""
WITH fact AS (
  SELECT event_id,
         CASE WHEN user_id < 75 THEN 0 ELSE user_id END AS hot_key,
         value
  FROM events
), dim AS (
  SELECT CASE WHEN user_id < 75 THEN 0 ELSE user_id END AS hot_key,
         count(*) AS dim_n,
         max(event_id) AS dim_last
  FROM events
  GROUP BY 1
)
SELECT f.hot_key,
       count(*) AS n_joined,
       max(d.dim_n) AS dim_n,
       max(d.dim_last) AS dim_last
FROM fact f JOIN dim d ON f.hot_key = d.hot_key
GROUP BY f.hot_key
ORDER BY f.hot_key
""",
    tags=("join",),
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join: half the fact rows collapse onto one hot key
    (user_id < 75 → 0), so a plain shuffle join would send them all to
    one reducer. The salted form appends salt = hash(event_id) mod S to
    the fact key and EXPLODES the dim side ×S, so the hot key's rows
    spread across S reducers — identical result to the plain join (the
    oracle IS the plain join), different physical distribution. The
    manual recipe for hot keys beyond AQE's skew-join splitting (e.g.
    null-heavy or celebrity keys known in advance), twin of
    q_skew_salted_agg on the join side.

    Scale notes: the dim replication is ×S of the SMALL side only; the
    fact side shuffles once with no replication. S is sized to the
    hottest key's row share (here 8; production: hot-rows / target-
    partition-rows). The per-salt partial aggregation then combines —
    no reducer ever holds the hot key's full row set.
    """
    ev = table(spark, sf_dir, "events")
    hot = F.when(F.col("user_id") < 75, F.lit(0)).otherwise(F.col("user_id"))
    fact = ev.select(
        "event_id",
        hot.alias("hot_key"),
        (F.pmod(F.xxhash64("event_id"), F.lit(_SALT_N))).alias("salt"),
    )
    dim = (
        ev.select(hot.alias("hot_key"), "event_id")
        .groupBy("hot_key")
        .agg(F.count("*").alias("dim_n"), F.max("event_id").alias("dim_last"))
        .withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(_SALT_N)])))
    )
    stage1 = (
        fact.join(dim, ["hot_key", "salt"])
        .groupBy("hot_key", "salt")
        .agg(
            F.count("*").alias("pn"),
            F.max("dim_n").alias("pdim_n"),
            F.max("dim_last").alias("pdim_last"),
        )
    )
    return (
        stage1.groupBy("hot_key")
        .agg(
            F.sum("pn").alias("n_joined"),
            F.max("pdim_n").alias("dim_n"),
            F.max("pdim_last").alias("dim_last"),
        )
        .orderBy("hot_key")
    )


# ---- q_join_cidr -------------------------------------------------------- #
# Point-in-CIDR-range join — the flow-log enrichment join: every event
# carries an IPv4 address, a dimension holds CIDR blocks, and each
# event must find the blocks containing its address. The naive form is
# a pure range theta join (ip BETWEEN lo AND hi) — quadratic blowup on
# a cluster. The scalable form used here: because every block is /16
# or longer, each block lies inside exactly ONE (first, second)-octet
# /16 cell, so the join becomes an EQUI join on that prefix cell plus
# a residual range filter — hash-partitionable, broadcast-able, no
# theta explosion. (Blocks shorter than /16 would expand to one row
# per covered /16 cell — bounded fan-out, same equi shape.)

_CIDR_BLOCKS_SQL = """
  SELECT p_partkey AS block_id,
         p_partkey % 200 AS so,
         16 + 4 * (p_partkey % 3) AS plen,
         CASE p_partkey % 3
           WHEN 0 THEN 0
           WHEN 1 THEN (p_partkey % 16) * 16
           ELSE p_partkey % 256 END AS tho,
         CAST(pow(2, 32 - (16 + 4 * (p_partkey % 3))) AS BIGINT) AS span
  FROM part
"""


@register(
    "q_join_cidr",
    oracle=f"""
WITH b0 AS ({_CIDR_BLOCKS_SQL}),
b AS (
  SELECT block_id, so, plen,
         '10.' || so || '.' || tho || '.0/' || plen AS cidr,
         10 * 16777216 + so * 65536 + tho * 256 AS lo,
         10 * 16777216 + so * 65536 + tho * 256 + span - 1 AS hi
  FROM b0
),
ips AS (
  SELECT event_id,
         10 * 16777216
           + ((user_id * 17) % 256) * 65536
           + ((event_id * 7) % 256) * 256
           + 1 + (event_id * 31) % 254 AS ip_u32
  FROM events
)
SELECT b.block_id, b.cidr, b.plen,
       count(*) AS n_hits,
       min(i.ip_u32) AS min_ip,
       max(i.ip_u32) AS max_ip
FROM b JOIN ips i ON i.ip_u32 BETWEEN b.lo AND b.hi
GROUP BY b.block_id, b.cidr, b.plen
""",
    tags=("join", "ip"),
)
def q_join_cidr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CIDR containment join via /16 prefix blocking: blocks (derived
    from `part`, prefix lengths 16/20/24) equi-join events' addresses
    on the second octet — the /16 cell every such block lies inside —
    then a residual lo<=ip<=hi filter keeps true containments.

    The ORACLE is the naive range theta join (BETWEEN only, no prefix
    key): agreement proves the prefix-blocked equi join computes
    exactly the containment-join semantics. Spark never executes a
    theta join here — the block side broadcasts (dim-sized) with the
    equi key keeping the build table's per-cell lists short; at a
    dimension too big to broadcast the same plan SHUFFLE_HASHes on the
    prefix cell. Events' addresses reuse the q_fn_ip arithmetic with
    the first octet pinned to 10 so containments exist.
    """
    blocks0 = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("block_id"),
        (F.col("p_partkey") % 200).alias("so"),
        (16 + 4 * (F.col("p_partkey") % 3)).alias("plen"),
        F.when(F.col("p_partkey") % 3 == 0, F.lit(0))
        .when(F.col("p_partkey") % 3 == 1, (F.col("p_partkey") % 16) * 16)
        .otherwise(F.col("p_partkey") % 256)
        .alias("tho"),
    )
    blocks = blocks0.select(
        "block_id",
        "so",
        "plen",
        F.concat_ws(
            "",
            F.lit("10."),
            F.col("so").cast("string"),
            F.lit("."),
            F.col("tho").cast("string"),
            F.lit(".0/"),
            F.col("plen").cast("string"),
        ).alias("cidr"),
        (
            F.lit(10 * 16_777_216) + F.col("so") * 65_536 + F.col("tho") * 256
        ).alias("lo"),
        (
            F.lit(10 * 16_777_216)
            + F.col("so") * 65_536
            + F.col("tho") * 256
            + F.pow(F.lit(2.0), 32 - F.col("plen")).cast("long")
            - 1
        ).alias("hi"),
    )
    ips = table(spark, sf_dir, "events").select(
        "event_id",
        (
            F.lit(10 * 16_777_216)
            + ((F.col("user_id") * 17) % 256) * 65_536
            + ((F.col("event_id") * 7) % 256) * 256
            + 1
            + (F.col("event_id") * 31) % 254
        ).alias("ip_u32"),
        (((F.col("user_id") * 17) % 256)).alias("pfx"),
    )
    return (
        ips.join(
            F.broadcast(blocks),
            (F.col("pfx") == F.col("so"))
            & F.col("ip_u32").between(F.col("lo"), F.col("hi")),
        )
        .groupBy("block_id", "cidr", "plen")
        .agg(
            F.count("*").alias("n_hits"),
            F.min("ip_u32").alias("min_ip"),
            F.max("ip_u32").alias("max_ip"),
        )
    )


# ---- q_join_scd2_pointintime --------------------------------------------- #
# Point-in-time (temporal) join — the feature-store / SCD2 lookup: each
# fact row must see the dimension VERSION that was valid at its event
# time, never a later one (training-serving skew is exactly this join
# done wrong). Versions derive from the event log itself (q_scd2_history
# shape): profile events (non-purchases) open a version at their
# event_id and close it at the next profile event; purchases are the
# probing facts.


@register(
    "q_join_scd2_pointintime",
    oracle="""
WITH ver AS (
  SELECT user_id, event_type,
         event_id AS from_seq,
         lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
           AS to_seq
  FROM events WHERE event_type <> 'purchase'
), probe AS (
  SELECT user_id, event_id AS probe_seq FROM events
  WHERE event_type = 'purchase'
)
SELECT p.user_id, p.probe_seq,
       v.event_type AS state_type,
       v.from_seq AS state_from_seq
FROM probe p JOIN ver v
  ON p.user_id = v.user_id
 AND v.from_seq < p.probe_seq
 AND (v.to_seq IS NULL OR p.probe_seq < v.to_seq)
""",
    tags=("join", "replay"),
)
def q_join_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase joined to the profile version valid AT that
    moment: equi join on the entity key plus the interval residual
    (from_seq < probe < to_seq, open-ended current version) — every
    probe matches exactly one version; purchases before any profile
    event drop (inner semantics).

    Scale notes: the join is hash-partitioned on user_id with the
    interval predicate as a residual filter — per-key version lists
    are bounded by that entity's change count, so no theta explosion
    (the naive form would range-join facts x versions globally). The
    version build is the q_scd2_history single-exchange window; a
    SHUFFLE_HASH hint keeps the planner from broadcasting the
    fact-sized version frame at toy scale. This is the as-of join's
    interval twin: q_join_asof keys on nearest-timestamp, this on
    explicit [from, to) validity.
    """
    ev = table(spark, sf_dir, "events")
    wv = Window.partitionBy("user_id").orderBy("from_seq")
    ver = (
        ev.filter(F.col("event_type") != "purchase")
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("from_seq"),
        )
        .withColumn("to_seq", F.lead("from_seq").over(wv))
    )
    probe = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("probe_seq")
    )
    return (
        probe.join(
            ver.hint("shuffle_hash"),
            (probe["user_id"] == ver["user_id"])
            & (F.col("from_seq") < F.col("probe_seq"))
            & (F.col("to_seq").isNull() | (F.col("probe_seq") < F.col("to_seq"))),
        )
        .select(
            probe["user_id"],
            "probe_seq",
            F.col("event_type").alias("state_type"),
            F.col("from_seq").alias("state_from_seq"),
        )
    )


# ---- q_join_fuzzy ------------------------------------------------------------ #
# Blocked fuzzy string join — entity-resolution's workhorse. Probe
# strings (deterministically truncated catalog names, a typo model
# both engines derive identically) match back to the catalog through
# a BLOCKING key (3-char prefix) so candidate pairs are prefix-local,
# never the all-pairs cross product; edit distance <= 2 filters, and
# a per-probe argmin picks the best match.


@register(
    "q_join_fuzzy",
    oracle="""
WITH cat AS (SELECT DISTINCT p_name FROM part),
probes AS (
  SELECT p_name AS orig,
         substr(p_name, 1, length(p_name) - 1) AS probe
  FROM cat
),
cand AS (
  SELECT p.probe, p.orig, c.p_name AS matched,
         levenshtein(p.probe, c.p_name) AS dist
  FROM probes p
  JOIN cat c ON substr(p.probe, 1, 3) = substr(c.p_name, 1, 3)
  WHERE levenshtein(p.probe, c.p_name) <= 2
),
best AS (
  SELECT probe, orig, matched, dist,
         row_number() OVER (PARTITION BY probe
                            ORDER BY dist, matched) AS rn
  FROM cand
)
SELECT probe, orig, matched, dist,
       (matched = orig) AS recovered
FROM best WHERE rn = 1 ORDER BY probe
""",
    tags=("join", "fuzzy"),
)
def q_join_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) join with prefix blocking: truncated
    probe names equi-join the catalog on their 3-char prefix block,
    survive a levenshtein <= 2 filter, and keep the (dist, name)-argmin
    match per probe — recovering the original for most probes.

    Scale notes: the join is EQUI on the block key, so Spark shuffles
    both sides by prefix and compares only within blocks — candidate
    volume is sum(block_size^2) over blocks, not n^2; levenshtein runs
    JVM-side in codegen on the blocked pairs. Skewed blocks (common
    prefixes) are the documented knob: widen the prefix or add a
    length band to the key. The per-probe argmin is a
    WindowGroupLimit-able rank inside the probe partition.
    """
    cat = table(spark, sf_dir, "part").select("p_name").distinct()
    probes = cat.select(
        F.col("p_name").alias("orig"),
        F.expr("substr(p_name, 1, length(p_name) - 1)").alias("probe"),
    )
    cand = (
        probes.join(
            cat.select(F.col("p_name").alias("matched")),
            F.expr("substr(probe, 1, 3) = substr(matched, 1, 3)"),
        )
        .withColumn("dist", F.levenshtein("probe", "matched").cast("long"))
        .filter(F.col("dist") <= 2)
    )
    w = Window.partitionBy("probe").orderBy("dist", "matched")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "probe",
            "orig",
            "matched",
            "dist",
            (F.col("matched") == F.col("orig")).alias("recovered"),
        )
        .orderBy("probe")
    )


# ---- q_join_nearest ---------------------------------------------------------- #
# Nearest-value join — the numeric twin of the as-of join: each
# supplier matches the customer whose account balance is CLOSEST.
# Bucketized blocking (value div W, probe buckets b-1/b/b+1) makes the
# candidate set bucket-local, never all-pairs; exact integer cents
# distances and a (dist, custkey)-argmin keep the winner unique and
# engine-portable.


@register(
    "q_join_nearest",
    oracle="""
WITH s AS (
  SELECT s_suppkey, s_name,
         CAST(round(s_acctbal * 100) AS BIGINT) AS sc
  FROM supplier WHERE s_acctbal IS NOT NULL
), c AS (
  SELECT c_custkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cc
  FROM customer WHERE c_acctbal IS NOT NULL
), cand AS (
  SELECT s.s_suppkey, s.s_name, c.c_custkey,
         abs(s.sc - c.cc) AS dist_cents
  FROM s JOIN c
    ON (c.cc // 100000) BETWEEN (s.sc // 100000) - 1
                            AND (s.sc // 100000) + 1
), best AS (
  SELECT s_suppkey, s_name, c_custkey, dist_cents,
         row_number() OVER (PARTITION BY s_suppkey
                            ORDER BY dist_cents, c_custkey) AS rn
  FROM cand
)
SELECT s_suppkey, s_name, c_custkey, dist_cents
FROM best WHERE rn = 1 ORDER BY s_suppkey
""",
    tags=("join",),
)
def q_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor join on a numeric key: suppliers probe the
    $1000-wide balance bucket they fall in plus both neighbors (the
    true nearest can never sit further than one bucket away when a
    same-bucket candidate exists; with the fixture's dense customer
    balances every bucket is occupied), then exact integer-cents
    distance and a deterministic per-supplier argmin.

    Scale notes: each supplier row EXPLODES into its three candidate
    bucket keys (b-1, b, b+1) and equi-joins customers on their single
    bucket key — a plain hash-partitioned join, never a nested loop
    (a raw BETWEEN band predicate has no equi key for Spark to extract
    and planned as BroadcastNestedLoopJoin evaluating every supplier x
    customer pair; ADVICE r10). Candidate volume is 3 x bucket
    occupancy per probe, linear in both sides — the as-of-join
    doctrine applied to the value domain. Skewed buckets respond to
    the same knobs as the fuzzy join's blocks: narrower W or a
    secondary split key.
    """
    sup = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal").isNotNull())
        .select(
            "s_suppkey",
            "s_name",
            slong("s_acctbal", 2).alias("sc"),
        )
        .withColumn(
            "b",
            F.explode(
                F.expr(
                    "array((sc div 100000) - 1, sc div 100000,"
                    " (sc div 100000) + 1)"
                )
            ),
        )
    )
    cust = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal").isNotNull())
        .select("c_custkey", slong("c_acctbal", 2).alias("cc"))
        .withColumn("b", F.expr("cc div 100000"))
    )
    # exploded side has no reliable stats — pin the hash join so the
    # planner can never broadcast a data-sized frame (joins.py doctrine)
    cand = sup.join(cust.hint("shuffle_hash"), "b").withColumn(
        "dist_cents", F.abs(F.col("sc") - F.col("cc"))
    )
    # optimization r14 (guide §2.3 "aggregate before you shuffle"): the
    # per-supplier argmin was a row_number window — every candidate row
    # crossed the suppkey exchange and sorted per partition. min() over
    # a (dist, custkey) struct is the SAME deterministic winner (struct
    # comparison is field-lexicographic, exactly the window's ordering)
    # but partial-aggregates map-side, so the exchange carries one row
    # per supplier per input partition instead of every candidate.
    # s_name is functionally dependent on s_suppkey (one supplier row),
    # so grouping by both keeps one output row per supplier.
    best = (
        cand.groupBy("s_suppkey", "s_name")
        .agg(F.min(F.struct("dist_cents", "c_custkey")).alias("w"))
    )
    return (
        best.select(
            "s_suppkey",
            "s_name",
            F.col("w.c_custkey").alias("c_custkey"),
            F.col("w.dist_cents").alias("dist_cents"),
        )
        .orderBy("s_suppkey")
    )


# ---- q_agg_key_skew ---------------------------------------------------------- #
# Join-key skew advisor — the diagnostic that decides when q_join_salted's
# remedy is needed: per-key frequency profile of the orders->customer
# join key with the hot keys, their corpus share, and a skew factor
# (max/mean, scaled x1000 exact).


@register(
    "q_agg_key_skew",
    oracle="""
WITH k AS (
  SELECT o_custkey, count(*) AS cnt FROM orders
  WHERE o_custkey IS NOT NULL GROUP BY o_custkey
), s AS (
  SELECT count(*) AS n_keys,
         CAST(SUM(cnt) AS BIGINT) AS n_rows,
         max(cnt) AS max_cnt
  FROM k
), hot AS (
  SELECT o_custkey, cnt,
         row_number() OVER (ORDER BY cnt DESC, o_custkey) AS rk
  FROM k
)
SELECT h.rk, h.o_custkey AS hot_key, h.cnt,
       (1000000 * h.cnt) // s.n_rows AS share_ppm,
       CAST((CAST(1000 AS HUGEINT) * h.cnt * s.n_keys) // s.n_rows
            AS BIGINT) AS skew_x1000
FROM hot h CROSS JOIN s
WHERE h.rk <= 10 ORDER BY h.rk
""",
    tags=("join", "dq"),
)
def q_agg_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 hottest orders.o_custkey values with exact integer corpus
    share (ppm) and skew factor (key count over mean key count,
    x1000) — the number that tells you whether the plain shuffle join
    survives or q_join_salted's salting / AQE skew split is required.

    Scale notes: one map-side-combined key count, a broadcast 1-row
    stats frame, and a top-10 via TakeOrderedAndProject-able rank —
    per-task heaps, no global sort. Run it on any prospective join key
    before the join itself; at 100 TB the profile costs one narrow
    shuffle of (key, count) partials.
    """
    k = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey").isNotNull())
        .groupBy("o_custkey")
        .agg(F.count("*").alias("cnt"))
    )
    s = k.agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
    )
    hot = k.orderBy(F.desc("cnt"), "o_custkey").limit(10)
    w = Window.orderBy(F.desc("cnt"), "o_custkey")
    return (
        hot.withColumn("rk", F.row_number().over(w).cast("long"))
        .crossJoin(F.broadcast(s))
        .select(
            "rk",
            F.col("o_custkey").alias("hot_key"),
            "cnt",
            F.expr("(1000000 * cnt) div n_rows").alias("share_ppm"),
            # cnt * n_keys can exceed int64 under heavy skew at scale
            # (Spark non-ANSI wraps silently, DuckDB raises) — widen
            # the product to DECIMAL(38,0) before the integral divide
            # on BOTH sides (ADVICE r10); the quotient is <= 1000 x
            # skew factor, comfortably back in int64
            F.expr(
                "CAST((CAST(1000 AS DECIMAL(38,0)) * cnt * n_keys)"
                " div n_rows AS LONG)"
            ).alias("skew_x1000"),
        )
        .orderBy("rk")
    )
