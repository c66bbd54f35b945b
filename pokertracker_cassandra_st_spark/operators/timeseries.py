"""Time-series operators: spine generation, gap filling, forward fill.

Training-data and analytics pipelines constantly need "regularize this
irregular event stream onto a fixed grid": generate a per-key calendar
spine, join observations onto it, and carry the last observation
forward. All declarative — sequence+explode for the spine, an as-of
style last(ignorenulls) window for the fill.

Scale notes: the spine explode multiplies rows by days-per-key (bounded
by the date range, not data size); the fill is one shuffle on the key.
No driver-side date loops, no UDFs. For sparse keys over long ranges,
generate the spine from per-key min/max (as here) rather than a global
calendar cross join — the output stays proportional to the per-key
span.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pokertracker_cassandra_st_spark.catalog import scratch_dir, table
from pokertracker_cassandra_st_spark.exprs import DEC, MONEY, fmt_ts
from pokertracker_cassandra_st_spark.registry import register


@register(
    "q_ts_gapfill",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         (list(value ORDER BY event_id DESC))[1] AS day_last_value,
         count(*) AS n_events
  FROM events
  GROUP BY 1, 2
), spans AS (
  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY user_id
), spine AS (
  SELECT s.user_id, CAST(gs.g AS DATE) AS day
  FROM spans s, LATERAL unnest(generate_series(s.d0, s.d1, INTERVAL 1 DAY)) AS gs(g)
)
SELECT sp.user_id,
       CAST(sp.day AS STRING) AS day,
       coalesce(d.n_events, 0) AS n_events,
       last_value(d.day_last_value IGNORE NULLS)
         OVER (PARTITION BY sp.user_id ORDER BY sp.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
FROM spine sp LEFT JOIN daily d ON sp.user_id = d.user_id AND sp.day = d.day
""",
    tags=("timeseries",),
)
def q_ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily grid per user over each user's own [min, max] span, event
    counts on observed days, last observed value carried forward across
    gap days."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.max_by("value", "event_id").alias("day_last_value"),
        F.count("*").alias("n_events"),
    )
    spans = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = spans.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.col("day").cast("string").alias("day"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last("day_last_value", ignorenulls=True).over(w).alias("filled_value"),
        )
    )


@register(
    "q_ts_downsample",
    oracle=f"""
SELECT user_id,
       strftime(TIMESTAMP '1970-01-01' + INTERVAL 1 SECOND *
                ((CAST(floor(epoch(ts)) AS BIGINT) // 21600) * 21600),
                '%Y-%m-%d %H:%M:%S') AS bucket_start,
       (list(value ORDER BY event_id))[1]      AS open_value,
       (list(value ORDER BY event_id DESC))[1] AS close_value,
       min(value) AS min_value,
       max(value) AS max_value,
       count(*)   AS n_events
FROM events
GROUP BY 1, 2
""",
    tags=("timeseries",),
)
def q_ts_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC-style downsampling: irregular events -> fixed 6-hour buckets
    per user with open/close (first/last by the event_id sequence) and
    min/max. The resample primitive every metrics/feature pipeline needs.

    Scale notes: one partial-aggregated shuffle on (user_id, bucket);
    open/close ride the same hash aggregate via min_by/max_by — no sort,
    no window, no second pass."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id",
            F.date_format(
                F.window("ts", "6 hours")["start"], "yyyy-MM-dd HH:mm:ss"
            ).alias("bucket_start"),
        )
        .agg(
            F.min_by("value", "event_id").alias("open_value"),
            F.max_by("value", "event_id").alias("close_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.count("*").alias("n_events"),
        )
    )


@register(
    "q_ts_sessionize",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sess_no
  FROM flagged
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       count(*) AS n_events
FROM numbered
GROUP BY user_id, sess_no
""",
    tags=("timeseries",),
)
def q_ts_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH sessionization (30-minute inactivity gap): lag -> gap flag
    -> running-sum session number -> per-session aggregate. The batch
    twin of q_stream_session (which uses session_window); both
    formulations must and do agree with the same lag+cumsum oracle.

    Scale notes: two window passes over one shuffle on user_id (lag and
    cumsum share the partitioning), then the session aggregate reuses
    the same keys — no self-join, no iterative pass."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # gap compared in exact microseconds — a seconds-truncated cast
    # would disagree with the oracle's exact interval comparison when a
    # gap straddles the 30-minute boundary by a fraction of a second
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
    numbered = flagged.withColumn("sess_no", F.sum("new_sess").over(wsum))
    return (
        numbered.groupBy("user_id", "sess_no")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .drop("sess_no")
    )


_ITP_S = 1_000_000  # value quantization scale for exact interpolation


@register(
    "q_ts_interpolate",
    oracle=f"""
WITH daily AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         (list(value ORDER BY event_id DESC))[1] AS v
  FROM events
  GROUP BY 1, 2
), q AS (
  SELECT user_id, day,
         CAST(CASE WHEN v < 0 THEN -floor(abs(v) * {_ITP_S} + 0.5)
                   ELSE  floor(abs(v) * {_ITP_S} + 0.5) END AS BIGINT) AS qv
  FROM daily
), nx AS (
  SELECT user_id, day, qv,
         lead(day) OVER w AS nd,
         lead(qv)  OVER w AS nq
  FROM q
  WINDOW w AS (PARTITION BY user_id ORDER BY day)
), seg AS (
  SELECT user_id, day, qv, nd, nq, date_diff('day', day, nd) AS g
  FROM nx
  WHERE nd IS NOT NULL AND date_diff('day', day, nd) > 1
)
SELECT user_id,
       CAST(CAST(day + CAST(i AS INTEGER) AS DATE) AS VARCHAR) AS day,
       CAST(qv * (g - i) + nq * i AS BIGINT) AS interp_num,
       CAST(g AS BIGINT) AS gap_len
FROM seg, LATERAL unnest(generate_series(1, g - 1)) AS t(i)
""",
    tags=("timeseries",),
)
def q_ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation across observation gaps — the numeric
    sibling of q_ts_gapfill's LOCF: for every pair of consecutive
    observed days (d0, d1) per user with a gap g > 1, emit the g-1
    missing days with the linearly interpolated value. Emitted exactly:
    values quantize to 1e-6 longs first, and the output is the integer
    numerator qv0*(g-i) + qv1*i together with the denominator g, so the
    interpolation is pure int64 arithmetic — bit-identical across
    engines and partitionings (the consumer divides, or keeps the
    rational form).

    Scale notes: one shuffle on user_id serves both the daily rollup
    and the lead() window (same key); the gap explode fans out bounded
    by calendar span, independent of event volume. No UDFs, no driver
    loops — sequence+explode stays in whole-stage codegen.
    """
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.max_by("value", "event_id").alias("v"))
    mag = F.floor(F.abs(F.col("v")) * _ITP_S + 0.5).cast("long")
    q = daily.select(
        "user_id", "day", F.when(F.col("v") < 0, -mag).otherwise(mag).alias("qv")
    )
    w = Window.partitionBy("user_id").orderBy("day")
    nx = q.select(
        "user_id",
        "day",
        "qv",
        F.lead("day").over(w).alias("nd"),
        F.lead("qv").over(w).alias("nq"),
    )
    seg = nx.filter(
        F.col("nd").isNotNull() & (F.datediff("nd", "day") > 1)
    ).withColumn("g", F.datediff("nd", "day").cast("long"))
    i = F.col("i")
    return seg.select(
        "user_id",
        F.explode(F.sequence(F.lit(1).cast("long"), F.col("g") - 1)).alias("i"),
        "day",
        "qv",
        "nq",
        "g",
    ).select(
        "user_id",
        F.date_add("day", i.cast("int")).cast("string").alias("day"),
        (F.col("qv") * (F.col("g") - i) + F.col("nq") * i).alias("interp_num"),
        F.col("g").alias("gap_len"),
    )


@register(
    "q_ts_rollup_hierarchy",
    oracle="""
SELECT 'hour' AS grain, event_type,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'day', event_type,
       CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR),
       count(*),
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'month', event_type,
       CAST(CAST(date_trunc('month', ts) AS DATE) AS VARCHAR),
       count(*),
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
FROM events GROUP BY 2, 3
""",
    tags=("timeseries",),
)
def q_ts_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate hierarchy (the hypertable rollup pattern):
    the HOURLY aggregate is materialized ONCE from raw events, and the
    coarser grains (day, month) are derived by re-aggregating the
    stored hourly partials — raw data is scanned exactly once no matter
    how many grains are served. Sums are kept in exact DECIMAL in the
    materialization so partial re-aggregation is bit-identical to a
    direct aggregate at every grain (the oracle computes each grain
    straight from raw events — equality IS the merge-correctness
    proof).

    Scale notes: at 100 TB the hourly materialization is ~10^4-10^5x
    smaller than raw (bounded by hours x keys, not events), so the
    daily/monthly queries read megabytes, not terabytes. Count and
    decimal-sum partials are mergeable (unlike avg/double-sum stored as
    final values); this is exactly the invariant streaming/hypertable
    rollups rely on. The refresh path is incremental: re-aggregate only
    the hours a new partition touches, overwrite those rows.
    """
    mat = scratch_dir(sf_dir, "rollup_hourly")
    ev = table(spark, sf_dir, "events")
    (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(DEC)).alias("sv"),
        )
        .write.mode("overwrite")
        .parquet(mat)
    )
    hourly = spark.read.parquet(mat)
    hour_out = hourly.select(
        F.lit("hour").alias("grain"),
        "event_type",
        fmt_ts("h").alias("bucket"),
        "n_events",
        F.col("sv").cast("double").alias("sum_value"),
    )
    daily = (
        hourly.groupBy("event_type", F.date_trunc("day", "h").cast("date").alias("d"))
        .agg(F.sum("n_events").alias("n_events"), F.sum("sv").alias("sv"))
        .select(
            F.lit("day").alias("grain"),
            "event_type",
            F.col("d").cast("string").alias("bucket"),
            "n_events",
            F.col("sv").cast("double").alias("sum_value"),
        )
    )
    monthly = (
        hourly.groupBy(
            "event_type", F.date_trunc("month", "h").cast("date").alias("m")
        )
        .agg(F.sum("n_events").alias("n_events"), F.sum("sv").alias("sv"))
        .select(
            F.lit("month").alias("grain"),
            "event_type",
            F.col("m").cast("string").alias("bucket"),
            "n_events",
            F.col("sv").cast("double").alias("sum_value"),
        )
    )
    return hour_out.unionByName(daily).unionByName(monthly)


@register(
    "q_ts_sliding_distinct",
    oracle="""
SELECT strftime(TIMESTAMP '1970-01-01' + INTERVAL 1 SECOND *
                ((CAST(floor(epoch(ts)) AS BIGINT) // 21600 - k.k) * 21600),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       count(DISTINCT user_id) AS n_users,
       count(*) AS n_events
FROM events, (VALUES (0), (1)) AS k(k)
GROUP BY 1
""",
    tags=("timeseries",),
)
def q_ts_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window distinct users: 12-hour windows sliding every 6
    hours, each event contributing to exactly width/slide = 2 windows.
    The overlapping-window cardinality question ("unique actives in the
    trailing 12h, refreshed every 6h") that tumbling windows cannot
    answer. ``F.window(ts, width, slide)`` does the bounded fan-out
    declaratively; the oracle mirrors it with an explicit 2-row
    membership join.

    Scale notes: fan-out is width/slide (here 2x), independent of data
    volume, and happens map-side before the aggregate's partial phase.
    Exact distinct over (window, user) shuffles one narrow pair per
    membership; for high-cardinality users at 100 TB the drop-in
    relaxations are approx_count_distinct or the mergeable HLL sketch
    rollup (q_agg_sketch_union) over per-slide partial sketches —
    sliding windows then UNION slide-aligned sketches instead of
    re-scanning, the same partial-merge invariant as
    q_ts_rollup_hierarchy.
    """
    ev = table(spark, sf_dir, "events")
    return (
        ev.select(F.window("ts", "12 hours", "6 hours").alias("w"), "user_id")
        .groupBy(F.col("w.start").alias("ws"))
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
        .select(
            fmt_ts("ws").alias("window_start"),
            "n_users",
            "n_events",
        )
    )


# EWMA horizon: 8 lags halves the weight each step, so the truncated
# tail carries < 0.4% of total weight — a finite-window approximation
# both engines can evaluate as the IDENTICAL closed-form expression
# (recursive EWMA is a sequential scan neither SQL engine exposes
# without order-sensitive aggregation whose float order differs).
_EWMA_K = 8
_EWMA_ALPHA = 0.5


def _ewma_oracle() -> str:
    a = _EWMA_ALPHA
    num = " + ".join(
        f"coalesce({a * (1 - a) ** j} * lag(value, {j}) OVER w, 0.0)"
        for j in range(_EWMA_K)
    )
    den = " + ".join(
        f"(CASE WHEN lag(value, {j}) OVER w IS NOT NULL"
        f" THEN {a * (1 - a) ** j} ELSE 0.0 END)"
        for j in range(_EWMA_K)
    )
    return f"""
SELECT event_id, user_id,
       round(({num}) / ({den}), 6) AS ewma
FROM events
WHERE event_type = 'click' AND value IS NOT NULL
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
QUALIFY row_number() OVER w <= 20
ORDER BY user_id, event_id
"""


@register("q_ts_ewma", oracle=_ewma_oracle(), tags=("timeseries",))
def q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each user's click
    values (α=0.5, 8-lag truncated horizon, renormalized over the lags
    actually present so early rows aren't biased toward zero).

    Both engines evaluate the same written sum of weighted ``lag``
    terms in the same left-to-right order on identical doubles —
    bit-deterministic, no tolerance needed. Output limited to each
    user's first 20 clicks to keep the checked surface small; the plan
    is one shuffle on user_id and K in-frame lags (no self-joins).

    Scale notes: K lag columns over one sorted window = one sort per
    partition of one shuffle; state is K doubles per row in flight.
    The truncated-horizon form is what a feature-backfill job uses when
    exact recursion would force a sequential scan.
    """
    from pyspark.sql import Window

    a = _EWMA_ALPHA
    ev = table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "click") & F.col("value").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # null-valued observations are excluded up front (an EWMA is over
    # observed values; it also keeps the renormalizer strictly > 0)
    # materialize each lag ONCE (num and den both read it), then build
    # the weighted sums — keeps the Window node at K expressions and
    # the whole query on a single user_id Exchange (no presentation
    # sort; the checked output is order-insensitive)
    lagged = ev.select(
        "event_id",
        "user_id",
        F.row_number().over(w).alias("_rn"),
        *[
            (F.lag("value", j).over(w) if j else F.col("value")).alias(f"_l{j}")
            for j in range(_EWMA_K)
        ],
    )
    num = None
    den = None
    for j in range(_EWMA_K):
        wj = F.lit(a * (1 - a) ** j)
        lj = F.col(f"_l{j}")
        term = F.coalesce(wj * lj, F.lit(0.0))
        present = F.when(lj.isNotNull(), wj).otherwise(F.lit(0.0))
        num = term if num is None else num + term
        den = present if den is None else den + present
    from pokertracker_cassandra_st_spark.exprs import fround

    return (
        lagged.filter(F.col("_rn") <= 20)
        # fround, NOT F.round: with a = 0.5 the weighted sum and the
        # renormalizer are exact dyadics, so the ratio can land ON a
        # 6dp rounding tie where F.round's BigDecimal-string path
        # disagrees with DuckDB's float round (exprs.fround; the
        # q_stream_ewma sf0.1 finding, fixed in the same round)
        .select("event_id", "user_id", fround(num / den, 6).alias("ewma"))
    )


@register(
    "q_ts_anomaly",
    oracle="""
WITH scored AS (
  SELECT event_id, user_id, value,
         avg(value)         OVER w AS mu,
         stddev_samp(value) OVER w AS sigma,
         count(*)           OVER w AS n_hist
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id,
       round(value, 2) AS value,
       round((value - mu) / sigma, 2) AS z
FROM scored
WHERE n_hist >= 10 AND sigma > 0 AND abs(round((value - mu) / sigma, 2)) > 2.5
ORDER BY user_id, event_id
""",
    tags=("timeseries",),
)
def q_ts_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly flags: each event's value scored as a
    z-score against the PRECEDING 20 same-user events (current row
    excluded — no self-leakage), emitted when |z| > 2.5 with at least
    10 rows of history.

    The frame contents are identical in both engines (deterministic
    ts+event_id order), and z is rounded to 2 decimals — two orders of
    magnitude above the float noise of windowed avg/stddev accumulation
    order, and the 2.5 threshold sits far from any data z (verified by
    the differential gate). One shuffle on user_id, frame state is 21
    rows — the streaming-adjacent sliding aggregation shape that scales
    per-key, not per-dataset.
    """
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    z = (F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w)
    return (
        ev.select(
            "event_id",
            "user_id",
            F.round("value", 2).alias("value"),
            F.round(z, 2).alias("z"),
            F.count("*").over(w).alias("_n"),
            F.stddev_samp("value").over(w).alias("_s"),
        )
        .filter((F.col("_n") >= 10) & (F.col("_s") > 0) & (F.abs(F.col("z")) > 2.5))
        .select("event_id", "user_id", "value", "z")
        .orderBy("user_id", "event_id")
    )


@register(
    "q_ts_ohlc",
    oracle="""
SELECT event_type,
       CAST(CAST(date_trunc('day', ts) AS DATE) AS STRING) AS day,
       (list(value ORDER BY event_id ASC))[1]  AS open,
       max(value) AS high,
       min(value) AS low,
       (list(value ORDER BY event_id DESC))[1] AS close,
       count(*) AS n_events
FROM events
GROUP BY 1, 2
""",
    tags=("timeseries",),
)
def q_ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar downsample: per (event_type, day), the first and last
    observed value in version order (open/close) plus the bar extrema
    (high/low) and tick count — the canonical financial/metrics
    resample. Version order is the global event_id sequence (the same
    per-aggregate ordering the replay fold relies on, SURVEY §1 A13),
    so open/close are deterministic under any partitioning; high/low
    are order-free extrema and n_events closes the bar.

    Scale notes: one partial-aggregated shuffle — min_by/max_by carry
    a single (value, event_id) candidate per group per map task, so
    the shuffle moves 4 scalars per (type, day) per task regardless of
    tick volume. This is the mergeable-state form of "first/last per
    bucket" (contrast a window + row_number formulation, which would
    shuffle every tick); at 100 TB the same plan emits per-day bars
    from a date-partitioned fact with partition-local aggregation.
    """
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type",
        F.date_trunc("day", "ts").cast("date").cast("string").alias("day"),
    ).agg(
        F.min_by("value", "event_id").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "event_id").alias("close"),
        F.count("*").alias("n_events"),
    )


# ---- lagged cross-correlation -------------------------------------- #
_XCORR_LAGS = 4  # hours 0..3


@register(
    "q_ts_cross_correlation",
    oracle=f"""
WITH h AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hb,
         CAST(count(*) AS BIGINT) AS c
  FROM events
  WHERE event_type IN ('click', 'purchase')
  GROUP BY 1, 2
), x AS (SELECT hb, c FROM h WHERE event_type = 'click'),
y AS (SELECT hb, c FROM h WHERE event_type = 'purchase'),
lags AS (SELECT k FROM (VALUES (0), (1), (2), (3)) v(k)),
pairs AS (
  SELECT k, x.c AS xv, y.c AS yv
  FROM lags CROSS JOIN x JOIN y ON y.hb = x.hb + k
), m AS (
  SELECT k,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(xv) AS BIGINT) AS sx,
         CAST(SUM(yv) AS BIGINT) AS sy,
         CAST(SUM(xv * yv) AS BIGINT) AS sxy,
         CAST(SUM(xv * xv) AS BIGINT) AS sxx,
         CAST(SUM(yv * yv) AS BIGINT) AS syy
  FROM pairs GROUP BY k
)
SELECT CAST(k AS BIGINT) AS lag_hours,
       n AS n_pairs,
       round(CAST(n * sxy - sx * sy AS DOUBLE) /
             (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
              sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS xcorr
FROM m
ORDER BY lag_hours
""",
    tags=("timeseries", "statistics"),
)
def q_ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between two event-type activity series:
    hourly click counts vs purchase counts k hours later, Pearson r at
    lags 0..3 — the signal-alignment probe behind "does metric A lead
    metric B" questions (and feature/label leakage checks in training
    pipelines).

    Scale notes: the series are built in ONE partial-aggregated
    groupBy over (type, hour) — integer counts, so every co-moment
    (sx, sxy, sxx, ...) is exact int64 arithmetic on BOTH engines and
    the only float op is the final divide (round 6). The lag join
    explodes the 4 lags on the x side and equi-joins on shifted hour —
    a narrow broadcast-size series at any SF (hours, not events), so
    the whole correlation costs one scan of events plus a toy join.
    At 100 TB the hourly rollup is exactly the continuous-aggregate
    tier (q_ts_rollup_hierarchy) — cross-correlation then runs on the
    rollup, never the raw log.
    """
    ev = table(spark, sf_dir, "events")
    hourly = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(
            "event_type",
            F.expr("CAST(FLOOR(CAST(ts AS DOUBLE)) AS BIGINT) DIV 3600").alias("hb"),
        )
        .agg(F.count("*").alias("c"))
    )
    x = hourly.filter(F.col("event_type") == "click").select(
        F.col("hb").alias("xhb"), F.col("c").alias("xv")
    )
    y = hourly.filter(F.col("event_type") == "purchase").select(
        F.col("hb").alias("yhb"), F.col("c").alias("yv")
    )
    lagged = x.select(
        "xhb", "xv", F.explode(F.array(*[F.lit(k) for k in range(_XCORR_LAGS)])).alias("k")
    )
    m = (
        lagged.join(y, F.col("yhb") == F.col("xhb") + F.col("k"))
        .groupBy("k")
        .agg(
            F.count("*").alias("n"),
            F.sum("xv").alias("sx"),
            F.sum("yv").alias("sy"),
            F.sum(F.col("xv") * F.col("yv")).alias("sxy"),
            F.sum(F.col("xv") * F.col("xv")).alias("sxx"),
            F.sum(F.col("yv") * F.col("yv")).alias("syy"),
        )
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        F.col("k").cast("long").alias("lag_hours"),
        F.col("n").alias("n_pairs"),
        F.round(
            num.cast("double") / (F.sqrt(denx.cast("double")) * F.sqrt(deny.cast("double"))),
            6,
        ).alias("xcorr"),
    ).orderBy("lag_hours")


# ---- seasonal decomposition ---------------------------------------- #
@register(
    "q_ts_seasonal",
    oracle="""
WITH hourly AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hb,
         CAST(count(*) AS BIGINT) AS n
  FROM events WHERE event_type = 'click'
  GROUP BY 1
), profile AS (
  SELECT hb % 24 AS hod,
         CAST(SUM(n) AS BIGINT) AS tot,
         CAST(count(*) AS BIGINT) AS nh
  FROM hourly GROUP BY 1
)
SELECT h.hb AS hour_bucket,
       h.hb % 24 AS hod,
       h.n AS observed,
       round(CAST(p.tot AS DOUBLE) / p.nh, 6) AS seasonal,
       round(h.n - CAST(p.tot AS DOUBLE) / p.nh, 6) AS residual
FROM hourly h JOIN profile p ON h.hb % 24 = p.hod
""",
    tags=("timeseries", "statistics"),
)
def q_ts_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive decomposition of the hourly click series: the
    hour-of-day profile (mean hourly count across all days) is the
    seasonal component; residual = observed − seasonal. The anomaly
    detector's front stage — q_ts_anomaly's z-scores run better on
    residuals than raw counts once traffic has a daily cycle.

    Scale notes: two partial-aggregated shuffles (events → hourly,
    hourly → 24-row profile) and a broadcast join of the 24-row
    profile back onto the hourly frame — no window, no global sort;
    everything after the first rollup is bounded by hours, not events.
    Integer counts keep both engines exact until the one profile
    divide (round 6, identical int64→double path)."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    hourly = ev.groupBy(
        F.expr("CAST(FLOOR(CAST(ts AS DOUBLE)) AS BIGINT) DIV 3600").alias("hb")
    ).agg(F.count("*").alias("n"))
    profile = hourly.groupBy(F.pmod("hb", F.lit(24)).alias("hod")).agg(
        F.sum("n").alias("tot"), F.count("*").alias("nh")
    )
    seasonal = F.round(F.col("tot").cast("double") / F.col("nh"), 6)
    return (
        hourly.withColumn("hod", F.pmod("hb", F.lit(24)))
        .join(F.broadcast(profile), "hod")
        .select(
            F.col("hb").alias("hour_bucket"),
            "hod",
            F.col("n").alias("observed"),
            seasonal.alias("seasonal"),
            F.round(F.col("n") - F.col("tot").cast("double") / F.col("nh"), 6).alias(
                "residual"
            ),
        )
    )


@register(
    "q_ts_changepoint",
    oracle="""
WITH hc AS (
  SELECT event_type,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS h,
         count(*) AS x
  FROM events GROUP BY 1, 2
), s AS (
  SELECT event_type, h, x,
         SUM(x) OVER (PARTITION BY event_type ORDER BY h
                      ROWS UNBOUNDED PRECEDING) AS run,
         SUM(x) OVER (PARTITION BY event_type) AS total,
         COUNT(*) OVER (PARTITION BY event_type) AS n,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS t
  FROM hc
), c AS (
  SELECT event_type, h, n,
         CAST(abs(n * run - t * total) AS BIGINT) AS cusum_scaled,
         CAST(max(abs(n * run - t * total))
              OVER (PARTITION BY event_type) AS BIGINT) AS mx
  FROM s
)
SELECT event_type, n AS n_hours,
       min(h) FILTER (WHERE cusum_scaled = mx) AS changepoint_hour,
       max(cusum_scaled) AS max_cusum_scaled
FROM c
GROUP BY event_type, n
ORDER BY event_type
""",
    tags=("timeseries",),
)
def q_ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type over the hourly count
    series: the hour where the cumulative deviation from the series
    mean peaks — the standard single-changepoint estimator.

    Exact integers throughout: the mean is never materialized as a
    float; CUSUM_t = sum_{i<=t}(x_i - mean) is scaled by n to
    n*run_t - t*total (pure int64), so both engines agree bit-for-bit.
    Ties break to the EARLIEST hour (min(h) over the rows attaining the
    per-type max — identical FILTER/when forms in both engines).

    Scale: the hourly rollup shrinks events to (types x hours) rows
    before any window runs; the per-type running sum orders a series
    bounded by wall-clock hours, not event count — the same contract
    as q_ts_rollup_hierarchy.
    """
    ev = table(spark, sf_dir, "events")
    hc = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "h"
        ),
    ).agg(F.count("*").alias("x"))
    wt = Window.partitionBy("event_type")
    wo = wt.orderBy("h")
    s = hc.select(
        "event_type",
        "h",
        F.sum("x").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias("run"),
        F.sum("x").over(wt).alias("total"),
        F.count("*").over(wt).alias("n"),
        F.row_number().over(wo).alias("t"),
    )
    c = s.select(
        "event_type",
        "h",
        "n",
        F.abs(F.col("n") * F.col("run") - F.col("t") * F.col("total")).alias(
            "cusum_scaled"
        ),
    ).withColumn("mx", F.max("cusum_scaled").over(wt))
    best = c.groupBy("event_type", F.col("n").alias("n_hours")).agg(
        F.min(F.when(F.col("cusum_scaled") == F.col("mx"), F.col("h"))).alias(
            "changepoint_hour"
        ),
        F.max("cusum_scaled").alias("max_cusum_scaled"),
    )
    return best.select(
        "event_type", "n_hours", "changepoint_hour", "max_cusum_scaled"
    ).orderBy("event_type")


@register(
    "q_ts_acf",
    oracle="""
WITH hc AS (
  SELECT event_type,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS h,
         count(*) AS x
  FROM events GROUP BY 1, 2
), s AS (
  SELECT event_type, h, x,
         SUM(x) OVER (PARTITION BY event_type) AS total,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM hc
), c AS (
  SELECT event_type, h, n,
         n * x - total AS cv
  FROM s
), den AS (
  SELECT event_type,
         SUM(CAST(cv AS DECIMAL(38,0)) * cv) AS den
  FROM c GROUP BY event_type
), lagged AS (
  SELECT event_type, n, cv,
         lag(cv, 1) OVER (PARTITION BY event_type ORDER BY h) AS c1,
         lag(cv, 2) OVER (PARTITION BY event_type ORDER BY h) AS c2,
         lag(cv, 3) OVER (PARTITION BY event_type ORDER BY h) AS c3,
         lag(cv, 4) OVER (PARTITION BY event_type ORDER BY h) AS c4,
         lag(cv, 5) OVER (PARTITION BY event_type ORDER BY h) AS c5,
         lag(cv, 6) OVER (PARTITION BY event_type ORDER BY h) AS c6
  FROM c
)
SELECT p.event_type, p.lag, max(p.n) AS n_hours,
       round(CAST(SUM(CAST(p.cv AS DECIMAL(38,0)) * p.clag) AS DOUBLE)
             / CAST(max(d.den) AS DOUBLE), 6) AS acf
FROM (
  SELECT event_type, n, cv, u.lag, u.clag
  FROM lagged,
       LATERAL (VALUES (1, c1), (2, c2), (3, c3),
                       (4, c4), (5, c5), (6, c6)) AS u(lag, clag)
  WHERE u.clag IS NOT NULL
) p JOIN den d USING (event_type)
GROUP BY p.event_type, p.lag
ORDER BY p.event_type, p.lag
""",
    tags=("timeseries",),
)
def q_ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function (lags 1-6) of each event type's hourly
    count series — the periodicity diagnostic run before fitting any
    seasonal model (q_ts_seasonal's hour-of-day profile assumes lag-24
    structure; this measures it).

    Determinism: values are centered in scaled integers (cv = n·x −
    Σx — the mean never exists as a float) and the lag-k products are
    summed in DECIMAL(38,0), exact far beyond int64 (at 100× replication
    n·x ≈ 1e7 and 1e5 hours push Σcv·cv_lag past 1e19 — int64 would
    silently wrap; the decimal bound is ~1e38). One double division at
    the end, identical in both engines.

    Scale: the hourly rollup shrinks the log to (types × hours) rows
    before any window; the 6 lags come from ONE ordered window pass
    (6 lag() calls, same frame), unpivoted with stack — not 6 self-
    joins. Windows partition by event_type, bounded by wall-clock
    hours per type.
    """
    ev = table(spark, sf_dir, "events")
    hc = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "h"
        ),
    ).agg(F.count("*").alias("x"))
    wt = Window.partitionBy("event_type")
    wo = wt.orderBy("h")
    s = hc.select(
        "event_type",
        "h",
        "x",
        F.sum("x").over(wt).alias("total"),
        F.count("*").over(wt).alias("n"),
    )
    c = s.select(
        "event_type",
        "h",
        "n",
        (F.col("n") * F.col("x") - F.col("total")).alias("cv"),
    )
    den = c.groupBy("event_type").agg(
        F.sum(F.col("cv").cast("decimal(38,0)") * F.col("cv")).alias("den")
    )
    lagged = c.select(
        "event_type",
        "n",
        "cv",
        *[F.lag("cv", k).over(wo).alias(f"c{k}") for k in range(1, 7)],
    )
    pairs = lagged.select(
        "event_type",
        "n",
        "cv",
        F.expr(
            "stack(6, 1, c1, 2, c2, 3, c3, 4, c4, 5, c5, 6, c6)"
            " AS (lag, clag)"
        ),
    ).filter(F.col("clag").isNotNull())
    return (
        pairs.join(F.broadcast(den), "event_type")
        .groupBy("event_type", "lag")
        .agg(
            F.max("n").alias("n_hours"),
            F.round(
                F.sum(F.col("cv").cast("decimal(38,0)") * F.col("clag"))
                .cast("double")
                / F.max("den").cast("double"),
                6,
            ).alias("acf"),
        )
        .orderBy("event_type", "lag")
    )


# ---- Holt linear-trend smoothing ----------------------------------- #
# Double exponential smoothing (Holt 1957; Hyndman & Athanasopoulos,
# "Forecasting: Principles and Practice" §8.2) over each event type's
# hourly count series:
#   l_t = a*x_t + (1-a)*(l_{t-1} + b_{t-1})
#   b_t = g*(l_t - l_{t-1}) + (1-g)*b_{t-1},  l_1 = x_1, b_1 = x_2-x_1
# a = g = 0.5: every update is add-and-halve, so BOTH engines perform
# the identical IEEE operation sequence on integer-seeded doubles — the
# pandas fold and the oracle's recursive CTE are bit-identical, no
# tolerance needed (outputs still round to 6dp for presentation).
# The Holt fold is a LINEAR recursion: s_t = A s_{t-1} + c x_t with
#   A = [[0.5, 0.5], [-0.25, 0.75]],  c = (0.5, 0.25),
#   s_1 = (x_1, x_2 - x_1),
# so s_n = A^{n-1} s_1 + sum_{t=2..n} A^{n-t} c x_t — the q_ts_ewma
# telescoping trick in 2x2 matrix form. |eig(A)| = sqrt(0.5), so the
# matrix-power weights decay as ~0.707^k: every term older than
# HOLT_TAIL lags contributes < 1e-80 (weight ~1e-90 times any sane
# hourly count) — far below the 6dp rounding granularity — and is
# dropped by the weight-table join. The weight recursion is ONE row
# per lag (depth <= HOLT_TAIL, never data-joined), which removes the
# per-series recursion-depth/time blowup the round-7 recursive-CTE
# oracle hit at 100x (72k-hour series). The closed form is the same
# linear combination the pandas fold computes, evaluated in a
# different association order; float divergence is ~1e-12, six
# orders below the 6dp hash quantum.
HOLT_TAIL = 512

_HOLT_ORACLE = f"""
WITH RECURSIVE base AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*) AS x
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, min(h) AS mn, max(h) AS mx FROM base GROUP BY 1
), spine AS (
  SELECT event_type, unnest(generate_series(mn, mx)) AS h FROM bounds
), series AS (
  SELECT s.event_type,
         row_number() OVER (PARTITION BY s.event_type ORDER BY s.h) AS i,
         CAST(coalesce(b.x, 0) AS BIGINT) AS x
  FROM spine s LEFT JOIN base b USING (event_type, h)
), n AS (
  SELECT event_type, max(i) AS n_hours FROM series GROUP BY 1
), pw AS (
  SELECT 0 AS k, CAST(1 AS DOUBLE) AS m11, CAST(0 AS DOUBLE) AS m12,
         CAST(0 AS DOUBLE) AS m21, CAST(1 AS DOUBLE) AS m22
  UNION ALL
  SELECT k + 1,
         0.5 * m11 - 0.25 * m12, 0.5 * m11 + 0.75 * m12,
         0.5 * m21 - 0.25 * m22, 0.5 * m21 + 0.75 * m22
  FROM pw WHERE k < {HOLT_TAIL}
), init AS (
  SELECT s1.event_type, CAST(s1.x AS DOUBLE) AS l1,
         CAST(s2.x - s1.x AS DOUBLE) AS b1
  FROM series s1 JOIN series s2
    ON s1.event_type = s2.event_type AND s1.i = 1 AND s2.i = 2
), contrib AS (
  SELECT s.event_type,
         sum((w.m11 * 0.5 + w.m12 * 0.25) * s.x) AS lsum,
         sum((w.m21 * 0.5 + w.m22 * 0.25) * s.x) AS bsum
  FROM series s
  JOIN n USING (event_type)
  JOIN pw w ON w.k = n.n_hours - s.i
  WHERE s.i >= 2
  GROUP BY 1
), head AS (
  SELECT i.event_type,
         coalesce(w.m11 * i.l1 + w.m12 * i.b1, 0.0) AS lhead,
         coalesce(w.m21 * i.l1 + w.m22 * i.b1, 0.0) AS bhead
  FROM init i JOIN n USING (event_type)
  LEFT JOIN pw w ON w.k = n.n_hours - 1
)
SELECT n.event_type, n.n_hours,
       round(h.lhead + c.lsum, 6) AS level,
       round(h.bhead + c.bsum, 6) AS trend,
       round((h.lhead + c.lsum) + (h.bhead + c.bsum), 6) AS fc1,
       round((h.lhead + c.lsum) + 2 * (h.bhead + c.bsum), 6) AS fc2,
       round((h.lhead + c.lsum) + 3 * (h.bhead + c.bsum), 6) AS fc3
FROM n JOIN head h USING (event_type) JOIN contrib c USING (event_type)
WHERE n.n_hours >= 2
"""

# round-7 recursive-CTE oracle, kept as the dual-check twin: the
# closed-form oracle above must agree with a literal replay of the
# fold at gate scales (tests/test_equivalence.py)
_HOLT_ORACLE_RECURSIVE = """
WITH RECURSIVE base AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*) AS x
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, min(h) AS mn, max(h) AS mx FROM base GROUP BY 1
), spine AS (
  SELECT event_type, unnest(generate_series(mn, mx)) AS h FROM bounds
), series AS (
  SELECT s.event_type,
         row_number() OVER (PARTITION BY s.event_type ORDER BY s.h) AS i,
         CAST(coalesce(b.x, 0) AS BIGINT) AS x
  FROM spine s LEFT JOIN base b USING (event_type, h)
), n AS (
  SELECT event_type, max(i) AS n_hours FROM series GROUP BY 1
), r AS (
  SELECT s1.event_type, 1 AS i,
         CAST(s1.x AS DOUBLE) AS l,
         CAST(s2.x - s1.x AS DOUBLE) AS b
  FROM series s1 JOIN series s2
    ON s1.event_type = s2.event_type AND s1.i = 1 AND s2.i = 2
  UNION ALL
  SELECT s.event_type, r.i + 1,
         0.5 * CAST(s.x AS DOUBLE) + 0.5 * (r.l + r.b),
         0.5 * ((0.5 * CAST(s.x AS DOUBLE) + 0.5 * (r.l + r.b)) - r.l)
           + 0.5 * r.b
  FROM r JOIN series s ON s.event_type = r.event_type AND s.i = r.i + 1
)
SELECT r.event_type, n.n_hours,
       round(r.l, 6) AS level, round(r.b, 6) AS trend,
       round(r.l + r.b, 6) AS fc1,
       round(r.l + 2 * r.b, 6) AS fc2,
       round(r.l + 3 * r.b, 6) AS fc3
FROM r JOIN n ON r.event_type = n.event_type AND r.i = n.n_hours
"""


@register("q_ts_holtwinters", oracle=_HOLT_ORACLE, tags=("timeseries",))
def q_ts_holtwinters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend smoothing of each event type's gap-filled
    hourly count series: final level/trend + 1-3 step forecasts.

    The recursion is inherently sequential per series, so it is the
    documented custom-stateful tier (same rationale as q_stream_ewma):
    the JVM side does everything data-sized — hourly count rollup,
    in-plan spine via sequence+explode, gap fill — and hands each
    BOUNDED series (hours x 1, not events) to ONE pandas fold per key.
    Per-group memory is the series length, independent of event count;
    at 100 TB the rollup shrinks input ~1e5x before any Python runs.
    The oracle replays the identical fold as a recursive CTE.

    The plan reads events twice: the spine-bounds branch prunes to
    min/max partials pushed straight onto a narrow scan (column
    pruning makes the subtrees non-identical, so exchange reuse can't
    collapse them — the q_dq_outliers lesson in reverse: here the
    cheaper shape IS the double scan). When the fact pass dominates
    (cluster scale), localCheckpoint the hourly rollup and derive the
    bounds from it — the dedup.py precedent for bounded frames.
    """
    import numpy as np
    import pandas as pd

    ev = table(spark, sf_dir, "events")
    base = ev.groupBy(
        "event_type", F.expr("unix_micros(ts) DIV 3600000000").alias("h")
    ).agg(F.count("*").alias("x"))
    bounds = base.groupBy("event_type").agg(
        F.min("h").alias("mn"), F.max("h").alias("mx")
    )
    spine = bounds.select(
        "event_type", F.explode(F.sequence("mn", "mx")).alias("h")
    )
    series = spine.join(base, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("x", F.lit(0)).alias("x")
    )

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        xs = pdf.sort_values("h")["x"].to_numpy(dtype="float64")
        if len(xs) < 2:  # b_1 undefined; oracle drops these too
            return pd.DataFrame(
                columns=[
                    "event_type", "n_hours", "level", "trend",
                    "fc1", "fc2", "fc3",
                ]
            )
        l, b = xs[0], xs[1] - xs[0]
        for x in xs[1:]:
            l_new = 0.5 * x + 0.5 * (l + b)
            b = 0.5 * (l_new - l) + 0.5 * b
            l = l_new

        def rnd(v: float) -> float:
            # half-away-from-zero, matching DuckDB round() (the pandas
            # banker's-rounding mismatch documented at q_udf_grouped_map)
            return float(np.sign(v) * np.floor(np.abs(v) * 1e6 + 0.5) / 1e6)

        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_hours": [len(xs)],
                "level": [rnd(l)],
                "trend": [rnd(b)],
                "fc1": [rnd(l + b)],
                "fc2": [rnd(l + 2 * b)],
                "fc3": [rnd(l + 3 * b)],
            }
        )

    return series.groupBy("event_type").applyInPandas(
        holt,
        schema=(
            "event_type string, n_hours long, level double, trend double, "
            "fc1 double, fc2 double, fc3 double"
        ),
    )


# ---- q_ts_backtest --------------------------------------------------- #
# Rolling-origin forecast evaluation: at every hour t of the gap-filled
# series, forecast x_t with (a) the naive carry-forward x_{t-1} and
# (b) the 4-hour moving average, score both by MAE, and pick a winner
# per event type. All error terms are EXACT integers (the SMA error is
# kept at 4x scale: |4*x_t - sum4|), so the MAEs are single int/int
# divisions and the winner is a pure integer cross-comparison
# (sum_sma < 4 * sum_naive) — no float enters until the final rounding,
# hence bit-identical cross-engine at any scale.


@register(
    "q_ts_backtest",
    oracle="""
WITH base AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*) AS x
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, min(h) AS mn, max(h) AS mx FROM base GROUP BY 1
), spine AS (
  SELECT event_type, unnest(generate_series(mn, mx)) AS h FROM bounds
), series AS (
  SELECT s.event_type, s.h, CAST(coalesce(b.x, 0) AS BIGINT) AS x
  FROM spine s LEFT JOIN base b USING (event_type, h)
), lagged AS (
  SELECT event_type, h, x,
         lag(x, 1) OVER w AS x1,
         count(*) OVER (PARTITION BY event_type ORDER BY h
                        ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING) AS c4,
         sum(x) OVER (PARTITION BY event_type ORDER BY h
                      ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING) AS s4
  FROM series
  WINDOW w AS (PARTITION BY event_type ORDER BY h)
), errs AS (
  SELECT event_type, abs(x - x1) AS e_naive, abs(4 * x - s4) AS e_sma4
  FROM lagged WHERE c4 = 4
)
SELECT event_type,
       count(*) AS n_eval,
       round(CAST(sum(e_naive) AS DOUBLE) / count(*), 6) AS mae_naive,
       round(CAST(sum(e_sma4) AS DOUBLE) / (4 * count(*)), 6) AS mae_sma4,
       CASE WHEN sum(e_sma4) < 4 * sum(e_naive) THEN 'sma4'
            WHEN sum(e_sma4) > 4 * sum(e_naive) THEN 'naive'
            ELSE 'tie' END AS winner
FROM errs
GROUP BY event_type
""",
    tags=("timeseries",),
)
def q_ts_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of two 1-step forecasters (naive
    carry-forward vs 4-hour moving average) over each event type's
    gap-filled hourly count series: per-type MAE for both and the
    integer-exact winner — the model-selection loop a forecasting
    pipeline runs before trusting q_ts_ewma / q_ts_holtwinters output.

    One fact rollup pass, then everything is spine-sized: the lag and
    trailing-sum windows share one event_type exchange, errors stay
    exact integers, and the final per-type aggregation is
    map-side-combinable. At 100 TB the rollup shrinks input ~1e5x
    before any window runs — the same shape as q_ts_holtwinters, with
    zero Python anywhere.
    """
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    base = ev.groupBy(
        "event_type", F.expr("unix_micros(ts) DIV 3600000000").alias("h")
    ).agg(F.count("*").alias("x"))
    bounds = base.groupBy("event_type").agg(
        F.min("h").alias("mn"), F.max("h").alias("mx")
    )
    spine = bounds.select(
        "event_type", F.explode(F.sequence("mn", "mx")).alias("h")
    )
    series = spine.join(base, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("x", F.lit(0)).cast("long").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    w4 = w.rowsBetween(-4, -1)
    lagged = series.select(
        "event_type",
        "x",
        F.lag("x", 1).over(w).alias("x1"),
        F.count("*").over(w4).alias("c4"),
        F.sum("x").over(w4).alias("s4"),
    ).filter(F.col("c4") == 4)
    errs = lagged.select(
        "event_type",
        F.abs(F.col("x") - F.col("x1")).alias("e_naive"),
        F.abs(F.lit(4) * F.col("x") - F.col("s4")).alias("e_sma4"),
    )
    sn = F.sum("e_naive")
    ss = F.sum("e_sma4")
    return errs.groupBy("event_type").agg(
        F.count("*").alias("n_eval"),
        F.round(sn.cast("double") / F.count("*"), 6).alias("mae_naive"),
        F.round(ss.cast("double") / (F.lit(4) * F.count("*")), 6).alias("mae_sma4"),
        F.when(ss < 4 * sn, "sma4")
        .when(ss > 4 * sn, "naive")
        .otherwise("tie")
        .alias("winner"),
    )


# ---- q_ts_twa --------------------------------------------------------- #
# Time-WEIGHTED average — the metric plain AVG gets wrong on irregular
# samples: each observation holds until the next one, so its value is
# weighted by how long it was current (last-observation-carried-forward
# integral / total time). The TimescaleDB/monitoring-stack aggregate.


@register(
    "q_ts_twa",
    oracle="""
WITH seg AS (
  SELECT user_id, value,
         (CAST(floor(epoch(lead(ts) OVER w)) AS BIGINT)
          - CAST(floor(epoch(ts)) AS BIGINT)) AS dt_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       count(CASE WHEN value IS NOT NULL THEN dt_s END) AS n_segments,
       CAST(SUM(CASE WHEN value IS NOT NULL THEN dt_s END) AS BIGINT)
         AS total_s,
       CAST(SUM(CASE WHEN value IS NOT NULL
                     THEN CAST(value AS DECIMAL(12,2)) * dt_s END) AS DOUBLE)
         / SUM(CASE WHEN value IS NOT NULL THEN dt_s END) AS twa
FROM seg
WHERE dt_s IS NOT NULL AND dt_s > 0
GROUP BY user_id
""",
    tags=("timeseries",),
)
def q_ts_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of `value` (LOCF integral over
    observation-to-next-observation segments, divided by covered
    time). Zero-length segments (same-second repeat observations) and
    the trailing open segment carry no weight; NULL-value segments are
    excluded from BOTH numerator and denominator (three-valued parity
    with the oracle's CASE arms).

    Determinism: dt is exact integer seconds (the fixture's ts
    granularity), value an exact 2-decimal DECIMAL(12,2) — the SAME
    quantization as the oracle's CAST (ADVICE r9: a DEC=18,4 cast here
    would round >2-decimal values differently than the oracle's 12,2;
    q_ts_rate's shared cast is the model) — the numerator
    sums exactly, converts to double once (correctly rounded from the
    same exact value in both engines), then one division. Scale notes:
    one hash exchange on user_id feeds the lead() window, then a
    partial-aggregated groupBy on the SAME key reuses the partitioning
    (no second shuffle) — the q_ts_sessionize single-exchange shape.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = table(spark, sf_dir, "events")
    dt_s = (
        F.floor(F.unix_micros(F.lead("ts").over(w)) / 1_000_000)
        - F.floor(F.unix_micros(F.col("ts")) / 1_000_000)
    ).alias("dt_s")
    seg = ev.select("user_id", "value", dt_s).filter(
        F.col("dt_s").isNotNull() & (F.col("dt_s") > 0)
    )
    w_dt = F.when(F.col("value").isNotNull(), F.col("dt_s"))
    num = F.when(
        F.col("value").isNotNull(), F.col("value").cast(MONEY) * F.col("dt_s")
    )
    return seg.groupBy("user_id").agg(
        F.count(w_dt).alias("n_segments"),
        F.sum(w_dt).cast("long").alias("total_s"),
        (F.sum(num).cast("double") / F.sum(w_dt)).alias("twa"),
    )

# ---- q_ts_rate --------------------------------------------------------- #
# Counter rate with reset handling — the monitoring-stack rate()
# semantic: the column is read as a cumulative counter; each adjacent
# sample pair contributes its increase, and a DECREASE means the
# counter reset (process restart), where the post-reset value itself
# is the increase. q_ts_twa integrates a GAUGE; this differentiates a
# COUNTER — the two halves of time-series ingestion.


@register(
    "q_ts_rate",
    oracle="""
WITH s AS (
  SELECT user_id,
         CAST(value AS DECIMAL(12,2)) AS v,
         lag(CAST(value AS DECIMAL(12,2))) OVER w AS pv,
         (CAST(floor(epoch(ts)) AS BIGINT)
          - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT)) AS dt_s
  FROM events
  WHERE value IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), inc AS (
  SELECT user_id, dt_s,
         CASE WHEN v >= pv THEN v - pv ELSE v END AS d,
         CASE WHEN v < pv THEN 1 END AS reset
  FROM s WHERE pv IS NOT NULL AND dt_s > 0
)
SELECT user_id,
       count(*) AS n_pairs,
       count(reset) AS n_resets,
       CAST(CAST(SUM(d) AS DECIMAL(18,4)) AS DOUBLE) AS total_increase,
       CAST(CAST(SUM(d) AS DECIMAL(18,4)) AS DOUBLE) / SUM(dt_s)
         AS rate_per_s
FROM inc
GROUP BY user_id
""",
    tags=("timeseries",),
)
def q_ts_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user counter rate: adjacent-sample increases with reset
    handling (a decrease restarts the counter; the new value is the
    increase), summed exactly in DECIMAL and divided once by the
    covered seconds. NULL samples are excluded before pairing (the
    pair spans the gap); same-second repeat samples carry no interval
    and are dropped from pairing in both engines.

    Scale notes: the lag() window and the per-user aggregate share one
    hash exchange on user_id (the q_ts_twa / sessionize shape); all
    comparisons and sums are exact decimal, one double conversion at
    the end.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = F.col("value").cast("decimal(12,2)")
    s = ev.select(
        "user_id",
        v.alias("v"),
        F.lag(v).over(w).alias("pv"),
        (
            F.floor(F.unix_micros(F.col("ts")) / 1_000_000)
            - F.floor(F.unix_micros(F.lag("ts").over(w)) / 1_000_000)
        ).alias("dt_s"),
    ).filter(F.col("pv").isNotNull() & (F.col("dt_s") > 0))
    d = F.when(F.col("v") >= F.col("pv"), F.col("v") - F.col("pv")).otherwise(
        F.col("v")
    )
    inc = s.select(
        "user_id",
        "dt_s",
        d.alias("d"),
        F.when(F.col("v") < F.col("pv"), F.lit(1)).alias("reset"),
    )
    tot = F.sum("d").cast("decimal(18,4)").cast("double")
    return inc.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.count("reset").alias("n_resets"),
        tot.alias("total_increase"),
        (tot / F.sum("dt_s")).alias("rate_per_s"),
    )


# ---- q_ts_peaks --------------------------------------------------------- #
# Local-extremum detection — the alerting primitive: a sample is a peak
# when it strictly exceeds BOTH neighbors in its entity's series, with
# prominence (height above the taller neighbor) gating noise spikes.
# All comparisons run on x100-scaled longs (exact 2-decimal domain) so
# neighbor subtraction never touches float arithmetic.
_PEAK_PROM_Q2 = 500  # prominence gate: >= 5.00 above the taller neighbor


@register(
    "q_ts_peaks",
    oracle=f"""
WITH s AS (
  SELECT user_id, event_id,
         CAST(round(value * 100) AS BIGINT) AS vq,
         lag(CAST(round(value * 100) AS BIGINT)) OVER w AS pvq,
         lead(CAST(round(value * 100) AS BIGINT)) OVER w AS nvq
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id,
       CAST(vq AS DOUBLE) / 100 AS peak_value,
       vq - greatest(pvq, nvq) AS prominence_q2,
       vq - greatest(pvq, nvq) >= {_PEAK_PROM_Q2} AS is_prominent
FROM s
WHERE vq > pvq AND vq > nvq
""",
    tags=("timeseries",),
)
def q_ts_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user local maxima: samples strictly above both neighbors in
    (ts, event_id) order, with integer-exact prominence (height above
    the taller neighbor, x100 scale) and a >= 5.00 prominence flag.
    NULL-valued samples can be neither peaks nor neighbors that admit
    one (three-valued > propagates NULL) — identical on both engines.

    Scale notes: one hash exchange on user_id feeds a single window
    pass computing both lag and lead (one sort, two frame reads); the
    peak filter is codegen'd and emits ~a third of rows. The alerting
    shape a monitoring pipeline runs per series at any series count —
    partition count scales with entities, never series length.
    """
    from pokertracker_cassandra_st_spark.exprs import slong

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = table(spark, sf_dir, "events")
    s = ev.select(
        "user_id",
        "event_id",
        "ts",
        slong("value", 2).alias("vq"),
    ).select(
        "user_id",
        "event_id",
        "vq",
        F.lag("vq").over(w).alias("pvq"),
        F.lead("vq").over(w).alias("nvq"),
    )
    prom = F.col("vq") - F.greatest("pvq", "nvq")
    return s.filter(
        (F.col("vq") > F.col("pvq")) & (F.col("vq") > F.col("nvq"))
    ).select(
        "user_id",
        "event_id",
        (F.col("vq").cast("double") / 100).alias("peak_value"),
        prom.alias("prominence_q2"),
        (prom >= _PEAK_PROM_Q2).alias("is_prominent"),
    )


# ---- q_ts_crossover ------------------------------------------------------ #
# Moving-average crossover — the signal-generation primitive: a short
# SMA crossing a long SMA flags momentum shifts. Exact arithmetic: the
# two averages compare by CROSS-MULTIPLICATION of x100-scaled long
# window sums (10*s3 vs 3*s10), so no division ever happens and the
# crossover sign is integer-exact in both engines.
_XO_SHORT = 3
_XO_LONG = 10


@register(
    "q_ts_crossover",
    oracle=f"""
WITH s AS (
  SELECT user_id, event_id, ts,
         row_number() OVER w AS rn,
         {_XO_LONG} * CAST(SUM(CAST(round(value * 100) AS BIGINT))
             OVER (w ROWS BETWEEN {_XO_SHORT - 1} PRECEDING AND CURRENT ROW)
             AS BIGINT)
         - {_XO_SHORT} * CAST(SUM(CAST(round(value * 100) AS BIGINT))
             OVER (w ROWS BETWEEN {_XO_LONG - 1} PRECEDING AND CURRENT ROW)
             AS BIGINT)
           AS diff_q
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), d AS (
  SELECT user_id, event_id, ts, diff_q,
         lag(diff_q) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_diff_q,
         rn
  FROM s
)
SELECT user_id, event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       diff_q, prev_diff_q,
       CASE WHEN diff_q > 0 THEN 'golden' ELSE 'death' END AS signal
FROM d
WHERE rn > {_XO_LONG}
  AND ((diff_q > 0 AND prev_diff_q <= 0) OR (diff_q < 0 AND prev_diff_q >= 0))
""",
    tags=("timeseries",),
)
def q_ts_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMA(3)/SMA(10) crossover signals per user: emit a row
    wherever the short-window mean crosses the long-window mean
    ('golden' upward, 'death' downward), comparing the means by exact
    cross-multiplied scaled-long sums — no float division anywhere.
    Rows before a full long window (rn <= 10) are warm-up and emit
    nothing; NULL samples shrink both sums identically on both engines
    (row-based frames, NULL-skipping SUM).

    Scale notes: one hash exchange on user_id, then BOTH rolling sums
    and the row counter come out of a single window sort (Spark fuses
    same-spec window functions into one WindowExec); the lag runs over
    the same ordering. Emitted rows are rare (sign changes), so the
    operator is scan-bound — exactly the shape a 100 TB market-data
    backtest wants.
    """
    from pokertracker_cassandra_st_spark.exprs import slong

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = table(spark, sf_dir, "events")
    vq = slong("value", 2)
    s = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.row_number().over(w).alias("rn"),
        (
            _XO_LONG
            * F.sum(vq).over(w.rowsBetween(-(_XO_SHORT - 1), 0))
            - _XO_SHORT * F.sum(vq).over(w.rowsBetween(-(_XO_LONG - 1), 0))
        ).alias("diff_q"),
    )
    d = s.select(
        "user_id",
        "event_id",
        "ts",
        "diff_q",
        "rn",
        F.lag("diff_q").over(w).alias("prev_diff_q"),
    )
    return d.filter(
        (F.col("rn") > _XO_LONG)
        & (
            ((F.col("diff_q") > 0) & (F.col("prev_diff_q") <= 0))
            | ((F.col("diff_q") < 0) & (F.col("prev_diff_q") >= 0))
        )
    ).select(
        "user_id",
        "event_id",
        fmt_ts("ts").alias("ts_s"),
        "diff_q",
        "prev_diff_q",
        F.when(F.col("diff_q") > 0, "golden").otherwise("death").alias("signal"),
    )


# ---- q_ts_drawdown -------------------------------------------------------- #
# Maximum drawdown — the risk statistic over a per-entity value series:
# the deepest drop from a running peak. Exact on x100-scaled longs
# (running max and subtraction never touch floats); the report row per
# user carries WHERE the trough happened (first event to reach the
# maximum drawdown, rank tie-broken by event_id).


@register(
    "q_ts_drawdown",
    oracle="""
WITH s AS (
  SELECT user_id, event_id,
         CAST(round(value * 100) AS BIGINT) AS vq,
         max(CAST(round(value * 100) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak_q
  FROM events
), d AS (
  SELECT user_id, event_id, peak_q, peak_q - vq AS dd_q,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY (peak_q - vq) DESC NULLS LAST, event_id)
           AS rk
  FROM s
)
SELECT user_id,
       CAST(dd_q AS DOUBLE) / 100 AS max_drawdown,
       CAST(peak_q AS DOUBLE) / 100 AS peak_at_trough,
       event_id AS trough_event_id
FROM d WHERE rk = 1 AND dd_q IS NOT NULL
""",
    tags=("timeseries",),
)
def q_ts_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user maximum drawdown: running peak via an unbounded-
    preceding window max, drawdown = peak - value (exact scaled
    longs), and the FIRST event reaching the deepest drawdown (rank
    ordered dd DESC NULLS LAST, event_id — pinned explicitly: Spark
    DESC defaults NULLS LAST but DuckDB DESC defaults NULLS FIRST).
    NULL samples can't be troughs (their dd is NULL) but also don't
    reset the peak (window max skips NULL) — identical three-valued
    behavior both engines.

    Scale notes: the running max, the drawdown, and the rank all ride
    ONE hash exchange on user_id and one sort — per-entity state is a
    single long, so the window never buffers the series. The same
    shape prices a million instruments at 100 TB: partition count
    scales with entities, not series length.
    """
    from pokertracker_cassandra_st_spark.exprs import slong

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = table(spark, sf_dir, "events")
    s = ev.select(
        "user_id",
        "event_id",
        "ts",
        slong("value", 2).alias("vq"),
    ).select(
        "user_id",
        "event_id",
        "ts",
        "vq",
        F.max("vq").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "peak_q"
        ),
    )
    dd = (F.col("peak_q") - F.col("vq")).alias("dd_q")
    d = s.select("user_id", "event_id", "ts", "peak_q", dd).select(
        "user_id",
        "event_id",
        "peak_q",
        "dd_q",
        F.row_number()
        .over(
            Window.partitionBy("user_id").orderBy(
                F.col("dd_q").desc_nulls_last(), "event_id"
            )
        )
        .alias("rk"),
    )
    return d.filter((F.col("rk") == 1) & F.col("dd_q").isNotNull()).select(
        "user_id",
        (F.col("dd_q").cast("double") / 100).alias("max_drawdown"),
        (F.col("peak_q").cast("double") / 100).alias("peak_at_trough"),
        F.col("event_id").alias("trough_event_id"),
    )


# ---- q_ts_concurrency ------------------------------------------------------ #
# Concurrency counting over intervals — the classic "max concurrent
# sessions" analytics: each event opens a 300 s session; sweep the
# +1/-1 boundary markers in time order and take the running-sum peak
# per type. Half-open [start, end) semantics: at a shared timestamp
# the -1 sorts BEFORE the +1 (delta ascending), so back-to-back
# sessions never double-count. All integer; total order pinned by
# (time, delta, event_id).
_SESSION_S = 300


@register(
    "q_ts_concurrency",
    oracle=f"""
WITH marks AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t,
         1 AS delta, event_id
  FROM events
  UNION ALL
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) + {_SESSION_S} AS t,
         -1 AS delta, event_id
  FROM events
), run AS (
  SELECT event_type, t, delta, event_id,
         CAST(SUM(delta) OVER (PARTITION BY event_type
                               ORDER BY t, delta, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS BIGINT)
           AS concurrent
  FROM marks
), peak AS (
  SELECT event_type, t, concurrent,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY concurrent DESC, t, delta, event_id)
           AS rk
  FROM run
)
SELECT event_type, concurrent AS max_concurrent, t AS peak_epoch_s
FROM peak WHERE rk = 1
""",
    tags=("timeseries",),
)
def q_ts_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent 300-second sessions per event type, with the
    first instant the peak is reached: the +1/-1 boundary sweep whose
    running sum IS the concurrency curve. Endings tie-sort before
    starts at the same second (half-open intervals), so adjacent
    sessions never overlap spuriously; the rank's full (concurrent,
    t, delta, event_id) order makes the peak row deterministic.

    Scale notes: both markers explode from ONE fact scan (doubling
    rows in-map) before one hash exchange on event_type; the running
    sum and the peak rank share that exchange (same partition key). Per-type sweep state is one
    long. For millions of entities, partition the sweep by the entity
    key instead — same plan, more partitions; a global (untyped) sweep
    would need the two-phase prefix-sum (dist_rank.py) rather than one
    window.
    """
    ev = table(spark, sf_dir, "events")
    sec = F.floor(F.unix_micros("ts") / 1_000_000).cast("long")
    # both markers explode from ONE scan (a union of two selects would
    # read the fact table twice)
    marks = ev.select(
        "event_type",
        "event_id",
        F.explode(
            F.array(
                F.struct(sec.alias("t"), F.lit(1).alias("delta")),
                F.struct(
                    (sec + _SESSION_S).alias("t"), F.lit(-1).alias("delta")
                ),
            )
        ).alias("m"),
    ).select("event_type", F.col("m.t").alias("t"), F.col("m.delta").alias("delta"), "event_id")
    wrun = (
        Window.partitionBy("event_type")
        .orderBy("t", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = marks.select(
        "event_type",
        "t",
        "delta",
        "event_id",
        F.sum("delta").over(wrun).cast("long").alias("concurrent"),
    )
    wpk = Window.partitionBy("event_type").orderBy(
        F.desc("concurrent"), "t", "delta", "event_id"
    )
    return (
        run.withColumn("rk", F.row_number().over(wpk))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("concurrent").alias("max_concurrent"),
            F.col("t").alias("peak_epoch_s"),
        )
    )


# ---- q_ts_rolling_median --------------------------------------------------- #
# Rolling exact median — the robust smoother plain moving averages
# can't be (one spike drags a mean for the whole window, a median
# shrugs it off). Exact percentile semantics over a 9-row frame via
# the x4-quantized-longs doctrine (q_agg_percentile_exact): every
# interpolated median is an exact integer, bit-equal across engines.
_ROLLMED_W = 9


@register(
    "q_ts_rolling_median",
    oracle=f"""
SELECT user_id, event_id,
       CAST(quantile_cont(CAST(round(value * 1000000) AS BIGINT) * 4, 0.5)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN {_ROLLMED_W - 1} PRECEDING AND CURRENT ROW)
            AS BIGINT) AS med_q4,
       count(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN {_ROLLMED_W - 1} PRECEDING
                                   AND CURRENT ROW) AS n_window
FROM events
""",
    tags=("timeseries",),
)
def q_ts_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling exact median of the trailing 9 samples
    (percentile_cont semantics, x4e6-quantized longs so the midpoint
    interpolation is integer-exact), plus the non-NULL window count —
    the robust-baseline feed for q_ts_anomaly-style screens. NULL
    samples are skipped by the percentile and the count identically
    in both engines; warm-up rows use whatever the frame holds.

    Scale notes: one hash exchange on user_id, one sort, one window
    pass; the median buffer is frame-bounded (<= 9 values/row), so
    per-entity state is constant — at 100 TB this is scan + one
    bounded window, the cheapest robust smoother available.
    """
    from pokertracker_cassandra_st_spark.exprs import slong

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_ROLLMED_W - 1), 0)
    )
    ev = table(spark, sf_dir, "events")
    qv4 = (slong("value", 6) * 4).alias("qv4")
    return ev.select("user_id", "event_id", "ts", qv4).select(
        "user_id",
        "event_id",
        F.percentile("qv4", 0.5).over(w).cast("long").alias("med_q4"),
        F.count("qv4").over(w).alias("n_window"),
    )


# ---- q_ts_streaks ----------------------------------------------------------- #
# Longest monotone streak — "how many consecutive increases" is the
# momentum/engagement stat sessionization doesn't give: a run ends the
# moment the direction flips. The gaps-and-islands trick on the
# DIRECTION series: a boundary wherever the current sample fails to
# extend the run; run ids are prefix sums of boundaries.


@register(
    "q_ts_streaks",
    oracle="""
WITH s AS (
  SELECT user_id, event_id, ts,
         CAST(round(value * 100) AS BIGINT) AS vq,
         lag(CAST(round(value * 100) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pvq
  FROM events
), b AS (
  SELECT user_id, event_id, ts, vq,
         CASE WHEN pvq IS NOT NULL AND vq IS NOT NULL AND vq > pvq
              THEN 0 ELSE 1 END AS boundary
  FROM s
), runs AS (
  SELECT user_id, event_id, vq,
         CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS BIGINT)
           AS run_id
  FROM b
), runlen AS (
  SELECT user_id, run_id,
         count(*) AS len,
         min(event_id) AS start_event_id
  FROM runs WHERE vq IS NOT NULL
  GROUP BY user_id, run_id
), best AS (
  SELECT user_id, len, start_event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY len DESC, start_event_id) AS rk
  FROM runlen
)
SELECT user_id, len AS longest_up_streak, start_event_id
FROM best WHERE rk = 1
""",
    tags=("timeseries",),
)
def q_ts_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest strictly-increasing streak per user (and where it
    starts): direction boundaries -> prefix-sum run ids -> run lengths
    -> per-user argmax (first-start tie-break). NULL samples always
    break a run and never count toward one — the three-valued CASE is
    identical in both engines; comparisons run on x100 exact longs.

    Scale notes: the lag, the boundary prefix sum, and the final rank
    all partition on user_id — one hash exchange end to end (the run
    groupBy re-keys on (user_id, run_id), a strict refinement that
    stays partition-local under AQE). Per-entity window state is one
    long; the same plan scores a billion series.
    """
    from pokertracker_cassandra_st_spark.exprs import slong

    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = table(spark, sf_dir, "events")
    s = ev.select(
        "user_id", "event_id", "ts", slong("value", 2).alias("vq")
    ).withColumn("pvq", F.lag("vq").over(wo))
    boundary = F.when(
        F.col("pvq").isNotNull()
        & F.col("vq").isNotNull()
        & (F.col("vq") > F.col("pvq")),
        F.lit(0),
    ).otherwise(F.lit(1))
    runs = s.select(
        "user_id",
        "event_id",
        "ts",
        "vq",
        F.sum(boundary)
        .over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("run_id"),
    )
    runlen = (
        runs.filter(F.col("vq").isNotNull())
        .groupBy("user_id", "run_id")
        .agg(
            F.count("*").alias("len"),
            F.min("event_id").alias("start_event_id"),
        )
    )
    wb = Window.partitionBy("user_id").orderBy(
        F.desc("len"), "start_event_id"
    )
    return (
        runlen.withColumn("rk", F.row_number().over(wb))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("len").alias("longest_up_streak"),
            "start_event_id",
        )
    )


# ---- q_ts_growth ------------------------------------------------------------- #
# Period-over-period growth: monthly revenue per order priority with
# month-over-month and year-over-year percentage change from lag
# windows. Revenue is exact integer cents; the growth percentages are
# single double divisions of exact longs.


@register(
    "q_ts_growth",
    oracle="""
WITH m AS (
  SELECT o_orderpriority,
         CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders
  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
  GROUP BY 1, 2
)
SELECT o_orderpriority,
       CAST(month AS STRING) AS month,
       CAST(cents AS DOUBLE) / 100 AS revenue,
       round(100.0 * (cents - lag(cents, 1) OVER w)
             / lag(cents, 1) OVER w, 6) AS mom_pct,
       round(100.0 * (cents - lag(cents, 12) OVER w)
             / lag(cents, 12) OVER w, 6) AS yoy_pct
FROM m
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY month)
ORDER BY o_orderpriority, month
""",
    tags=("timeseries",),
)
def q_ts_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue per priority with MoM and YoY growth: one
    month-grain aggregate (exact cents), then lag(1)/lag(12) within
    each priority's calendar-bounded month series; leading periods
    yield NULL growth on both engines.

    Scale notes: the fact table reduces to (priority, month) rows in
    ONE map-side-combined groupBy; the lag windows run over those
    calendar-bounded rows (dozens per partition), never raw data. The
    consecutive-month assumption holds by construction here (every
    month has orders); a gap-sensitive variant composes with
    q_ts_gapfill's spine.
    """
    from pokertracker_cassandra_st_spark.exprs import slong

    m = (
        table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate").isNotNull()
            & F.col("o_totalprice").isNotNull()
        )
        .groupBy(
            "o_orderpriority",
            F.date_trunc("month", "o_orderdate").cast("date").alias("mo"),
        )
        .agg(F.sum(slong("o_totalprice", 2)).alias("cents"))
    )
    w = Window.partitionBy("o_orderpriority").orderBy("mo")
    prev = F.lag("cents", 1).over(w)
    prev12 = F.lag("cents", 12).over(w)
    return m.select(
        "o_orderpriority",
        F.col("mo").cast("string").alias("month"),
        (F.col("cents").cast("double") / 100).alias("revenue"),
        F.round(100.0 * (F.col("cents") - prev) / prev, 6).alias("mom_pct"),
        F.round(100.0 * (F.col("cents") - prev12) / prev12, 6).alias(
            "yoy_pct"
        ),
    ).orderBy("o_orderpriority", "month")


# ---- q_ts_transitions -------------------------------------------------------- #
# First-order Markov transition matrix over each user's event-type
# sequence (version order = event_id, the envelope's sequence key —
# cf. initial_db.sql's VERSION clustering column): counts and exact
# integer-ppm transition probabilities for the enum-bounded
# (prev, next) matrix.


@register(
    "q_ts_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY event_id) AS prev_type
  FROM events
), pairs AS (
  SELECT prev_type, event_type AS next_type FROM seq
  WHERE prev_type IS NOT NULL
)
SELECT prev_type, next_type, count(*) AS n_transitions,
       (1000000 * count(*))
         // CAST(SUM(count(*)) OVER (PARTITION BY prev_type) AS BIGINT)
         AS prob_ppm
FROM pairs GROUP BY prev_type, next_type
ORDER BY prev_type, next_type
""",
    tags=("timeseries", "behavior"),
)
def q_ts_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix: per-user lag in version order
    (event_id) pairs each event with its predecessor; the enum-bounded
    (prev, next) matrix carries exact counts and integer-ppm row
    probabilities.

    Scale notes: ONE user_id exchange feeds the lag window (per-user
    state, bounded partitions); the pair rollup is map-side combined
    into an enum-bounded matrix, and the row-probability window runs
    over those matrix rows only. The denominator is a window over the
    AGGREGATED frame — no second pass over events.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    g = seq.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count("*").alias("n_transitions"))
    wp = Window.partitionBy("prev_type")
    return g.select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.expr(
            "(1000000 * n_transitions) div "
            "sum(n_transitions) over (partition by prev_type)"
        ).alias("prob_ppm"),
    ).orderBy("prev_type", "next_type")


# ---- q_fn_time_bucket -------------------------------------------------------- #
# Hypertable-style time_bucket with an ORIGIN: arbitrary-width (90 min)
# buckets anchored at a 30-minute offset — the knob date_trunc lacks
# and every irregular-cadence rollup (shift schedules, billing
# periods) needs. Pure integer epoch arithmetic on both engines.

_TB_W = 5400   # 90-minute buckets
_TB_O = 1800   # anchored at :30 past the epoch hour


@register(
    "q_fn_time_bucket",
    oracle=f"""
WITH b AS (
  SELECT ((CAST(floor(epoch(ts)) AS BIGINT) - {_TB_O}) // {_TB_W})
           * {_TB_W} + {_TB_O} AS bs,
         value
  FROM events
)
SELECT strftime(TIMESTAMP '1970-01-01' + INTERVAL 1 SECOND * bs,
                '%Y-%m-%d %H:%M:%S') AS bucket_start,
       count(*) AS n_events,
       CAST(SUM(CASE WHEN value IS NOT NULL
                THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT)
         AS value_cents
FROM b GROUP BY bucket_start ORDER BY bucket_start
""",
    tags=("timeseries", "fn"),
)
def q_fn_time_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time_bucket(90 min, ts, origin=:30): bucket start = origin +
    ((epoch - origin) div width) * width — exact integer arithmetic, so
    a row 1 second before :30 and 1 second after land in different
    buckets identically on both engines; per-bucket counts and exact
    cents.

    Scale notes: the bucket id is a row-local integer expression (no
    window, no join); ONE map-side-combined groupBy on the bucket.
    This is the generalized form of q_ts_downsample's fixed 6-hour
    grid — origin-anchored widths date_trunc cannot express.
    """
    from pokertracker_cassandra_st_spark.exprs import slong

    ev = table(spark, sf_dir, "events")
    e = F.unix_timestamp("ts")
    bs = ((e - _TB_O) - F.pmod(e - _TB_O, _TB_W)) + _TB_O
    return (
        ev.select(
            F.date_format(bs.cast("timestamp"), "yyyy-MM-dd HH:mm:ss").alias(
                "bucket_start"
            ),
            "value",
        )
        .groupBy("bucket_start")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.when(F.col("value").isNotNull(), slong("value", 2))
            ).alias("value_cents"),
        )
        .orderBy("bucket_start")
    )


# ---- q_ts_bursts ------------------------------------------------------------- #
# Burst-episode detection: hours whose event count spikes to >= 3x the
# trailing-6-bucket baseline (and >= 5 absolute) merge into contiguous
# episodes via the islands trick. The threshold test is the integer
# cross-multiplication 6*cnt >= 3*trailing_sum — no fractional
# baseline ever materializes, so the engines agree exactly.


@register(
    "q_ts_bursts",
    oracle="""
WITH hourly AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hb,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
), flagged AS (
  SELECT event_type, hb, cnt,
         CAST(coalesce(SUM(cnt) OVER (PARTITION BY event_type ORDER BY hb
                 ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS trail,
         count(*) OVER (PARTITION BY event_type ORDER BY hb
                 ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING) AS n_trail
  FROM hourly
), bursts AS (
  SELECT event_type, hb, cnt,
         hb - row_number() OVER (PARTITION BY event_type ORDER BY hb)
           AS grp
  FROM flagged
  WHERE n_trail >= 3 AND 6 * cnt >= 3 * trail AND cnt >= 5
)
SELECT event_type,
       strftime(TIMESTAMP '1970-01-01' + INTERVAL 1 SECOND * (min(hb) * 3600),
                '%Y-%m-%d %H:%M:%S') AS burst_start,
       strftime(TIMESTAMP '1970-01-01' + INTERVAL 1 SECOND * (max(hb) * 3600),
                '%Y-%m-%d %H:%M:%S') AS burst_end,
       count(*) AS n_hours,
       max(cnt) AS peak_count
FROM bursts GROUP BY event_type, grp
ORDER BY event_type, burst_start
""",
    tags=("timeseries",),
)
def q_ts_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic bursts per event type: an hour qualifies when its count
    reaches 3x the trailing 6-observed-hours baseline (integer
    cross-multiplied — 6*cnt >= 3*trailing_sum), with >= 3 trailing
    observations and an absolute floor of 5; consecutive qualifying
    hours collapse to episodes (hb - row_number islands) with
    start/end/duration/peak.

    Scale notes: ONE (type, hour) pre-aggregation shrinks events to
    calendar-bounded rows; the trailing window, islands rank and
    episode rollup all partition by event_type over those bounded
    rows and share one exchange. Detection thresholds never leave
    exact integer arithmetic.
    """
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        (F.floor(F.unix_timestamp("ts") / 3600)).cast("long").alias("hb"),
    ).agg(F.count("*").alias("cnt"))
    wt = (
        Window.partitionBy("event_type")
        .orderBy("hb")
        .rowsBetween(-6, -1)
    )
    flagged = hourly.select(
        "event_type",
        "hb",
        "cnt",
        F.coalesce(F.sum("cnt").over(wt), F.lit(0)).alias("trail"),
        F.count("*").over(wt).alias("n_trail"),
    )
    wr = Window.partitionBy("event_type").orderBy("hb")
    bursts = flagged.filter(
        (F.col("n_trail") >= 3)
        & (6 * F.col("cnt") >= 3 * F.col("trail"))
        & (F.col("cnt") >= 5)
    ).withColumn("grp", F.col("hb") - F.row_number().over(wr))
    fmt = lambda c: F.date_format(  # noqa: E731
        (c * 3600).cast("timestamp"), "yyyy-MM-dd HH:mm:ss"
    )
    return (
        bursts.groupBy("event_type", "grp")
        .agg(
            fmt(F.min("hb")).alias("burst_start"),
            fmt(F.max("hb")).alias("burst_end"),
            F.count("*").alias("n_hours"),
            F.max("cnt").alias("peak_count"),
        )
        .drop("grp")
        .orderBy("event_type", "burst_start")
    )


@register(
    "q_ts_forecast",
    oracle="""
WITH d AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS db,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
), o AS (SELECT min(db) AS d0 FROM d),
x AS (
  SELECT event_type, db - o.d0 AS xi, cnt FROM d CROSS JOIN o
), m AS (
  SELECT event_type,
         count(*) AS n,
         CAST(SUM(xi) AS DOUBLE) AS sx,
         CAST(SUM(cnt) AS DOUBLE) AS sy,
         CAST(SUM(xi * cnt) AS DOUBLE) AS sxy,
         CAST(SUM(xi * xi) AS DOUBLE) AS sxx,
         max(xi) AS mx
  FROM x GROUP BY event_type
), hs AS (SELECT unnest(generate_series(1, 3)) AS h)
SELECT event_type, h,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0 AS slope6,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
             + ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * (mx + h), 6)
         + 0.0 AS pred6
FROM m CROSS JOIN hs
WHERE n >= 2 AND (n * sxx - sx * sx) > 0
ORDER BY event_type, h
""",
    tags=("ts", "statistics"),
)
def q_ts_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key linear trend forecast: fit volume-per-day ~ day by OLS
    for each event type (exact integer co-moments over (day index,
    count) pairs), then project 1-3 days past each type's last observed
    day — the capacity-planning primitive ("will tomorrow's ingest fit
    the cluster?") that closes q_agg_regression (global fit) with a
    per-key forecast surface.

    Determinism: day indices anchor on the GLOBAL min day (broadcast
    1-row frame, same scalar both engines); co-moments are exact
    integer sums cast once to double, so slope/intercept/prediction are
    the identical double expressions in both engines; round(6) + 0.0
    canonicalizes any signed zero (a near-flat declining trend can
    round to -0.0 — the q_fn_geo lesson applied at build time).

    Scale notes: the daily rollup is ONE map-side-combined shuffle of
    (type, day) partials — the only data-sized move; the fit sees
    days x types rows and the forecast explodes 3 literals per type.
    Int64 headroom: xi <= ~10^4 days and per-day counts <= ~10^12 keep
    sxy inside 2^53-exact doubles at 100 TB; past that, swap the sums
    to DECIMAL(38,0) (dsum doctrine) with no plan change.
    """
    ev = table(spark, sf_dir, "events")
    d = (
        ev.select(
            "event_type",
            (F.unix_timestamp("ts") / 86400).cast("long").alias("db"),
        )
        .groupBy("event_type", "db")
        .agg(F.count("*").alias("cnt"))
    )
    o = d.agg(F.min("db").alias("d0"))
    x = d.crossJoin(F.broadcast(o)).select(
        "event_type", (F.col("db") - F.col("d0")).alias("xi"), "cnt"
    )
    m = x.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("xi").cast("double").alias("sx"),
        F.sum("cnt").cast("double").alias("sy"),
        F.sum(F.col("xi") * F.col("cnt")).cast("double").alias("sxy"),
        F.sum(F.col("xi") * F.col("xi")).cast("double").alias("sxx"),
        F.max("xi").alias("mx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    den = n * sxx - sx * sx
    slope = (n * sxy - sx * sy) / den
    intercept = (sy - slope * sx) / n
    return (
        m.filter((n >= 2) & (den > 0))
        .withColumn(
            "h",
            F.explode(
                F.array(
                    F.lit(1).cast("long"),
                    F.lit(2).cast("long"),
                    F.lit(3).cast("long"),
                )
            ),
        )
        .select(
            "event_type",
            "h",
            (F.round(slope, 6) + F.lit(0.0)).alias("slope6"),
            (
                F.round(intercept + slope * (F.col("mx") + F.col("h")), 6)
                + F.lit(0.0)
            ).alias("pred6"),
        )
        .orderBy("event_type", "h")
    )


@register(
    "q_ts_bollinger",
    oracle="""
WITH d AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS db,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
), w AS (
  SELECT event_type, db, cnt,
         CAST(count(*) OVER f AS BIGINT) AS nw,
         CAST(SUM(cnt) OVER f AS BIGINT) AS s,
         CAST(SUM(cnt * cnt) OVER f AS BIGINT) AS ss
  FROM d
  WINDOW f AS (PARTITION BY event_type ORDER BY db
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT event_type, db, cnt,
       round(CAST(s AS DOUBLE) / nw, 6) AS mid6,
       CASE WHEN nw >= 2 AND nw * ss - s * s > 0 THEN
         round(CAST(s AS DOUBLE) / nw
               + 2 * sqrt(CAST(nw * ss - s * s AS DOUBLE) / (nw * (nw - 1))), 6)
       END AS upper6,
       CASE WHEN nw >= 2 AND nw * ss - s * s > 0 THEN
         round(CAST(s AS DOUBLE) / nw
               - 2 * sqrt(CAST(nw * ss - s * s AS DOUBLE) / (nw * (nw - 1))), 6)
         + 0.0
       END AS lower6,
       CASE WHEN nw >= 2 AND nw * ss - s * s > 0 THEN
         cnt > CAST(s AS DOUBLE) / nw
               + 2 * sqrt(CAST(nw * ss - s * s AS DOUBLE) / (nw * (nw - 1)))
          OR cnt < CAST(s AS DOUBLE) / nw
               - 2 * sqrt(CAST(nw * ss - s * s AS DOUBLE) / (nw * (nw - 1)))
       ELSE FALSE END AS is_break
FROM w ORDER BY event_type, db
""",
    tags=("ts", "statistics"),
)
def q_ts_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands over daily volume per event type: trailing 7-row
    mean +/- 2 sample standard deviations, plus a band-break flag — the
    volatility envelope behind q_dq_volume_anomaly's median screen and
    q_ts_crossover's SMA pair.

    Determinism: mean and sd derive from EXACT integer window sums
    (count, sum, sum of squares over the ROWS frame — never a running
    double stddev whose accumulation order differs between engines);
    the band arithmetic is then the identical double expression in
    both. DuckDB's window SUM(BIGINT) promotes to HUGEINT — cast back
    to BIGINT before the double math (the HUGEINT->float64 pandas
    lesson). lower6 carries a + 0.0 signed-zero epilogue (a band edge
    can round to exactly -0.0).

    Scale notes: one map-side-combined daily rollup shuffle, then one
    window pass partitioned by type over days-sized rows (bounded:
    days x types << raw events). The squared daily counts stay inside
    int64 up to ~3x10^9 events/day/type; past that the ss sum goes
    DECIMAL(38,0) with no plan change.
    """
    ev = table(spark, sf_dir, "events")
    d = (
        ev.select(
            "event_type",
            (F.unix_timestamp("ts") / 86400).cast("long").alias("db"),
        )
        .groupBy("event_type", "db")
        .agg(F.count("*").alias("cnt"))
    )
    f = (
        Window.partitionBy("event_type")
        .orderBy("db")
        .rowsBetween(-6, Window.currentRow)
    )
    w = d.select(
        "event_type",
        "db",
        "cnt",
        F.count("*").over(f).alias("nw"),
        F.sum("cnt").over(f).alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).over(f).alias("ss"),
    )
    nw, s, ss = F.col("nw"), F.col("s"), F.col("ss")
    mid = s.cast("double") / nw
    ok = (nw >= 2) & (nw * ss - s * s > 0)
    sd = F.sqrt((nw * ss - s * s).cast("double") / (nw * (nw - 1)))
    return w.select(
        "event_type",
        "db",
        "cnt",
        F.round(mid, 6).alias("mid6"),
        F.when(ok, F.round(mid + 2 * sd, 6)).alias("upper6"),
        F.when(ok, F.round(mid - 2 * sd, 6) + F.lit(0.0)).alias("lower6"),
        F.when(
            ok, (F.col("cnt") > mid + 2 * sd) | (F.col("cnt") < mid - 2 * sd)
        )
        .otherwise(F.lit(False))
        .alias("is_break"),
    ).orderBy("event_type", "db")


@register(
    "q_ts_stickiness",
    oracle="""
WITH d AS (
  SELECT CAST(floor(floor(epoch(ts)) / 604800) AS BIGINT) AS w,
         CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day,
         count(DISTINCT user_id) AS du
  FROM events GROUP BY 1, 2
), wd AS (
  SELECT w, count(*) AS n_days,
         CAST(SUM(du) AS BIGINT) AS sum_daily
  FROM d GROUP BY w
), wu AS (
  SELECT CAST(floor(floor(epoch(ts)) / 604800) AS BIGINT) AS w,
         count(DISTINCT user_id) AS wau
  FROM events GROUP BY 1
)
SELECT wd.w, wd.n_days, wd.sum_daily, wu.wau,
       (1000000 * wd.sum_daily) // (wd.n_days * wu.wau) AS stickiness_ppm
FROM wd JOIN wu ON wd.w = wu.w ORDER BY wd.w
""",
    tags=("ts", "behavior"),
)
def q_ts_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per epoch week: mean daily active users over
    the week's OBSERVED days divided by weekly actives, in exact
    integer ppm — the engagement-intensity ratio product analytics
    reads next to q_ts_retention's return-rate triangle (a user can
    retain weekly yet visit once; stickiness is what distinguishes
    that from daily habit).

    Scale notes: one (week, day) distinct-user rollup and one
    week-level distinct — both map-side partial-set aggregations keyed
    on calendar buckets; the join is weeks-sized. At extreme user
    cardinality the exact distincts swap for HLL sketches
    (q_agg_approx_distinct's contract) with no shape change.
    """
    # FLOOR(x / k) (not `div`): Spark div truncates toward zero while
    # DuckDB // floors, so pre-1970 timestamps would split buckets
    # differently (ADVICE r11).  The double quotient is exact here:
    # |epoch| << 2^53 and the rounding error (~1e-12) can never cross
    # an integer boundary (nearest boundary is 1/k ~ 1e-5 away).  Same
    # floor form at every calendar-bucket site in this module.
    ev = table(spark, sf_dir, "events").select(
        F.expr("CAST(FLOOR(unix_timestamp(ts) / 604800.0D) AS BIGINT)").alias("w"),
        F.expr("CAST(FLOOR(unix_timestamp(ts) / 86400.0D) AS BIGINT)").alias("day"),
        "user_id",
    )
    d = ev.groupBy("w", "day").agg(F.countDistinct("user_id").alias("du"))
    wd = d.groupBy("w").agg(
        F.count("*").alias("n_days"), F.sum("du").alias("sum_daily")
    )
    wu = ev.groupBy("w").agg(F.countDistinct("user_id").alias("wau"))
    return (
        wd.join(wu, "w")
        .select(
            "w",
            "n_days",
            "sum_daily",
            "wau",
            F.expr("(1000000 * sum_daily) div (n_days * wau)").alias(
                "stickiness_ppm"
            ),
        )
        .orderBy("w")
    )


@register(
    "q_ts_interarrival",
    oracle="""
WITH g AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT)
           - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) AS gap_s
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY event_id)
)
SELECT event_type,
       count(*) AS n_gaps,
       min(gap_s) AS min_s,
       max(gap_s) AS max_s,
       round(CAST(SUM(gap_s) AS DOUBLE) / count(*), 6) AS avg_s,
       CAST(quantile_cont(gap_s * 4, 0.25) AS BIGINT) AS p25_q4,
       CAST(quantile_cont(gap_s * 4, 0.50) AS BIGINT) AS p50_q4,
       CAST(quantile_cont(gap_s * 4, 0.75) AS BIGINT) AS p75_q4
FROM g WHERE gap_s IS NOT NULL
GROUP BY event_type ORDER BY event_type
""",
    tags=("ts",),
)
def q_ts_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap distribution per event type: integer seconds
    between consecutive events in version order, summarized with exact
    x4-quantized quartiles (the q_agg_percentile_exact device) — the
    traffic-shape statistic behind capacity planning and burst
    thresholds (q_ts_bursts flags episodes; this measures the baseline
    cadence they deviate from).

    Scale notes: one event_type-partitioned lag window (event_id is
    the in-partition sort, monotone with ts) feeding a per-type
    aggregate over gap scalars; avg from the exact integer sum. The
    exact percentile sorts per-type gap lists inside the aggregate —
    at extreme scale swap for approx_percentile under the
    exact-vs-tolerance contract of q_agg_percentile_approx.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("event_id")
    g = ev.select(
        "event_type",
        (
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return (
        g.groupBy("event_type")
        .agg(
            F.count("*").alias("n_gaps"),
            F.min("gap_s").alias("min_s"),
            F.max("gap_s").alias("max_s"),
            F.round(F.sum("gap_s").cast("double") / F.count("*"), 6).alias(
                "avg_s"
            ),
            F.percentile(F.col("gap_s") * 4, F.lit(0.25))
            .cast("long")
            .alias("p25_q4"),
            F.percentile(F.col("gap_s") * 4, F.lit(0.50))
            .cast("long")
            .alias("p50_q4"),
            F.percentile(F.col("gap_s") * 4, F.lit(0.75))
            .cast("long")
            .alias("p75_q4"),
        )
        .orderBy("event_type")
    )


# ---- q_ts_hour_of_week ------------------------------------------------------ #


@register(
    "q_ts_hour_of_week",
    oracle="""
WITH g AS (
  SELECT event_type,
         (CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT)) % 168 AS how,
         count(*) AS n
  FROM events GROUP BY 1, 2
), s AS (
  SELECT event_type, how, n,
         CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS tot,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY n DESC, how) AS rk
  FROM g
)
SELECT event_type, how, n,
       (1000000 * n) // tot AS share_ppm,
       rk = 1 AS is_peak
FROM s ORDER BY event_type, how
""",
    tags=("ts",),
)
def q_ts_hour_of_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-week traffic profile per event type: the 168-cell
    weekly heatmap (epoch-hour mod 168 — deterministic calendar
    arithmetic, no locale/timezone lore) with each cell's exact ppm
    share of the type's traffic and a peak-hour flag. q_ts_seasonal is
    the hour-of-DAY profile feeding the anomaly detector; this is the
    weekly capacity-planning grid (weekday/weekend shape, peak slot).

    Scale notes: the (type, hour-of-week) rollup partial-aggregates
    map-side to a calendar-bounded frame (168 x types rows); the share
    window and the peak rank ride ONE event_type partitioning of that
    bounded frame. Ties on the peak count break by hour for a
    deterministic flag.
    """
    g = (
        table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr("CAST(FLOOR(unix_timestamp(ts) / 3600.0D) AS BIGINT) % 168").alias("how"),
        )
        .agg(F.count("*").alias("n"))
    )
    wt = Window.partitionBy("event_type")
    wr = Window.partitionBy("event_type").orderBy(F.desc("n"), "how")
    return (
        g.select(
            "event_type",
            "how",
            "n",
            F.sum("n").over(wt).cast("long").alias("tot"),
            F.row_number().over(wr).alias("rk"),
        )
        .select(
            "event_type",
            "how",
            "n",
            F.expr("(1000000 * n) div tot").alias("share_ppm"),
            (F.col("rk") == 1).alias("is_peak"),
        )
        .orderBy("event_type", "how")
    )


# ---- q_ts_cusum ------------------------------------------------------------- #


@register(
    "q_ts_cusum",
    oracle="""
WITH d AS (
  SELECT event_type,
         CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day,
         count(*) AS x
  FROM events GROUP BY 1, 2
), st AS (
  SELECT event_type, day, x,
         count(*) OVER (PARTITION BY event_type) AS n,
         CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS sx
  FROM d
), p AS (
  SELECT event_type, day, x, n, sx,
         CAST(SUM(4 * n * x - 5 * sx) OVER (
           PARTITION BY event_type ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS pf
  FROM st
), s AS (
  SELECT event_type, day, x, n, sx, pf,
         least(CAST(0 AS BIGINT), CAST(min(pf) OVER (
           PARTITION BY event_type ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT)) AS mn
  FROM p
)
SELECT event_type, day, x,
       pf - mn AS cusum_x4n,
       (pf - mn) > 8 * sx AS alarm
FROM s ORDER BY event_type, day
""",
    tags=("ts",),
)
def q_ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change detection on daily event counts per
    type: the sequential statistic S_i = max(0, S_{i-1} + x_i - mu - k)
    with allowance k = mu/4 and alarm threshold h = 2*mu. The
    recursion LOOKS inherently sequential (the q_ts_holtwinters trap),
    but has the classic closed form S_i = P_i - min(0, min_{j<=i} P_j)
    over the deviation prefix sums P — so it runs as TWO stacked
    windows on one exchange, no fold, no applyInPandas.

    Determinism: deviations are scaled by 4n (days observed per type)
    to clear every fraction — e_i = 4*n*x_i - 5*sum_x is exact int64
    (headroom: 4 * days * daily_count * days needs days²·x·4 < 2^63 —
    safe past a million days at 1e9 events/day), so prefix sums,
    running mins, and the 8*sum_x alarm compare are all exact integer
    arithmetic, identical in both engines.

    Scale notes: the (type, day) rollup partial-aggregates map-side to
    a calendar-bounded frame; the level stats, prefix sum, and running
    min all ride ONE event_type partitioning of that bounded frame.
    """
    d = (
        table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr("CAST(FLOOR(unix_timestamp(ts) / 86400.0D) AS BIGINT)").alias("day"),
        )
        .agg(F.count("*").alias("x"))
    )
    wt = Window.partitionBy("event_type")
    wc = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    st = d.select(
        "event_type",
        "day",
        "x",
        F.count("*").over(wt).alias("n"),
        F.sum("x").over(wt).cast("long").alias("sx"),
    )
    p = st.withColumn(
        "pf",
        F.sum(4 * F.col("n") * F.col("x") - 5 * F.col("sx"))
        .over(wc)
        .cast("long"),
    )
    s = p.withColumn(
        "mn",
        F.least(
            F.lit(0).cast("long"), F.min("pf").over(wc).cast("long")
        ),
    )
    return s.select(
        "event_type",
        "day",
        "x",
        (F.col("pf") - F.col("mn")).alias("cusum_x4n"),
        ((F.col("pf") - F.col("mn")) > 8 * F.col("sx")).alias("alarm"),
    ).orderBy("event_type", "day")


# ---- q_ts_new_users --------------------------------------------------------- #


@register(
    "q_ts_new_users",
    oracle="""
WITH f AS (
  SELECT user_id,
         CAST(floor(floor(epoch(min(ts))) / 3600) AS BIGINT) AS h
  FROM events GROUP BY user_id
), hr AS (
  SELECT h, count(*) AS new_users FROM f GROUP BY h
), c AS (
  SELECT h, new_users,
         CAST(SUM(new_users) OVER (ORDER BY h) AS BIGINT) AS cum_users,
         lag(new_users) OVER (ORDER BY h) AS prev
  FROM hr
)
SELECT h, new_users, cum_users,
       CAST(1000000 * (new_users - prev) AS DOUBLE) / CAST(prev AS DOUBLE)
         AS growth_ppm
FROM c ORDER BY h
""",
    tags=("ts", "behavior"),
)
def q_ts_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acquisition curve: users by FIRST-activity period (hour grain —
    the fixture's user base onboards within its first days, so hours
    are the non-degenerate grain; at production the 3600 divisor is
    the only knob), the cumulative user base, and period-over-period
    growth — the top-line growth report feeding q_ts_retention (who
    came back) and q_ts_cohort_ltv (what they were worth). Growth is
    signed, so it is a DOUBLE from the same exact integers on both
    engines (integer floor-vs-truncate division diverges between
    engines on NEGATIVES — the one place the ppm integer-division
    doctrine does not apply).

    Scale notes: one user_id-keyed min(ts) aggregate (map-side
    combined), one period rollup; the cumulative and lag windows are
    partition-less but run over the calendar-bounded period frame,
    the same bounded-frame exception as the decile curves.
    """
    f = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.expr("CAST(FLOOR(unix_timestamp(min(ts)) / 3600.0D) AS BIGINT)").alias("h"))
    )
    hr = f.groupBy("h").agg(F.count("*").alias("new_users"))
    w_cum = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    w_lag = Window.orderBy("h")
    c = hr.select(
        "h",
        "new_users",
        F.sum("new_users").over(w_cum).cast("long").alias("cum_users"),
        F.lag("new_users").over(w_lag).alias("prev"),
    )
    return c.select(
        "h",
        "new_users",
        "cum_users",
        (
            (F.lit(1_000_000) * (F.col("new_users") - F.col("prev"))).cast(
                "double"
            )
            / F.col("prev").cast("double")
        ).alias("growth_ppm"),
    ).orderBy("h")


# ---- q_ts_mad_anomaly ------------------------------------------------------- #


@register(
    "q_ts_mad_anomaly",
    oracle="""
WITH d AS (
  SELECT event_type,
         CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), med AS (
  SELECT event_type, quantile_cont(x, 0.5) AS med FROM d GROUP BY 1
), mad AS (
  SELECT d.event_type, m.med,
         quantile_cont(abs(d.x - m.med), 0.5) AS mad
  FROM d JOIN med m ON d.event_type = m.event_type
  GROUP BY d.event_type, m.med
)
SELECT d.event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       any_value(m.med) AS med_cnt,
       any_value(m.mad) AS mad_cnt,
       CAST(SUM(CASE WHEN abs(d.x - m.med) > 3 * m.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
FROM d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type
ORDER BY d.event_type
""",
    tags=("timeseries",),
)
def q_ts_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily-volume anomaly screen per type: median absolute
    deviation instead of stddev, so one broken day cannot inflate its
    own detection threshold (the z-score screen's classic failure —
    q_ts_anomaly is the parametric sibling).  A day is anomalous when
    |count - median| > 3 * MAD.

    Determinism: daily counts are integers; the interpolated median of
    integers is k or k+0.5 and |x - med| is again integer-or-half — all
    values and the 3*MAD threshold are exact dyadic doubles well under
    2^53, so percentile interpolation ((a+b)/2) and the comparison are
    bit-identical in both engines.  Day buckets use the FLOOR form
    (pre-1970-safe, the module doctrine at q_ts_stickiness).

    Scale notes: ONE fact exchange for the (type, day) rollup with
    map-side combine; the daily counts then collect into a
    calendar-bounded array per type (the jackknife array doctrine —
    the join-back textbook form references the daily frame from THREE
    plan branches and Spark would re-execute the fact rollup per
    branch), so both medians and the flag count are row-local
    higher-order-function arithmetic on the types-sized frame.
    """
    d = (
        table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr(
                "CAST(FLOOR(unix_timestamp(ts) / 86400.0D) AS BIGINT)"
            ).alias("day"),
        )
        .agg(F.count("*").alias("x"))
    )
    g = d.groupBy("event_type").agg(
        F.expr("array_sort(collect_list(CAST(x AS DOUBLE)))").alias("xs")
    )
    # interpolated median of a sorted array: (s[(n+1) div 2] +
    # s[n div 2 + 1]) / 2 covers odd and even n with the same exact
    # (a+b)/2 arithmetic quantile_cont/percentile use at p=0.5
    g = g.withColumn("n_days", F.size("xs").cast("long")).withColumn(
        "med",
        F.expr(
            "(element_at(xs, CAST((n_days + 1) div 2 AS INT))"
            " + element_at(xs, CAST(n_days div 2 + 1 AS INT))) / 2"
        ),
    )
    g = g.withColumn(
        "devs", F.expr("array_sort(transform(xs, x -> abs(x - med)))")
    ).withColumn(
        "mad",
        F.expr(
            "(element_at(devs, CAST((n_days + 1) div 2 AS INT))"
            " + element_at(devs, CAST(n_days div 2 + 1 AS INT))) / 2"
        ),
    )
    return g.select(
        "event_type",
        "n_days",
        F.col("med").alias("med_cnt"),
        F.col("mad").alias("mad_cnt"),
        F.expr(
            "CAST(size(filter(xs, x -> abs(x - med) > 3 * mad)) AS BIGINT)"
        ).alias("n_anomalies"),
    ).orderBy("event_type")


# ---- q_ts_seasonal_naive_error ---------------------------------------------- #


@register(
    "q_ts_seasonal_naive_error",
    oracle="""
WITH h AS (
  SELECT event_type,
         CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) AS h,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), l AS (
  SELECT event_type, h, x,
         max(x) OVER (PARTITION BY event_type ORDER BY h
                      RANGE BETWEEN 168 PRECEDING AND 168 PRECEDING) AS sn
  FROM h
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_eval,
       CAST(SUM(abs(x - sn)) AS BIGINT) AS sum_abs_err,
       (1000000 * CAST(SUM(abs(x - sn)) AS BIGINT)) // count(*) AS mae_ppm,
       CAST(SUM((2000000 * abs(x - sn)) // (x + sn)) AS BIGINT)
         // count(*) AS smape_ppm,
       round(CAST(SUM(x - sn) AS DOUBLE) / count(*), 6) AS mean_bias
FROM l WHERE sn IS NOT NULL
GROUP BY event_type ORDER BY event_type
""",
    tags=("ts",),
)
def q_ts_seasonal_naive_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive backtest on hourly event counts: forecast each
    hour with the SAME hour one week earlier (lag 168), and report per
    type the exact-integer MAE/sMAPE ppm plus mean bias — the baseline
    every forecasting system must beat (and the q_ts_forecast sanity
    anchor: if Holt beats seasonal-naive nowhere, the seasonality
    dominates the trend).

    The lag is NOT a self-join: a RANGE BETWEEN 168 PRECEDING AND 168
    PRECEDING window frame picks the exact hour-h-168 row when it was
    observed (sparse series never fabricate zero hours), so the whole
    query is one scan -> one (type, hour) rollup -> one window — a
    self-join lag would re-execute the rollup subtree per branch (the
    documented re-reference-rescan trap).

    Cross-engine determinism: counts are exact ints; MAE ppm is one
    integer division of nonnegative ints; per-term sMAPE ppm uses
    truncating integer division on both engines (Spark `div` == DuckDB
    integer `//`, both truncate toward zero); mean bias derives from
    the same exact signed integer sum through DOUBLE in the identical
    expression position.

    Scale notes: the (type, hour) rollup partial-aggregates map-side
    to a calendar-bounded frame; the seasonal window rides ONE
    event_type exchange of that bounded frame; the error rollup is
    types-sized. The hour bucket follows the FLOOR doctrine
    (pre-1970-safe, engine-identical — see the round-13 fixture).
    """
    h = (
        table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr("CAST(FLOOR(unix_timestamp(ts) / 3600.0D) AS BIGINT)").alias("h"),
        )
        .agg(F.count("*").alias("x"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rangeBetween(-168, -168)
    )
    l = h.withColumn("sn", F.max("x").over(w)).filter(F.col("sn").isNotNull())
    return (
        l.groupBy("event_type")
        .agg(
            F.count("*").alias("n_eval"),
            F.sum(F.abs(F.col("x") - F.col("sn"))).alias("sum_abs_err"),
            F.sum(
                F.expr("(2000000 * abs(x - sn)) div (x + sn)")
            ).alias("_ssm"),
            F.sum(F.col("x") - F.col("sn")).alias("_sbias"),
        )
        .select(
            "event_type",
            "n_eval",
            "sum_abs_err",
            F.expr("(1000000 * sum_abs_err) div n_eval").alias("mae_ppm"),
            F.expr("_ssm div n_eval").alias("smape_ppm"),
            F.round(
                F.expr("CAST(_sbias AS DOUBLE) / n_eval"), 6
            ).alias("mean_bias"),
        )
        .orderBy("event_type")
    )


# ---- q_ts_percentile_band --------------------------------------------------- #
# Rolling exact quartiles via identical interpolation arithmetic on the
# SORTED window array in both engines (quantile_cont/percentile built-ins
# are NOT used — their interpolation/type promotion differs between
# engines; writing the lerp once per dialect with the same association
# makes the doubles bit-identical).  q in {1/4, 1/2, 3/4} are exact
# binary fractions, so idx = (n-1)*q and its floor/frac are exact.


def _pb_lerp(q: str, el) -> str:
    idx = f"((CAST(n AS DOUBLE) - 1.0) * {q})"
    lo = f"CAST(floor({idx}) AS INT)"
    e1 = el(f"{lo} + 1")
    e2 = el(f"LEAST({lo} + 2, CAST(n AS INT))")
    return (
        f"round(CAST({e1} AS DOUBLE) + ({idx} - floor({idx}))"
        f" * (CAST({e2} AS DOUBLE) - CAST({e1} AS DOUBLE)), 6) + 0.0"
    )


_PB_SPARK = {
    name: _pb_lerp(q, lambda i: f"element_at(sa, {i})")
    for name, q in (("p25", "0.25"), ("p50", "0.5"), ("p75", "0.75"))
}
_PB_DUCK = {
    name: _pb_lerp(q, lambda i: f"sa[{i}]")
    for name, q in (("p25", "0.25"), ("p50", "0.5"), ("p75", "0.75"))
}


@register(
    "q_ts_percentile_band",
    oracle=f"""
WITH d AS (
  SELECT event_type,
         CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), w AS (
  SELECT event_type, day, x,
         list_sort(list(x) OVER (PARTITION BY event_type ORDER BY day
                   RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)) AS sa,
         CAST(count(*) OVER (PARTITION BY event_type ORDER BY day
              RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n
  FROM d
)
SELECT event_type, day, x, n AS n_window,
       {_PB_DUCK["p25"]} AS p25,
       {_PB_DUCK["p50"]} AS p50,
       {_PB_DUCK["p75"]} AS p75
FROM w ORDER BY event_type, day
""",
    tags=("ts",),
)
def q_ts_percentile_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day exact quartile band (p25/p50/p75, linear
    interpolation) over daily event counts per type — the envelope an
    ops dashboard draws around today's count, robust where the
    mean±sigma band (q_ts_bollinger) is dragged by bursts.

    Cross-engine determinism: the built-in quantile aggregates are
    deliberately avoided (interpolation and type-promotion rules
    differ between engines); both sides SORT the 7-element window
    array and evaluate the same lerp a[lo+1] + frac*(a[lo+2]-a[lo+1])
    with exact binary q (0.25/0.5/0.75 => exact idx, exact frac),
    generated from ONE template per dialect with identical
    association, plus the signed-zero epilogue.

    Scale notes: the (type, day) rollup partial-aggregates map-side to
    a calendar-bounded frame; the collect window holds at most 7
    BIGINTs per row and rides one event_type exchange of that bounded
    frame — the array is bounded by the frame width, never by corpus
    size. The day bucket follows the FLOOR doctrine (pre-1970-safe).
    """
    d = (
        table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr("CAST(FLOOR(unix_timestamp(ts) / 86400.0D) AS BIGINT)").alias(
                "day"
            ),
        )
        .agg(F.count("*").alias("x"))
    )
    wnd = (
        Window.partitionBy("event_type").orderBy("day").rangeBetween(-6, 0)
    )
    w = d.select(
        "event_type",
        "day",
        "x",
        F.sort_array(F.collect_list("x").over(wnd)).alias("sa"),
        F.count("*").over(wnd).cast("long").alias("n"),
    )
    return w.select(
        "event_type",
        "day",
        "x",
        F.col("n").alias("n_window"),
        F.expr(_PB_SPARK["p25"]).alias("p25"),
        F.expr(_PB_SPARK["p50"]).alias("p50"),
        F.expr(_PB_SPARK["p75"]).alias("p75"),
    ).orderBy("event_type", "day")
