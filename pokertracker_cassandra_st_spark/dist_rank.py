"""Two-phase distributed global ranking / prefix sums.

A ``Window.orderBy(...)`` with no partition key collapses the whole
frame into ONE task (Spark warns "No Partition Defined for Window
operation") — the classic global-order scale trap. The remedy is the
two-phase shape of Spark's own global sort:

  1. split rows into ORDERED, NON-OVERLAPPING buckets of the sort key;
  2. running sums / row_numbers WITHIN each bucket (parallel);
  3. a per-bucket-total table, prefix-summed and broadcast back:
     global value = bucket offset + local value.

Bucketing is NOT ``repartitionByRange``: the sampled range partitioner
draws a fresh RNG seed per exchange, and this algorithm references the
bucket assignment from TWO plan branches (the window and the totals
aggregate) — at the 10x sweep the branches materialized different
sampled boundaries (exchange reuse is not guaranteed under AQE) and the
offsets silently mismatched the local ranks (q_win_ntile emitted an
11th decile). Buckets are instead computed FROM ROW VALUES through a
deterministic histogram (fine equal-width cells from broadcast extrema,
exact cell counts, one refine round — see _with_bucket): b(x) is
monotone in x (IEEE subtraction/division/floor by shared constants
preserve order, and the cumulative-count mapping is monotone by
construction), deterministic wherever it is evaluated, so every branch
agrees by construction and no cross-stage reuse is load-bearing.

Skew (round-14 rework of the documented equal-width limitation): b(x)
is now a deterministic ~equal-COUNT mapping built from exact fixed-grid
counts with one refine round (see _with_bucket) — still monotone in x,
still computed from broadcast constants, so the branch-consistency
argument is unchanged; only the bucket BOUNDARIES moved, and the final
outputs never depended on where those boundaries sit (global value =
bucket offset + local value for ANY monotone tie-respecting b).

Used by q_agg_gini / q_agg_mannwhitney / q_agg_kstest / q_win_ntile
(global-order statistics) — the same pattern q_pipeline_shuffle and
q_pipeline_pack apply with hash-bucket keys. The K-row offset window
is itself global, but over exactly ``n_buckets`` rows — bounded by
construction, never by data size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pokertracker_cassandra_st_spark import ckpt

N_RANGE_BUCKETS = 32


# fine-grid resolution for the equal-count mapping: first pass counts
# n_buckets * _FINE_MULT equal-width cells; cells holding more than one
# bucket's share of rows are re-gridded once by their OBSERVED extrema
# into _REFINE_SUB sub-cells. Mapping size is bounded by construction:
# <= n_buckets * _FINE_MULT + n_buckets * _REFINE_SUB rows (at most
# n_buckets cells can exceed total/n_buckets rows) — a trivial
# broadcast at any data scale.
_FINE_MULT = 64
_REFINE_SUB = 64


def _with_bucket(df: DataFrame, primary: str, n_buckets: int) -> DataFrame:
    """Add ``_b``: an ordered, deterministic, ~equal-COUNT bucket id
    (numeric ``primary``; nulls sort first as bucket -1).

    Round-14 rework (guide §2.5 — the module docstring's documented
    skew upgrade): the equal-width interpolation serialized under
    skewed key distributions (most rows landing in few buckets). Bucket
    ids now come from a two-level deterministic histogram:

      1. fine cell: floor((x - min) * F / (max - min)) over
         F = n_buckets * _FINE_MULT equal-width cells (broadcast
         extrema, monotone in x, ties share a cell);
      2. exact per-cell counts + observed per-cell extrema (ONE small
         aggregate over the already-checkpointed input — the only
         added data pass);
      3. refine round, computed on the <= F-row stats frame: a cell
         holding more than total/n_buckets rows is re-gridded by its
         OBSERVED extrema into _REFINE_SUB sub-cells (handles the
         outlier-stretched-range pathology a finer first grid cannot),
         and each sub-cell j is mapped to bucket
           floor((rows_before_cell + count_cell * j / SUB) * K / total)
         — exact equal-count ACROSS cells, linear-interpolated WITHIN
         a refined cell; light cells map whole to
         floor(rows_before * K / total).

    Every quantity is an exact count or a broadcast constant, so b(x)
    is deterministic wherever it is evaluated (the branch-consistency
    requirement), monotone in x (cell is monotone, sub within cell is
    monotone, and the sub->bucket arrays are monotone across the
    (cell, sub) order by construction: a cell's last estimate
    rows_before + c*63/64 never exceeds the next cell's rows_before),
    and tie-respecting (equal values share a (cell, sub) atom). Rows
    reach their bucket through ONE tiny broadcast hash join carrying
    the per-cell bucket arrays; the only new exchange carries <= F
    pre-aggregated statistic rows, never data."""
    fine = n_buckets * _FINE_MULT
    ext = df.agg(F.min(primary).alias("_mn"), F.max(primary).alias("_mx"))
    # scaling runs in double: in the key's own type (x - min) * cells
    # wraps for wide int/long keys and drops rows from every bucket;
    # the cast is monotone, so b(x) stays monotone
    x, mn, mx = (F.col(c).cast("double") for c in (primary, "_mn", "_mx"))
    cell = (
        F.when(F.col(primary).isNull(), F.lit(-1))
        .when(mx == mn, F.lit(0))
        .otherwise(
            F.least(
                F.lit(fine - 1),
                F.floor((x - mn) * fine / (mx - mn)).cast("int"),
            )
        )
    )
    withc = (
        df.crossJoin(F.broadcast(ext)).withColumn("_fc", cell).drop("_mn", "_mx")
    )
    # per-cell count + observed extrema (<= fine rows out); the input
    # is checkpointed by range_prefix, so this pass reads cached
    # partitions, not the source lineage
    stats = (
        withc.filter(F.col("_fc") >= 0)
        .groupBy("_fc")
        .agg(
            F.count("*").alias("_c"),
            F.min(primary).alias("_clo"),
            F.max(primary).alias("_chi"),
        )
    )
    # cumulative counts + refined sub->bucket arrays, all on the tiny
    # stats frame (bounded single-task windows, same class as
    # range_prefix's offset frame). Materialized: the caller references
    # the bucketed frame from two branches; without the barrier each
    # branch would re-run the stats aggregate.
    w_prev = Window.orderBy("_fc").rowsBetween(Window.unboundedPreceding, -1)
    w_tot = Window.orderBy("_fc").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = stats.select(
        "_fc",
        "_clo",
        "_chi",
        "_c",
        F.coalesce(F.sum("_c").over(w_prev), F.lit(0)).alias("_cum"),
        F.sum("_c").over(w_tot).alias("_tot"),
    )
    clo, chi = F.col("_clo").cast("double"), F.col("_chi").cast("double")
    heavy = (F.col("_c") * n_buckets > F.col("_tot")) & (chi > clo)
    bucket_of = (
        f"least({n_buckets - 1}, cast((_cum + _c * j div {_REFINE_SUB}) "
        f"* {n_buckets} div _tot as int))"
    )
    cellmap = ckpt.materialized(
        cum.select(
            "_fc",
            "_clo",
            "_chi",
            heavy.alias("_heavy"),
            F.when(
                heavy,
                F.expr(
                    f"transform(sequence(0, {_REFINE_SUB - 1}), j -> {bucket_of})"
                ),
            )
            .otherwise(
                F.array(
                    F.least(
                        F.lit(n_buckets - 1),
                        F.expr(f"cast(_cum * {n_buckets} div _tot as int)"),
                    )
                )
            )
            .alias("_bmap"),
        )
    )
    # refine: sub-cell within heavy cells, by OBSERVED cell extrema —
    # monotone in x within a cell, constant 0 elsewhere (and for the
    # _fc = -1 null rows, whose left join finds no cell)
    sub = F.when(
        F.col("_heavy").isNull() | ~F.col("_heavy"), F.lit(0)
    ).otherwise(
        F.least(
            F.lit(_REFINE_SUB - 1),
            F.floor((x - clo) * _REFINE_SUB / (chi - clo)).cast("int"),
        )
    )
    return (
        withc.join(F.broadcast(cellmap), "_fc", "left")
        .withColumn(
            "_b",
            F.when(F.col("_fc") == -1, F.lit(-1)).otherwise(
                F.element_at("_bmap", sub + F.lit(1))
            ),
        )
        .drop("_fc", "_clo", "_chi", "_heavy", "_bmap")
    )


def range_prefix(
    df: DataFrame,
    order_cols: list[str],
    sums: dict[str, str],
    inclusive: bool,
    n_buckets: int = N_RANGE_BUCKETS,
    totals: dict[str, str] | None = None,
) -> DataFrame:
    """For each row, the sum of each ``sums`` source column over all
    rows at-or-before (``inclusive=True``) or strictly before it in
    the total order given by ``order_cols`` — without a global window.

    ``sums`` maps source column name -> output column name.
    ``order_cols[0]`` must be numeric (it drives the bucketing; ties
    on it stay within one bucket, so secondary tiebreak columns never
    cross bucket boundaries). The caller must pass order columns
    forming a TOTAL order (or operate on a frame whose order keys are
    unique, e.g. grouped-by-value), so the result is well-defined.

    ``totals`` (optional) maps source column name -> output column
    name for GRAND totals over the whole frame, attached to every row
    for free: the per-bucket totals frame already holds them, so a
    caller needing "n = count(*)" alongside a global row_number must
    NOT re-aggregate the input — that re-references the source and
    Spark re-executes the whole scan subtree (the documented
    re-reference-rescan trap; ADVICE r11 on q_pipeline_quality_curve).
    """
    if totals:
        missing = [s for s in totals if s not in sums]
        if missing:
            raise ValueError(f"totals sources must be in sums: {missing}")
    # output-name collision guard: a sums/totals destination that
    # already exists on the frame, duplicates another destination, or
    # matches the internal helper-name pattern (_b, _<dst>_loc/_off/
    # _tot) would silently produce duplicate/ambiguous columns.
    dsts = [*sums.values(), *(totals or {}).values()]
    dupes = sorted({d for d in dsts if dsts.count(d) > 1})
    if dupes:
        raise ValueError(f"duplicate output column names: {dupes}")
    clashes = sorted(set(dsts) & set(df.columns))
    if clashes:
        raise ValueError(
            f"output columns already exist on the frame: {clashes}"
        )
    helpers = {"_b", "_fc", "_mn", "_mx", "_clo", "_chi", "_heavy", "_bmap"} | {
        f"_{d}_{suf}" for d in dsts for suf in ("loc", "off", "tot")
    }
    helper_clash = sorted(
        (set(dsts) | set(df.columns)) & helpers
    )
    if helper_clash:
        raise ValueError(
            f"column names collide with range_prefix helpers: {helper_clash}"
        )
    # Optimization r13 (guide §5): materialize the input ONCE per call
    # (lazy local checkpoint — job-free at construction/explain time).
    # The algorithm references df from three branches (the extrema
    # 1-row aggregate, the bucketed window pass, and the per-bucket
    # totals aggregate); Catalyst has no common-subplan reuse across
    # branches, so the un-checkpointed form re-executed the whole input
    # lineage ~3x per call — and CHAINED calls (q_agg_rfm ranks three
    # metrics back-to-back) compounded that geometrically (measured
    # 8.8 s / a 425 KB plan at sf0.1; 1.1 s after). Values unchanged:
    # the checkpoint is per-invocation, nothing persists across runs.
    df = ckpt.materialized(df)
    part = _with_bucket(df, order_cols[0], n_buckets)
    end = 0 if inclusive else -1
    w_local = (
        Window.partitionBy("_b")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, end)
    )
    out = part
    for src, dst in sums.items():
        out = out.withColumn(f"_{dst}_loc", F.coalesce(F.sum(src).over(w_local), F.lit(0)))
    tot = part.groupBy("_b").agg(
        *[F.sum(src).alias(f"_{dst}_tot") for src, dst in sums.items()]
    )
    # n_buckets-row frame: the only global window, bounded by construction
    w_off = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("_b").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    off = tot.select(
        "_b",
        *[
            F.coalesce(F.sum(f"_{dst}_tot").over(w_off), F.lit(0)).alias(f"_{dst}_off")
            for dst in sums.values()
        ],
        *[
            F.sum(f"_{sums[src]}_tot").over(w_all).alias(dst)
            for src, dst in (totals or {}).items()
        ],
    )
    res = out.join(F.broadcast(off), "_b")
    for dst in sums.values():
        res = res.withColumn(dst, F.col(f"_{dst}_off") + F.col(f"_{dst}_loc")).drop(
            f"_{dst}_off", f"_{dst}_loc"
        )
    return res.drop("_b")


def range_row_number(
    df: DataFrame,
    order_cols: list[str],
    out_col: str,
    n_buckets: int = N_RANGE_BUCKETS,
    total_col: str | None = None,
) -> DataFrame:
    """Global row_number over a total order, two-phase (see module doc).

    ``total_col``: optionally also attach the frame's total row count
    to every row — derived from the per-bucket totals the algorithm
    already aggregates, NOT a second scan of ``df``.
    """
    out = range_prefix(
        df.withColumn("_one", F.lit(1)),
        order_cols,
        {"_one": out_col},
        inclusive=True,
        n_buckets=n_buckets,
        totals={"_one": total_col} if total_col else None,
    )
    return out.drop("_one")
