"""Property tests for the two-phase distributed rank (dist_rank.py).

The helper replaced every unbounded single-partition window in the
registry, so it gets its own differential against the single-window
reference implementation — including the degenerate shapes that broke
the first (repartitionByRange-based) draft at 10x: ties on the bucket
key, all-equal keys (min == max), negatives, nulls, and frames smaller
than the bucket count.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from pokertracker_cassandra_st_spark.dist_rank import range_prefix, range_row_number


def _frame(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["x", "k", "w"]).astype(
            {"k": "int64", "w": "int64"}
        )
    )


CASES = {
    "uniform": [(float(i % 17) * 1.5 - 3.0, i, i % 5 + 1) for i in range(500)],
    "heavy_ties": [(float(i % 3), i, 1) for i in range(300)],
    "all_equal": [(7.25, i, 2) for i in range(100)],
    "tiny": [(1.0, 0, 1), (2.0, 1, 3)],
    "single_row": [(0.0, 0, 5)],
    "negatives": [((-1.0) ** i * i * 0.125, i, 1) for i in range(257)],
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_row_number_matches_global_window(spark, case):
    df = _frame(spark, CASES[case])
    got = range_row_number(df, ["x", "k"], "rn")
    ref = df.withColumn("rn_ref", F.row_number().over(Window.orderBy("x", "k")))
    j = got.join(ref, ["x", "k", "w"])
    assert j.filter(F.col("rn") != F.col("rn_ref")).count() == 0
    assert j.count() == len(CASES[case])


@pytest.mark.parametrize("inclusive", [True, False])
def test_prefix_sum_matches_global_window(spark, inclusive):
    df = _frame(spark, CASES["uniform"])
    got = range_prefix(df, ["x", "k"], {"w": "pw"}, inclusive=inclusive)
    end = 0 if inclusive else -1
    ref = df.withColumn(
        "pw_ref",
        F.coalesce(
            F.sum("w").over(
                Window.orderBy("x", "k").rowsBetween(Window.unboundedPreceding, end)
            ),
            F.lit(0),
        ),
    )
    j = got.join(ref, ["x", "k", "w"])
    assert j.filter(F.col("pw") != F.col("pw_ref")).count() == 0


def test_null_primary_sorts_first(spark):
    rows = [(None, 0, 1), (1.0, 1, 1), (None, 2, 1), (-5.0, 3, 1)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["x", "k", "w"]).astype({"k": "int64", "w": "int64"})
    )
    got = {r["k"]: r["rn"] for r in range_row_number(df, ["x", "k"], "rn").collect()}
    # nulls (bucket -1) first in key order, then -5.0, then 1.0
    assert got == {0: 1, 2: 2, 3: 3, 1: 4}


def test_branch_consistency_under_reuse(spark):
    """The failure mode of the first draft: referencing the bucketing
    from two plan branches must not disagree. Joining the helper's
    output to ITSELF (forcing the lineage to execute in two branches of
    one plan) must produce zero rank mismatches."""
    df = _frame(spark, CASES["uniform"])
    a = range_row_number(df, ["x", "k"], "rn").alias("a")
    b = range_row_number(df, ["x", "k"], "rn").alias("b")
    j = a.join(b, F.col("a.k") == F.col("b.k"))
    assert j.filter(F.col("a.rn") != F.col("b.rn")).count() == 0


def test_skewed_range_buckets_balanced(spark):
    """Round-14 equal-count mapping lock (guide §2.5): a single far
    outlier stretching the value range used to drop every other row
    into bucket 0 under the equal-width interpolation — serializing
    the per-bucket windows. The refined histogram must spread the
    concentrated mass across most buckets (the outlier cell stays its
    own atom; correctness is bucket-independent either way)."""
    from pokertracker_cassandra_st_spark.dist_rank import _with_bucket

    n = 4096
    rows = [(float(i) / n, i, 1) for i in range(n)] + [(1e9, n, 1)]
    df = _frame(spark, rows)
    counts = {
        r["_b"]: r["c"]
        for r in _with_bucket(df, "x", 32)
        .groupBy("_b")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    ideal = (n + 1) / 32
    # max bucket within 2x the ideal share (equal-width put ~n rows in
    # bucket 0), and the mass spread over most of the key space
    assert max(counts.values()) <= 2 * ideal
    assert len(counts) >= 24


def _assert_matches_global_row_number(df, n):
    got = range_row_number(df, ["k", "id"], "rn")
    ref = df.withColumn("rn_ref", F.row_number().over(Window.orderBy("k", "id")))
    j = got.join(ref, ["k", "id"])
    assert got.count() == n
    assert j.count() == n
    assert j.filter(F.col("rn") != F.col("rn_ref")).count() == 0


def test_wide_int_key_keeps_every_row(spark):
    # (k - min) * cells overflowed the int key's own type once the key
    # spanned more than ~1M: rows fell out of every bucket and the
    # surviving ranks were shifted
    n = 200_000
    df = spark.range(n).select("id", (F.col("id") * 15).cast("int").alias("k"))
    _assert_matches_global_row_number(df, n)


def test_long_key_spanning_both_signs_keeps_every_row(spark):
    # k - min itself overflows a long when the key spans +-2^62
    n = 20_000
    step = 2**63 // n
    df = spark.range(n).select(
        "id", (F.col("id") * F.lit(step) - F.lit(2**62)).alias("k")
    )
    _assert_matches_global_row_number(df, n)


@pytest.mark.parametrize("helper", ["_b", "_fc", "_mn", "_mx", "_clo", "_chi", "_heavy", "_bmap"])
def test_helper_column_names_are_rejected(spark, helper):
    df = _frame(spark, CASES["tiny"]).withColumn(helper, F.lit(0))
    with pytest.raises(ValueError, match="collide with range_prefix helpers"):
        range_row_number(df, ["x", "k"], "rn")
    with pytest.raises(ValueError, match="collide with range_prefix helpers"):
        range_row_number(_frame(spark, CASES["tiny"]), ["x", "k"], helper)
