"""Focused locks for the round-14 optimization changes.

Pins: (a) the reliable barrier (taken when the session has a checkpoint
dir) produces identical results and never touches the CacheManager,
(b) the native seeded MinHash family fully replaced the spark.ml stage
(no ScalaUDF / vector stage in the plan) with deterministic
coefficients, (c) the dist_rank equal-count mapping stays
monotone/deterministic (the skew-balance property itself is locked in
test_dist_rank).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pokertracker_cassandra_st_spark.plans.inspect import explain_str
from pokertracker_cassandra_st_spark.registry import REGISTRY, get_queries

get_queries()


def test_barrier_reliable_with_checkpoint_dir_value_identical_and_cache_free(
    spark, sf_dir, tmp_path
):
    # ckpt.materialized: a checkpoint dir on the session switches the
    # barrier to a reliable checkpoint — that changes WHERE barrier
    # partitions live, never what any query computes, and must never
    # register anything with the CacheManager (plan-keyed entries would
    # survive across runs = cross-run result caching)
    fn = REGISTRY["q_agg_rfm"].fn
    base = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert base
    sc = spark.sparkContext
    assert sc._jsc.sc().getCheckpointDir().isEmpty()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        got = sorted(map(tuple, fn(spark, sf_dir).collect()))
        assert any((tmp_path / "ckpt").rglob("part-*")), "no reliable checkpoint written"
    finally:
        # the session is shared: later tests must see no checkpoint dir
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))
    assert sc._jsc.sc().getCheckpointDir().isEmpty()
    assert got == base
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_minhash_native_family_no_scala_udf(spark, sf_dir, monkeypatch):
    # r14: the spark.ml HashingTF + MinHashLSH stage is replaced by
    # native columnar arithmetic — the full (unmaterialized) plan must
    # contain the xxhash64 shingle hash and NO UDF invocation at all
    # (the ml transform surfaced as 28 ScalaUDF calls in the r13 plan)
    import pokertracker_cassandra_st_spark.ckpt as ckpt

    monkeypatch.setattr(ckpt, "materialized", lambda df: df)
    plan = explain_str(REGISTRY["q_dedup_near_minhash"].fn(spark, sf_dir))
    assert "xxhash64" in plan
    assert "UDF" not in plan
    assert "MinHashLSH" not in plan


def test_minhash_coefficients_deterministic_and_in_range():
    from pokertracker_cassandra_st_spark.llm.dedup import (
        _MINHASH_PRIME,
        _minhash_coeffs,
    )

    c1, c2 = _minhash_coeffs(), _minhash_coeffs()
    assert c1 == c2 and len(c1) == 16
    for a, b in c1:
        assert 1 <= a < _MINHASH_PRIME
        assert 0 <= b < _MINHASH_PRIME


def test_with_bucket_monotone_and_branch_consistent(spark):
    # the refined equal-count mapping must stay monotone in the key and
    # agree with itself across plan branches (the dist_rank
    # branch-consistency contract the equal-width form guaranteed)
    import pandas as pd

    from pokertracker_cassandra_st_spark.dist_rank import _with_bucket

    rows = [(float(i % 100) ** 2, i) for i in range(3000)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["x", "k"]))
    out = _with_bucket(df, "x", 32).select("x", "k", "_b")
    pairs = out.alias("a").join(out.alias("b"), F.col("a.x") < F.col("b.x"))
    assert pairs.filter(F.col("a._b") > F.col("b._b")).count() == 0
    # same value -> same bucket, evaluated in a second branch
    again = _with_bucket(df, "x", 32).select("x", F.col("_b").alias("_b2"))
    j = out.join(again, "x")
    assert j.filter(F.col("_b") != F.col("_b2")).count() == 0
