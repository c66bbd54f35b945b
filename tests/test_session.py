"""Session sizing is derived from the host, not from a fixed default."""

from __future__ import annotations

import os

from pokertracker_cassandra_st_spark import session
from pokertracker_cassandra_st_spark.session import tune


def test_tune_sizes_shuffle_partitions_from_host_cpus(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        tune(spark)
        got = spark.conf.get("spark.sql.shuffle.partitions")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert got == str(max(len(os.sched_getaffinity(0)), 8))


def test_tune_sizes_shuffle_partitions_from_default_parallelism(spark, monkeypatch):
    # With a SparkContext the session's own task slots decide, whatever
    # the driver host has: a cluster's executors, not the driver's CPUs.
    before = spark.conf.get("spark.sql.shuffle.partitions")
    want = str(max(spark.sparkContext.defaultParallelism, 8))
    try:
        for host_cpus in (1, 64):
            monkeypatch.setattr(session, "_host_cpus", lambda n=host_cpus: n)
            tune(spark)
            assert spark.conf.get("spark.sql.shuffle.partitions") == want, host_cpus
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
