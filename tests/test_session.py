"""Session sizing is derived from the host, not from a fixed default."""

from __future__ import annotations

import os

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
