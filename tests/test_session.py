"""Session sizing is derived from the host, and the state root from the
checkout, not from fixed defaults."""

from __future__ import annotations

import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

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


def test_state_root_follows_the_checkout(tmp_path):
    # A second copy of the package keeps its sinks, splits and
    # checkpoints in its own tree, never in the first checkout's.
    pkg = "pokertracker_cassandra_st_spark"
    src = Path(__file__).resolve().parents[1] / pkg
    shutil.copytree(src, tmp_path / pkg, ignore=shutil.ignore_patterns("__pycache__"))
    probe = f"""
import sys
sys.path.insert(0, {str(tmp_path)!r})
from {pkg} import catalog
from {pkg}.operators import scans, timeseries
from {pkg}.sources import formats
from {pkg}.streaming import runner
assert catalog.__file__.startswith({str(tmp_path)!r}), catalog.__file__
for m in (catalog, scans, timeseries, formats):
    print(m.scratch_dir("/data/sf0.1", "sink"))
for m in (catalog, runner):
    print(m.SCRATCH)
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=tmp_path, env=env,
        capture_output=True, text=True, check=True,
    ).stdout.split()
    root = f"{tmp_path}/.scratch"
    assert out[:4] == [f"{root}/sink_sf0.1"] * 4
    assert out[4:] == [root] * 2


def test_settable_options_are_the_deployment_overrides():
    # The package reads exactly the two host-sizing overrides of
    # get_spark from the environment; every other setting is a module
    # constant. An environment variable that nothing sets is an option
    # no caller can see.
    read: set[str] = set()
    for path in sorted(Path(session.__file__).resolve().parent.rglob("*.py")):
        text = path.read_text()
        names = re.findall(r'os\.(?:environ\.get\(|environ\[|getenv\()"(\w+)"', text)
        # every environment access is one of those constant-key reads
        assert len(names) == text.count("os.environ") + text.count("os.getenv"), path
        read.update(names)
    assert "SPARK_GRAFT_CKPT_DIR" not in read
    assert read == {"SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY"}
