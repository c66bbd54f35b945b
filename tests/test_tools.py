"""The scripts beside the engine: ``tools/scale_check.build``, the
replicated fixture perfbench's x10 workload runs on, and ``bench.py``'s
one-line report."""

from __future__ import annotations

import importlib.util
import json
import os
from pathlib import Path

import pandas as pd

from tests.conftest import SMOKE_SF_DIR

REPO = Path(__file__).resolve().parent.parent

# table -> the key each replica shifts
SHIFTED = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def _load(path: Path):
    spec = importlib.util.spec_from_file_location(path.stem, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_scale_check_build_replicates_with_disjoint_keys(tmp_path, monkeypatch):
    scale_check = _load(REPO / "tools" / "scale_check.py")
    monkeypatch.setattr(scale_check, "SRC", SMOKE_SF_DIR)
    dst = str(tmp_path / "x2")
    assert scale_check.build(dst, 2) == dst
    assert os.path.exists(f"{dst}/_DONE")
    for t, key in SHIFTED.items():
        src = pd.read_parquet(f"{SMOKE_SF_DIR}/{t}.parquet")[key]
        out = pd.read_parquet(f"{dst}/{t}.parquet")[key]
        n = len(src)
        assert len(out) == 2 * n, t
        first, second = out[:n].reset_index(drop=True), out[n:].reset_index(drop=True)
        assert first.equals(src), t
        shift = (second - first).unique()
        assert len(shift) == 1 and shift[0] > src.max(), t
        assert not set(first) & set(second), t
    # a finished fixture is returned as it is, without reading the source
    monkeypatch.setattr(scale_check, "SRC", str(tmp_path / "missing"))
    assert scale_check.build(dst, 2) == dst


def test_bench_prints_one_json_line(spark, monkeypatch, capsys):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SMOKE_SF_DIR)
    bench = _load(REPO / "bench.py")
    bench.main()
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 1
    rec = json.loads(lines[0])
    assert set(rec) == {
        "metric", "value", "unit", "stat", "queries",
        "stream_replay_sec", "stream_replay_batches", "sf",
    }
    assert rec["stat"] == "median of 3 runs after 1 warm-up"
    assert list(rec["queries"]) == bench.HEADLINE and len(bench.HEADLINE) == 13
    assert all(v > 0 for v in rec["queries"].values())
    assert rec["stream_replay_sec"] > 0 and rec["stream_replay_batches"]
    assert rec["sf"] == 0.001
