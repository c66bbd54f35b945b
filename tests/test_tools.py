"""The scripts beside the engine: ``tools/scale_check.build``, the
replicated fixture perfbench's x10 workload runs on, ``bench.py``'s
one-line report and ``tools/ab.py``'s verdict rule."""

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


def test_ab_verdict_rule():
    # tools/ab.verdict on pairs shaped like two measured comparisons of
    # 0c8bfa5 with its parent (10 pairs each): player-crud wall_s won
    # 10/10, 7.43 -> 7.05 s, inside a parent IQR of 0.57 (no claim);
    # stream wall_s won 10/10, 5.99 -> 5.26 s, past an IQR of 0.50 (claim)
    verdict = _load(REPO / "tools" / "ab.py").verdict
    crud_parent = [6.9, 7.0, 7.15, 7.15, 7.40, 7.46, 7.72, 7.72, 7.9, 8.3]
    crud = verdict(crud_parent, [p - 0.38 for p in crud_parent], "lower")
    assert (crud["wins"], crud["claim"]) == (10, False)
    assert round(crud["parent_median"], 2) == 7.43 and round(crud["change_median"], 2) == 7.05
    assert round(crud["parent_iqr"], 2) == 0.57
    parent = [5.5, 5.6, 5.75, 5.75, 5.96, 6.02, 6.25, 6.25, 6.4, 6.9]
    stream = verdict(parent, [p - 0.73 for p in parent], "lower")
    assert (stream["wins"], stream["claim"]) == (10, True)
    assert round(stream["change_median"], 2) == 5.26 and round(stream["parent_iqr"], 2) == 0.50
    # 8 of 10 wins is no claim however large the gain; a tie wins
    # nothing; 9 of 10 is a claim
    change = [p - 2 for p in parent]
    change[0], change[1] = parent[0] + 1, parent[1]
    eight = verdict(parent, change, "lower")
    assert (eight["wins"], eight["claim"]) == (8, False)
    change[1] = parent[1] - 2
    assert verdict(parent, change, "lower")["claim"]
    # "higher is better" turns the direction round
    assert verdict(parent, change, "higher")["wins"] == 1
