"""Tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import math
import random
import sys
from pathlib import Path

import pandas as pd
import pytest

sys.path[:0] = [str(Path(__file__).resolve().parent)]

import metrics as M  # noqa: E402
import run as R  # noqa: E402
from layers import Tracer  # noqa: E402


# ------------------------------------------------------------- tail rule

def _beyond(samples, value):
    return sum(x > value for x in samples)


@pytest.mark.parametrize("n", [21, 30, 57, 100, 1000])
def test_tail_is_highest_percentile_with_ten_beyond(n):
    samples = random.Random(n).sample(range(10 * n), n)
    value, pct, got_n = M.tail(samples)
    assert got_n == n
    assert _beyond(samples, value) == M.TAIL_BEYOND
    higher = min(x for x in samples if x > value)
    assert _beyond(samples, higher) < M.TAIL_BEYOND
    assert pct == pytest.approx(100 * (n - 10) / n)


def test_tail_at_one_hundred_is_p90():
    samples = list(range(1, 101))
    assert M.tail(samples) == (90, 90.0, 100)


@pytest.mark.parametrize("n", [1, 2, 10, 16, 20])
def test_no_tail_without_ten_samples_beyond_a_rank_above_the_median(n):
    assert M.tail([float(x) for x in range(n)]) is None


def test_tail_of_nothing_raises():
    with pytest.raises(ValueError):
        M.tail([])


# ------------------------------------------------------------ ratio bases

def test_ratio_refuses_a_base_that_is_not_positive():
    assert M.ratio(3, 4) == 0.75
    for base in (0, -1.0):
        with pytest.raises(ValueError):
            M.ratio(1, base)


class _Traced:
    def __init__(self, layer):
        self.layer = layer


def test_per_layer_bases():
    layer = {
        "exec_s": [2.0, 3.0], "exec.run_s": [4.0, 6.0], "construct_s": [1.0, 1.0],
        "exec.tasks": [10, 30], "player.jobs_per_op": [2, 3, 4], "session.tune_s": [0.1, 0.3, 0.2],
    }
    out = R.per_layer(_Traced(layer), passes=2, cores=4, traced_wall=12.0, wall=10.0)
    # executor time over the wall the executors had: exec wall x cores
    assert out["exec.busy_ratio"] == pytest.approx(10.0 / (5.0 * 4))
    # traced wall over untraced wall
    assert out["trace.overhead_ratio"] == pytest.approx(1.2)
    # pass totals are per pass, the rest medians or means
    assert out["construct_s"] == pytest.approx(1.0)
    assert out["exec.tasks"] == pytest.approx(20)
    assert out["player.jobs_per_op"] == pytest.approx(3)
    assert out["session.tune_s"] == pytest.approx(0.2)
    # a layer the workload never reached reads 0, and every name is there
    assert out["stream.batches"] == 0
    assert set(out) == set(R.PER_LAYER)


def test_per_layer_without_execution_has_no_busy_ratio():
    out = R.per_layer(_Traced({}), passes=1, cores=4, traced_wall=1.0, wall=1.0)
    assert out["exec.busy_ratio"] == 0


# --------------------------------------------------- hash canonicalization

def _frame(**cols):
    return pd.DataFrame(cols)


def test_hash_ignores_row_and_column_order():
    a = _frame(k=[1, 2, 3], v=["x", "y", "z"])
    b = _frame(v=["z", "x", "y"], k=[3, 1, 2])
    assert M.frame_hash(a) == M.frame_hash(b)


def test_hash_treats_null_and_nan_alike():
    a = _frame(v=[1.0, None])
    b = _frame(v=[1.0, math.nan])
    assert M.frame_hash(a) == M.frame_hash(b)


def test_hash_keeps_the_sign_of_zero():
    assert M.frame_hash(_frame(v=[0.0])) != M.frame_hash(_frame(v=[-0.0]))


def test_hash_sees_values_and_types():
    base = _frame(k=pd.array([1, 2], dtype="int64"))
    assert M.frame_hash(base) != M.frame_hash(_frame(k=pd.array([1, 3], dtype="int64")))
    assert M.frame_hash(base) != M.frame_hash(_frame(k=pd.array([1, 2], dtype="int32")))
    assert M.frame_hash(base) != M.frame_hash(_frame(j=pd.array([1, 2], dtype="int64")))


# --------------------------------------------------------- player model

class FakeStore:
    """An event log with PlayerStore's semantics, kept in memory."""

    def __init__(self):
        self.events = []  # (id, name, version, payload)

    def _version(self, pid):
        return 1 + max((v for i, _, v, _ in self.events if i == pid), default=-1)

    def create(self, first, last):
        pid = 1 + max((i for i, *_ in self.events), default=0)
        self.events.append((pid, "PlayerCreated", 0, (first, last)))
        return pid

    def update(self, pid, first, last):
        self.events.append((pid, "PlayerUpdated", self._version(pid), (first, last)))

    def delete(self, pid):
        self.events.append((pid, "PlayerDeleted", self._version(pid), None))

    def _projection(self, events):
        latest = {}
        for pid, name, version, payload in events:
            if pid not in latest or version > latest[pid][1]:
                latest[pid] = (name, version, payload)
        return [{"id": pid, "firstName": p[0], "lastName": p[1]}
                for pid, (name, _, p) in latest.items() if name != "PlayerDeleted"]

    def get(self, pid):
        rows = [r for r in self._projection(self.events) if r["id"] == pid]
        return rows[0] if rows else None

    def find_all(self):
        return self._projection(self.events)


class StaleStore(FakeStore):
    """Serves reads from the log as it was before the last write."""

    def get(self, pid):
        rows = [r for r in self._projection(self.events[:-1]) if r["id"] == pid]
        return rows[0] if rows else None


def _drive(store, passes=8, seed=7, schedule=None):
    """Run ``passes`` passes of the mix (or of ``schedule``), each on a
    fresh log like the benchmark does; returns the run and the kinds in
    the order run."""
    run = R.Run(spark=None, seed=seed)
    wl, kinds = R.PlayerWorkload(), []
    for _ in range(passes):
        s, model = store(), M.PlayerModel()
        for kind in schedule or M.player_schedule(run.rng):
            op = M.next_player_op(run.rng, model, kind)
            kinds.append(kind)
            run.attempt(lambda op=op: wl._call(run, s, model, op))
    return run, kinds


PASS_LEN = M.OPENING_CREATES + sum(M.PASS_MIX.values())


def test_a_correct_store_passes_every_check():
    run, kinds = _drive(FakeStore)
    assert run.attempted == 8 * PASS_LEN
    assert run.failures == []
    assert set(kinds) == {*M.WRITES, *M.READS}


def test_the_warm_up_runs_every_kind_against_live_ids():
    run, kinds = _drive(FakeStore, passes=1, schedule=M.WARM_UP)
    assert run.failures == []
    assert set(kinds) == {*M.WRITES, *M.READS}


def test_every_pass_has_the_same_mix_and_a_write_median():
    _, kinds = _drive(FakeStore, passes=3)
    for i in range(0, len(kinds), PASS_LEN):
        one = kinds[i:i + PASS_LEN]
        assert one[:M.OPENING_CREATES] == ["create"] * M.OPENING_CREATES
        writes = sum(k in M.WRITES for k in one)
        # about as many reads as writes, and enough more writes that the
        # median of a pass whose reads are faster is not its fastest write
        assert writes == 14 and len(one) - writes == 10
    assert kinds[:PASS_LEN] != kinds[PASS_LEN:2 * PASS_LEN]  # the seed orders each pass


def test_an_injected_stale_read_counts_as_a_failure():
    run, _ = _drive(StaleStore)
    assert run.attempted == 8 * PASS_LEN
    assert run.failures, "a stale get must be counted"
    assert all("WrongAnswer" in f for f in run.failures)
    assert 0 < M.ratio(len(run.failures), run.attempted) < 1


def test_the_op_mix_is_a_function_of_the_seed():
    assert _drive(FakeStore, seed=3)[1] == _drive(FakeStore, seed=3)[1]
    assert _drive(FakeStore, seed=3)[1] != _drive(FakeStore, seed=4)[1]


def test_a_wrong_id_assignment_is_caught():
    model = M.PlayerModel()
    assert M.check_player_op(model, ("create", "a", "b"), 1)
    assert not M.check_player_op(model, ("create", "a", "b"), 5)


# ------------------------------------------------------------- fixture

def test_fixture_compare_finds_a_changed_table(tmp_path):
    import pyarrow.parquet as pq

    import gen

    a, b = gen.build(str(tmp_path / "a")), gen.build(str(tmp_path / "b"))
    assert gen.differences(a, b) == []  # the same draws every time
    region = pq.read_table(f"{b}/region.parquet")
    pq.write_table(region.slice(1), f"{b}/region.parquet")
    assert gen.differences(a, b) == ["region"]


# ------------------------------------------------------------ the tracer

def test_self_time_is_span_minus_children():
    t = Tracer()
    with t.span("invoke", "op") as inv:
        with t.span("construct", "op") as c:
            pass
        with t.span("execute", "op") as e:
            pass
    own = t.self_times()
    assert c["parent"] == inv["id"] and e["parent"] == inv["id"]
    whole = inv["end"] - inv["start"]
    parts = (c["end"] - c["start"]) + (e["end"] - e["start"])
    assert own[inv["id"]] == pytest.approx(whole - parts)
    assert own[c["id"]] == pytest.approx(c["end"] - c["start"])


# ------------------------------------------------------ BENCHMARK.json

def test_benchmark_json_names_what_run_reports():
    spec = json.loads((R.REPO / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == R.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == R.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(R.WORKLOADS)
