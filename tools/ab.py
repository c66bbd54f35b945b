"""Paired A/B of the benchmark: a parent revision against a change.

    python tools/ab.py --workload stream --pairs 10 --seed 7
    python tools/ab.py --workload player-crud --aa      # the parent against itself

Both sides are exported with ``git archive`` into a temporary directory
outside the repository, so each has its own ``perfbench/.state`` and
``.scratch``. The parent is ``--parent`` (default ``HEAD``); the change
is ``--change``, or by default the working tree as it stands, untracked
files included, ignored ones not. ``--aa`` runs two copies of the parent.

Pair ``i`` runs ``perfbench/run.py --workload W --seed S+i --seconds T``
once in each tree, the parent first on even pairs and the change first
on odd ones, and reads each run's last stdout line (one JSON object).
For every end-to-end metric of ``BENCHMARK.json`` it prints both
medians, the parent's quartiles and IQR, the change's wins and the
verdict. A gain is a *claim* only when the change wins at least nine
tenths of the pairs (ties count for neither) and the medians differ by
more than the parent's IQR (``verdict``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
WIN_SHARE = 0.9


def verdict(parent: list[float], change: list[float], better: str) -> dict:
    """The paired comparison of one metric: ``parent[i]`` and
    ``change[i]`` are pair ``i``'s two runs, ``better`` is ``"lower"``
    or ``"higher"``. Quartiles interpolate between order statistics
    (``statistics.quantiles``, inclusive method)."""
    if len(parent) != len(change) or len(parent) < 2:
        raise ValueError("verdict needs two or more pairs of runs")
    sign = 1 if better == "lower" else -1
    wins = sum(sign * (p - c) > 0 for p, c in zip(parent, change))
    q1, _, q3 = statistics.quantiles(parent, n=4, method="inclusive")
    med_p, med_c = statistics.median(parent), statistics.median(change)
    gain = sign * (med_p - med_c)
    return {
        "pairs": len(parent), "wins": wins,
        "parent_median": med_p, "parent_q1": q1, "parent_q3": q3, "parent_iqr": q3 - q1,
        "change_median": med_c,
        "claim": wins >= WIN_SHARE * len(parent) and gain > q3 - q1,
    }


def _export(rev: str | None, dst: Path) -> None:
    """``rev``'s files into ``dst``; ``None`` is the working tree,
    written to a tree object through a throwaway index."""
    if rev is None:
        with tempfile.TemporaryDirectory() as tmp:
            env = {**os.environ, "GIT_INDEX_FILE": os.path.join(tmp, "index")}

            def git(*args: str) -> str:
                return subprocess.run(["git", *args], cwd=REPO, env=env, check=True,
                                      capture_output=True, text=True).stdout.strip()

            git("read-tree", "HEAD")
            git("add", "-A")
            rev = git("write-tree")
    dst.mkdir(parents=True)
    archive = subprocess.run(["git", "archive", rev], cwd=REPO, check=True,
                             capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", str(dst)], input=archive, check=True)


def _run(tree: Path, workload: str, seed: int, seconds: float) -> dict:
    """One benchmark run in ``tree``: its last stdout line as JSON."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", f"{seconds:g}"],
        cwd=tree, capture_output=True, text=True,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{tree.name} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    return json.loads(lines[-1])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--parent", default="HEAD")
    ap.add_argument("--change", default=None, help="a revision (default: the working tree)")
    ap.add_argument("--aa", action="store_true", help="run the parent against itself")
    args = ap.parse_args(argv)

    root = Path(tempfile.mkdtemp(prefix="ab_"))
    try:
        trees = {"parent": root / "parent", "change": root / "change"}
        _export(args.parent, trees["parent"])
        _export(args.parent if args.aa else args.change, trees["change"])
        bench = json.loads((trees["parent"] / "BENCHMARK.json").read_text())
        metrics = {m["name"]: m["better"] for m in bench["end_to_end"]}
        for wl in args.workload:
            runs: dict[str, list[dict]] = {"parent": [], "change": []}
            for i in range(args.pairs):
                seed = args.seed + i
                for side in ("parent", "change") if i % 2 == 0 else ("change", "parent"):
                    r = _run(trees[side], wl, seed, args.seconds)
                    runs[side].append(r)
                    vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
                    print(f"# {wl} pair {i} seed {seed} {side}: correct={r['correct']} {vals}",
                          flush=True)
            wrong = sum(not r["correct"] for rs in runs.values() for r in rs)
            print(f"\n{wl}: {args.pairs} pairs, seeds {args.seed}-{args.seed + args.pairs - 1}, "
                  f"{wrong} runs not CORRECT{' (A/A)' if args.aa else ''}")
            print(f"{'metric':<10} {'parent':>8} {'change':>8} {'q1':>8} {'q3':>8} "
                  f"{'IQR':>7} {'wins':>6}  verdict")
            for name, better in metrics.items():
                v = verdict([r["metrics"][name]["value"] for r in runs["parent"]],
                            [r["metrics"][name]["value"] for r in runs["change"]], better)
                print(f"{name:<10} {v['parent_median']:8.3f} {v['change_median']:8.3f} "
                      f"{v['parent_q1']:8.3f} {v['parent_q3']:8.3f} {v['parent_iqr']:7.3f} "
                      f"{v['wins']:>3}/{v['pairs']:<2}  {'claim' if v['claim'] else 'no claim'}",
                      flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
