"""Capture .explain("formatted") for named queries into plans/<round>/.

Usage: python tools/capture_plans.py <suffix> name [name ...] [--sf DIR] [--dir r14] [--unmat]
Writes plans/<round>/<name>_<suffix>.txt for each query.

--unmat stubs the lazy checkpoint barrier (ckpt.materialized, the one
name every call site goes through) to identity, so the captured plan
shows the full pre-barrier lineage instead of opaque Scan ExistingRDD
leaves — the same view tests/test_plans.py::plan_of_unmaterialized
asserts on.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    plans_dir = "r14"
    unmat = False
    names: list[str] = []
    suffix = argv[0]
    i = 1
    while i < len(argv):
        if argv[i] == "--sf":
            sf_dir = argv[i + 1]
            i += 2
        elif argv[i] == "--dir":
            plans_dir = argv[i + 1]
            i += 2
        elif argv[i] == "--unmat":
            unmat = True
            i += 1
        else:
            names.append(argv[i])
            i += 1

    from pokertracker_cassandra_st_spark.plans.inspect import explain_str
    from pokertracker_cassandra_st_spark.registry import REGISTRY, get_queries
    from pokertracker_cassandra_st_spark.session import get_spark

    get_queries()
    if unmat:
        import pokertracker_cassandra_st_spark.ckpt as ckpt

        ckpt.materialized = lambda df: df
    spark = get_spark("capture-plans")
    out_dir = REPO / "plans" / plans_dir
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = REGISTRY[name].fn(spark, sf_dir)
        text = explain_str(df)
        path = out_dir / f"{name}_{suffix}.txt"
        path.write_text(text)
        print(f"wrote {path} ({len(text)} bytes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
