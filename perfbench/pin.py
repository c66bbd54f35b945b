#!/usr/bin/env python3
"""Pin the result hashes the benchmark checks every run against.

    python3 perfbench/pin.py              # sf0.1 (batch set + stream)
    python3 perfbench/pin.py --x10        # and the x10 batch set

Each output is first compared with its DuckDB oracle through
``tests/differ.assert_frames_match``; only an output that matches is
pinned. Writes ``expected.json`` next to this file.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys

import run as R


def pin(spark, fixture: str, names: tuple[str, ...]) -> dict[str, str]:
    from pokertracker_cassandra_st_spark.registry import REGISTRY
    from tests.differ import assert_frames_match, duck_connection

    sf = R.build_fixture(fixture)
    con = duck_connection(sf)
    hashes = {}
    for q in names:
        pdf = REGISTRY[q].fn(spark, sf).toPandas()
        assert_frames_match(pdf, con.execute(REGISTRY[q].oracle).fetchdf(), q)
        hashes[q] = R.M.frame_hash(pdf)
        print(f"{fixture} {q} rows={len(pdf)} {hashes[q][:12]}", flush=True)
    con.close()
    return hashes


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--x10", action="store_true", help="also pin the x10 fixture")
    args = ap.parse_args()

    R.size_host()
    from pokertracker_cassandra_st_spark.registry import get_queries
    from pokertracker_cassandra_st_spark.session import get_spark
    from pokertracker_cassandra_st_spark.streaming import runner

    get_queries()
    spark = get_spark("perfbench-pin")
    # a split cache left by an earlier fixture would be read as this one's
    shutil.rmtree(R.STATE / "stream", ignore_errors=True)
    runner.SCRATCH = str(R.STATE / "stream")
    sampler = R.RssSampler().start()
    try:
        expected = {"sf0.1": pin(spark, "sf0.1", (*R.BATCH_SET, R.STREAM_QUERY))}
        if args.x10:
            expected["x10"] = pin(spark, "x10", R.BATCH_SET)
    finally:
        sampler.stop()
        R.shutdown(spark, sampler.seen)
    with open(R.BENCH / "expected.json", "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
