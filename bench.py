#!/usr/bin/env python
"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "stat": "...", "queries": {...},
   "stream_replay_sec": N, "stream_replay_batches": [...], "sf": ...}

Each query is timed as one perfbench operation (``perfbench/run.py``'s
``invoke``: construct, then execute to the noop sink) on the session
``session.get_spark`` sizes from the host: one warm-up, then the median of
three timed runs.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from perfbench.run import STREAM_QUERY, Run, SparkProbe, _progress_listener, invoke  # noqa: E402

HEADLINE = [
    "q_replay_projection",  # the reference's core pipeline
    "q_agg_groupby",        # TPC-H Q1 shape
    "q_join_sortmerge",     # large-large join
    "q_join_broadcast",     # dim enrichment
    "q_win_running",        # windowed cumulative
    "q_topk",               # TakeOrderedAndProject
    "q_udtf_explode",       # token fan-out + count
    "q_dedup_exact",        # content-hash dedup
    "q_text_tfidf",         # tokenize + join + window
    "q_sim_topk",           # brute-force vector top-k
    "q_tpch_q3_shape",      # 3-way join + top-k
    "q_tpch_q5_shape",      # 6-way star join
    "q_pipeline_curate",    # fused LLM curation pipeline
]
RUNS = 3
STAT = f"median of {RUNS} runs after 1 warm-up"


def median_wall(run: Run, name: str, sf_dir: str) -> float:
    invoke(run, name, sf_dir)  # warm-up: JIT, class loading, parquet footers
    return statistics.median(invoke(run, name, sf_dir)[0] for _ in range(RUNS))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(os.path.normpath(sf_dir)).replace("sf", "") or 0.1)

    from pokertracker_cassandra_st_spark.registry import get_queries
    from pokertracker_cassandra_st_spark.session import get_spark

    get_queries()
    run = Run(get_spark("pokertracker-bench"), seed=0)
    times = {name: round(median_wall(run, name, sf_dir), 3) for name in HEADLINE}

    # The stateful stream replay (micro-batches, state store, checkpoints)
    # is a different axis from batch SQL and would swamp the headline
    # total, so it is reported on its own: one warm-up replay, then one
    # timed replay with each micro-batch's progress recorded.
    invoke(run, STREAM_QUERY, sf_dir)
    listener = _progress_listener()
    run.spark.streams.addListener(listener)
    try:
        stream_sec = invoke(run, STREAM_QUERY, sf_dir)[0]
        SparkProbe(run.spark).settle()  # progress events arrive on the listener bus
    finally:
        run.spark.streams.removeListener(listener)

    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": round(sum(times.values()), 3),
                "unit": "sec",
                "stat": STAT,
                "queries": times,
                "stream_replay_sec": round(stream_sec, 3),
                "stream_replay_batches": listener.progress,
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
