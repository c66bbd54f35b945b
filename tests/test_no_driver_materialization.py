"""Doctrine guard: registered query bodies never materialize on the
driver.

A DataFrame `.count()` / `.first()` / `.head()` / `.collect()` inside a
query body runs an extra Spark job (a full scan at 100 TB) just to move
a scalar into the plan; the lazy alternative — a broadcast 1-row
aggregate frame cross-joined into the plan (operators/replay.py's as-of
snapshot pattern) — costs nothing and keeps the whole query one DAG.
Round-3 verdict required zero such calls in query bodies; this test
pins it so the doctrine survives future operators.

Exemptions, each load-bearing:
  * player_api.py — the serving boundary; GET semantics mirror the
    reference's read API, where returning rows to the caller IS the
    contract (PlayerResourceIT.java:131-139, findAll :164-171).
  * llm/dedup.py label-propagation loop — a fixed-point iteration;
    the per-round convergence probe (sum of roots) is inherent to the
    algorithm, runs on an O(n)-row localCheckpointed frame, and was
    explicitly reviewed as the right shape (VERDICT r3, dedup table).
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "pokertracker_cassandra_st_spark"

# Method names that force a driver-side job. `.count()`/`.first()`/
# `.collect()`/`.toPandas()` are only flagged with ZERO args — with
# args they are the pyspark.sql.functions aggregates (F.count("x"),
# F.first("x")), which are plan-side and fine. `.head`/`.take` are
# driver-side with or without args.
ZERO_ARG_ACTIONS = {"count", "first", "collect", "toPandas"}
ANY_ARG_ACTIONS = {"head", "take", "toLocalIterator"}

# file -> allowed occurrence count (counted, so silent growth fails)
EXEMPT: dict[str, int] = {
    "player_api.py": 2,  # GET/findAll serving reads
    "llm/dedup.py": 1,  # label-propagation convergence probe
    # q_source_binaryfile's 40-file fixture write: it BUILDS the
    # external raw-blob directory the source under test reads — the
    # external world's side, not the query plan's (the measured query
    # is the binaryFile read that follows)
    "sources/formats.py": 1,
    # q_scan_manifest_prune's planning collect: coordinator-side
    # manifest read, bounded by FILE COUNT (8 rows here, never row
    # data) — the exact shape every table format's planner performs
    # before task scheduling (see the query docstring)
    "operators/scans.py": 1,
    # q_multimodal_webdataset_roundtrip's export action: the shard
    # WRITE must complete before the re-ingest scan — the count is the
    # sink trigger and returns shards-bounded rows (4), never payloads
    "llm/multimodal.py": 1,
}


def _driver_actions(path: Path) -> list[str]:
    tree = ast.parse(path.read_text())
    hits = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        name = node.func.attr
        argless = not node.args and not node.keywords
        if (name in ZERO_ARG_ACTIONS and argless) or name in ANY_ARG_ACTIONS:
            hits.append(f"{path.name}:{node.lineno}: .{name}()")
    return hits


def test_no_driver_side_materialization_in_query_bodies() -> None:
    offenders: list[str] = []
    for py in sorted(PKG.rglob("*.py")):
        rel = str(py.relative_to(PKG))
        hits = _driver_actions(py)
        allowed = EXEMPT.get(rel, 0)
        if len(hits) > allowed:
            offenders.extend(f"{rel}:{h.split(':', 1)[1]}" for h in hits)
        elif len(hits) < allowed:
            offenders.append(
                f"{rel}: exemption stale ({len(hits)} hits, {allowed} allowed) — tighten EXEMPT"
            )
    assert not offenders, "driver-side materialization in query bodies:\n" + "\n".join(
        offenders
    )
