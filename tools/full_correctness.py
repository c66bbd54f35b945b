"""Full-registry correctness artifact — the staleness answer.

The driver's gate (CORRECTNESS_r0N.json) verifies only the first 50
registry entries (the fixed registry.WINDOW); every other query would
otherwise have no current verification. This tool runs the SAME differential
(tests/differ.assert_frames_match, same sf as the driver's gate) over
the ENTIRE registry and writes CORRECTNESS_LOCAL_FULL_r0N.json with a
per-query value hash, so each round ships a current, hash-pinned
verification of every query — in-window or not. A hash change between
rounds for an untouched query is a regression signal even without a
driver row.

Usage: python tools/full_correctness.py <round> [sf_dir]
"""

from __future__ import annotations

import hashlib
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def value_hash(pdf) -> str:
    """Order/column-name-canonical hash of a result frame (mirrors the
    differ's canonicalization: columns sorted by name, rows sorted by
    all columns, values rendered to stable strings)."""
    cols = sorted(pdf.columns)
    c = pdf[cols].copy()
    rendered = c.astype(str)
    rows = sorted("\x1f".join(r) for r in rendered.itertuples(index=False, name=None))
    h = hashlib.sha256()
    h.update(("\x1e".join(cols) + "\x1d").encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def main() -> int:
    rnd = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    import duckdb

    from pokertracker_cassandra_st_spark.registry import REGISTRY, get_queries
    from pokertracker_cassandra_st_spark.session import get_spark
    from tests.differ import assert_frames_match, duck_connection

    spark = get_spark("full-correctness")
    get_queries()
    con = duck_connection(sf_dir)

    out: dict[str, dict] = {}
    for name in sorted(REGISTRY):
        q = REGISTRY[name]
        t0 = time.monotonic()
        rec: dict = {"oracle": q.oracle is not None}
        try:
            pdf = q.fn(spark, sf_dir).toPandas()
            rec["rows"] = int(len(pdf))
            rec["value_hash"] = value_hash(pdf)
            if q.oracle is not None:
                odf = con.execute(q.oracle).fetchdf()
                assert_frames_match(pdf, odf, name)
                rec["match"] = True
            else:
                rec["match"] = None  # rows-only
        except Exception as e:  # noqa: BLE001 — artifact records the failure
            rec["match"] = False
            rec["err"] = f"{type(e).__name__}: {e}"[:500]
        rec["sec"] = round(time.monotonic() - t0, 2)
        out[name] = rec
        status = {True: "ok", False: "FAIL", None: "rows-only"}[rec["match"]]
        print(f"{name}: {status} ({rec['sec']}s)", flush=True)

    n_fail = sum(1 for r in out.values() if r["match"] is False)
    artifact = {
        "round": rnd,
        "sf_dir": sf_dir,
        "n_queries": len(out),
        "n_fail": n_fail,
        "queries": out,
    }
    path = REPO / f"CORRECTNESS_LOCAL_FULL_r{rnd:02d}.json"
    path.write_text(json.dumps(artifact, indent=1))
    print(f"wrote {path} ({len(out)} queries, {n_fail} failures)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
