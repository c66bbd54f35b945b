"""The sf0.1 fixture of the engine's test data, regenerated value for value.

The engine's test data (``TESTDATA.md``) comes from a seeded numpy
generator: one ``default_rng(42)`` stream drawn table after table. This
module repeats those draws in the same order, with the same bounds and
category lists, so it writes the same ten tables that sf0.1 holds, row
for row and value for value. The benchmark builds its inputs from source
with it instead of depending on a data directory outside the checkout.

    python3 perfbench/gen.py OUT [--compare DIR]

writes the fixture into OUT and, with ``--compare``, checks every table
of OUT against the one of the same name in DIR and exits 1 on a
difference.
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
SEED = 42
N_CUST, N_SUPP, N_PART, N_ORD, N_LINE = 15_000, 1_000, 20_000, 150_000, 600_000
N_EVENTS, N_USERS, N_DOCS, N_VECS = 100_000, 1_500, 5_000, 2_000

# Category lists in the order the generator indexes them.
_SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
_PTYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
_STATUS = ["O", "F", "P"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_RETURNFLAG = ["R", "A", "N"]
_LINESTATUS = ["O", "F"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_WORDS = (
    "the a spark query table join group filter window data order customer part "
    "line fast slow big small hash sort merge scan agg stream batch vector key "
    "value row column"
).split()
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def _pick(rng, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.array(choices)[rng.integers(0, len(choices), n)], pa.string())


def _uniform_2dp(rng, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2), pa.float64())


def _days(rng, start: str, span: int, n: int) -> pa.Array:
    days = np.datetime64(start, "D") + rng.integers(0, span, n)
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _documents(rng) -> dict:
    words = np.array(_WORDS)
    # per document its length is drawn first (the inner call), then its words
    text = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))])
            for _ in range(N_DOCS)]
    # near duplicates: another document plus one token, applied in order
    targets = rng.choice(N_DOCS, N_DOCS // 20, replace=False)
    sources = rng.integers(0, N_DOCS, N_DOCS // 20)
    for i, j in zip(targets, sources):
        text[i] = text[j] + " dup"
    return {
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": _pick(rng, _LANGS, N_DOCS),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    }


def tables() -> dict[str, dict]:
    """The fixture's columns by table, drawn in the generator's order."""
    rng = np.random.default_rng(SEED)
    out = {
        "region": {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        },
    }
    out["customer"] = {
        "c_custkey": pa.array(np.arange(N_CUST), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUST)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUST), pa.int32()),
        "c_acctbal": _uniform_2dp(rng, -999.99, 9999.99, N_CUST),
        "c_mktsegment": _pick(rng, _SEGMENTS, N_CUST),
    }
    out["supplier"] = {
        "s_suppkey": pa.array(np.arange(N_SUPP), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPP)]),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPP), pa.int32()),
        "s_acctbal": _uniform_2dp(rng, -999.99, 9999.99, N_SUPP),
    }
    adj, noun = np.array(_ADJ)[rng.integers(0, 8, N_PART)], np.array(_NOUN)[rng.integers(0, 8, N_PART)]
    out["part"] = {
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun), pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)]),
        "p_type": _pick(rng, _PTYPES, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + np.arange(N_PART) % 1000 / 10, 2), pa.float64()),
    }
    out["orders"] = {
        "o_orderkey": pa.array(np.arange(N_ORD), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUST, N_ORD), pa.int64()),
        "o_orderstatus": _pick(rng, _STATUS, N_ORD),
        "o_totalprice": _uniform_2dp(rng, 1000, 500000, N_ORD),
        "o_orderdate": _days(rng, "1995-01-01", 2405, N_ORD),
        "o_orderpriority": _pick(rng, _PRIORITIES, N_ORD),
    }
    out["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, N_ORD, N_LINE), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINE), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPP, N_LINE), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINE), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, N_LINE).astype(float), pa.float64()),
        "l_extendedprice": _uniform_2dp(rng, 900, 105000, N_LINE),
        "l_discount": _uniform_2dp(rng, 0, 0.1, N_LINE),
        "l_tax": _uniform_2dp(rng, 0, 0.08, N_LINE),
        "l_returnflag": _pick(rng, _RETURNFLAG, N_LINE),
        "l_linestatus": _pick(rng, _LINESTATUS, N_LINE),
        "l_shipdate": _days(rng, "1995-01-02", 2499, N_LINE),
    }
    # event times: sorted uniform seconds over 30 days, held as ns, stored as us
    ns = (np.sort(rng.uniform(0, 30 * 86400, N_EVENTS)) * 1e9).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (ns // 1000).astype("timedelta64[us]")
    out["events"] = {
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, N_EVENTS),
        "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
    }
    out["documents"] = _documents(rng)
    vecs = rng.standard_normal((N_VECS, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = {
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.field("element", pa.float32()))),
        "label": pa.array(rng.integers(0, 10, N_VECS), pa.int32()),
    }
    return out


def build(dst: str) -> str:
    """Write the fixture into ``dst`` (created) and return ``dst``."""
    os.makedirs(dst, exist_ok=True)
    for name, cols in tables().items():
        pq.write_table(pa.table(cols), os.path.join(dst, f"{name}.parquet"))
    return dst


def differences(got: str, want: str) -> list[str]:
    """Tables of ``got`` whose schema or values differ from ``want``'s."""
    def read(d, name):
        return pq.read_table(os.path.join(d, f"{name}.parquet")).replace_schema_metadata(None)

    return [name for name in TABLES if not read(got, name).equals(read(want, name))]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("out")
    ap.add_argument("--compare", metavar="DIR", help="a fixture directory to check against")
    args = ap.parse_args()
    build(args.out)
    if args.compare:
        diff = differences(args.out, args.compare)
        print("differ: " + " ".join(diff) if diff else f"all {len(TABLES)} tables equal")
        return 1 if diff else 0
    return 0


if __name__ == "__main__":
    sys.exit(main())
