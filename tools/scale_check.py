"""10x scale checkpoint: replicate the sf0.1 tables with shifted keys,
then differentially re-check queries against DuckDB at 6M-row scale.

This is the sweep that caught the two round-1 scale bugs (per-row
BigDecimal in F.round; HUGEINT->double rounding above 2^53) — issues
invisible at the driver's gate scale. Run it after material engine
changes:

    python tools/scale_check.py            # build + DuckDB differential at 10x

Timing at 10x is ``python3 perfbench/run.py --workload x10``, which builds
its fixture with ``build`` below.

Replication rules (keeping join semantics intact):
  * lineitem/orders: orderkey shifted by replica * (max+1) on BOTH
    sides so the join layer scales; o_custkey untouched so customer
    joins still land.
  * events: event_id shifted (stays a global version sequence);
    user_id untouched -> 10x events per key (deeper folds, same key
    count); ns timestamps preserved via pyarrow round-trip.
  * documents: doc_id shifted; every token suffixed with the replica
    tag so replica vocabularies are DISJOINT — near-dup pair structure
    is preserved per replica instead of exploding quadratically across
    replicas (which would time a different workload, duplicate-heavy
    corpora, not a bigger one).
  * embeddings (v3): vec_id shifted; each replica's vectors are ROLLED
    by the replica index (np.roll) — rotation preserves norms and all
    within-replica dot products exactly (per-replica ANN/dedup structure
    identical to 1x) while decorrelating replicas, the vector twin of
    the disjoint-vocabulary rule above. Labels kept, so IVF cells get
    10x deeper, which is the scale axis cell-probing must survive.
  * other tables copied unchanged.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time
from pathlib import Path

import pandas as pd

REPO = Path(__file__).resolve().parent.parent
SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DST = str(REPO / ".scratch" / "sf1x10_v3")
REPLICAS = 10

# Differential coverage at 10x is REGISTRY-WIDE: every query either
# runs the DuckDB differential on the replicated fixture or appears in
# EXCLUDED_10X with its reason (SCALE.md publishes the same table).
# Round 4 re-admitted q_dedup_simhash / q_sim_lsh_hyperplane — the two
# round-3 exclusions — after their band layouts became corpus-size
# adaptive (see llm/dedup.py SIMHASH_LAYOUTS, llm/similarity.py
# PLANES_LADDER); their candidate volumes are printed for the record.
EXCLUDED_10X: dict[str, str] = {}

REPORT_VOLUME = {"q_dedup_simhash", "q_sim_lsh_hyperplane"}

# Aggregate-level differential (VERDICT r12 'Next round #3'): at
# replication factors past 10x, the full row-set differ on the two
# pair-volume monsters exceeds the single-host harness, not the
# engine — q_dedup_simhash's ~74 M candidate pairs blow the driver
# collect + pandas canonicalization (103 GB RSS), q_dedup_near_minhash
# blows spark.driver.maxResultSize ("getResult" in the round-12 sweep
# logs). Their PLANS are the bounded shapes the plan locks assert; the
# check that actually scales compares engine-side aggregates instead:
#   * total pair count,
#   * a 256-bucket histogram keyed on id_a % 256 with per-bucket
#     count + sum(id_a) + sum(id_b) (+ sum of the round-6 jaccard
#     scaled to exact integers, where the query has one),
#   * a SEEDED EXACT SAMPLE — every pair with
#     (id_a * 131 + id_b) % 1009 < 5 (same arithmetic both engines,
#     ~0.5% of pairs) compared row-for-row through the ordinary
#     differ.
# A count/sum mismatch localizes to a bucket; the seeded sample keeps
# a row-level witness. Value columns are listed per query so the
# aggregates stay schema-exact.
AGG_CHECK: dict[str, list[str]] = {
    "q_dedup_simhash": [],
    "q_dedup_near_minhash": ["jaccard"],
}
AGG_CHECK_MIN_REPLICAS = 11  # full row-set differ still runs at <= 10x


def checked_names(registry) -> list[str]:
    return [n for n in registry if n not in EXCLUDED_10X]


def build(dst: str = DST, replicas: int = REPLICAS) -> str:
    if os.path.exists(f"{dst}/_DONE"):
        return dst
    os.makedirs(dst, exist_ok=True)

    import pyarrow as pa
    import pyarrow.parquet as pq

    def stream(path, frames):
        """Write an iterator of same-schema pandas frames as one parquet
        file, one row group per frame — replicas never co-reside in
        memory, so 100x fixtures build in 1x memory."""
        w = None
        for f in frames:
            t = pa.Table.from_pandas(f, preserve_index=False)
            if w is None:
                w = pq.ParquetWriter(path, t.schema)
            w.write_table(t)
        if w is not None:
            w.close()

    li = pd.read_parquet(f"{SRC}/lineitem.parquet")
    o = pd.read_parquet(f"{SRC}/orders.parquet")
    okey_span = int(max(li["l_orderkey"].max(), o["o_orderkey"].max())) + 1
    stream(
        f"{dst}/lineitem.parquet",
        (li.assign(l_orderkey=li["l_orderkey"] + i * okey_span) for i in range(replicas)),
    )
    stream(
        f"{dst}/orders.parquet",
        (o.assign(o_orderkey=o["o_orderkey"] + i * okey_span) for i in range(replicas)),
    )

    ev = pd.read_parquet(f"{SRC}/events.parquet")
    eid_span = int(ev["event_id"].max()) + 1
    # v2: replicas EXTEND the time range (ts shifted by i spans + 1h)
    # instead of re-spanning it — a 10x-longer event history. With
    # same-ts replicas, the id-ordered micro-batch split made every
    # replica after the first arrive wholly behind the watermark, so
    # streaming late-data semantics legitimately dropped them and the
    # batch oracle could never match; a longer history preserves the
    # near-in-order arrival a real log has.
    ts_span = (ev["ts"].max() - ev["ts"].min()) + pd.Timedelta(hours=1)
    stream(
        f"{dst}/events.parquet",
        (
            ev.assign(
                event_id=ev["event_id"] + i * eid_span,
                ts=ev["ts"] + i * ts_span,
            )
            for i in range(replicas)
        ),
    )

    d = pd.read_parquet(f"{SRC}/documents.parquet")
    did_span = int(d["doc_id"].max()) + 1

    def doc_reps():
        for i in range(replicas):
            tag = f"_r{i}"
            yield d.assign(
                doc_id=d["doc_id"] + i * did_span,
                text=d["text"].str.replace(" ", f"{tag} ", regex=False) + tag,
            )

    stream(f"{dst}/documents.parquet", doc_reps())

    import numpy as np

    e = pd.read_parquet(f"{SRC}/embeddings.parquet")
    vid_span = int(e["vec_id"].max()) + 1

    def emb_reps():
        for i in range(replicas):
            r = e.assign(vec_id=e["vec_id"] + i * vid_span)
            if i:
                # roll each vector by the replica index: norms and all
                # within-replica dot products are EXACTLY preserved (same
                # per-replica ANN/dedup structure), replicas decorrelated
                r["embedding"] = r["embedding"].map(
                    lambda v, k=i: np.roll(np.asarray(v), k % len(v))
                )
            yield r

    stream(f"{dst}/embeddings.parquet", emb_reps())

    for t in ("region", "nation", "customer", "supplier", "part"):
        shutil.copyfile(f"{SRC}/{t}.parquet", f"{dst}/{t}.parquet")
    open(f"{dst}/_DONE", "w").close()
    return dst


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default="", help="comma-separated query names: restrict the differential set (for re-checking changed queries, or bounded 100x spot-checks)")
    ap.add_argument("--replicas", type=int, default=REPLICAS, help="replication factor (10 = the standard sweep; 100 = spot-check)")
    ap.add_argument("--dst", default="", help="fixture directory (defaults to the standard 10x path)")
    args = ap.parse_args()

    dst = args.dst or (DST if args.replicas == REPLICAS else str(REPO / ".scratch" / f"sf1x{args.replicas}"))
    sf_dir = build(dst, args.replicas)

    import duckdb

    from pokertracker_cassandra_st_spark.registry import REGISTRY, get_queries
    from pokertracker_cassandra_st_spark.session import get_spark
    from tests.differ import assert_frames_match

    # the differ collects full results driver-side; near-dup pair sets at
    # 10x replication exceed the 1g default. A launch-time conf, so it goes
    # to the JVM before get_spark starts it.
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.driver.maxResultSize=6g pyspark-shell"
    spark = get_spark("scale-check")
    get_queries()

    def fresh_con() -> "duckdb.DuckDBPyConnection":
        c = duckdb.connect()
        # large-rung oracle tuning: insertion-order preservation forces
        # DuckDB to keep ordered intermediates for the big DISTINCT/JOIN
        # pipelines, ballooning temp spill (the round-13 q_dedup_simhash
        # oracle ENOSPC'd the host's disk at 100x); order is irrelevant —
        # the differ sorts.
        c.execute("SET preserve_insertion_order = false")
        for t in (
            "region nation customer supplier part orders lineitem events "
            "documents embeddings"
        ).split():
            c.execute(
                f"CREATE VIEW {t} AS "
                f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        return c

    con = fresh_con()
    failures: list[str] = []
    names = checked_names(REGISTRY)
    if args.only:
        only = set(args.only.split(","))
        names = [n for n in names if n in only]
    for i, name in enumerate(names):
        # DuckDB's spill files (.tmp/duckdb_temp_storage-*) live for the
        # CONNECTION: one connection across a 250-query sweep at 100x
        # accumulated 71 GB and ENOSPC'd the host (round-8 finding).
        # Recycle the connection every few queries so the spill high-water
        # mark stays one-query-sized.
        if i and i % 5 == 0:
            con.close()
            con = fresh_con()
        q = REGISTRY[name]
        t0 = time.perf_counter()
        try:
            if name in AGG_CHECK and args.replicas >= AGG_CHECK_MIN_REPLICAS:
                n_pairs = _agg_differential(spark, con, q, sf_dir, AGG_CHECK[name], name)
                print(
                    f"differential OK  {name:28s} "
                    f"({time.perf_counter() - t0:6.1f}s)"
                    f"  [aggregate-level] pairs={n_pairs}",
                    flush=True,
                )
                continue
            pdf = q.fn(spark, sf_dir).toPandas()
            assert_frames_match(pdf, con.execute(q.oracle).fetchdf(), f"{name}[10x]")
        except Exception as exc:  # keep sweeping; report all at once
            failures.append(f"{name}: {exc}")
            print(f"differential FAIL {name}: {exc}")
            continue
        vol = f"  candidates={len(pdf)}" if name in REPORT_VOLUME else ""
        print(
            f"differential OK  {name:28s} ({time.perf_counter() - t0:6.1f}s){vol}",
            flush=True,
        )
    for name, why in EXCLUDED_10X.items():
        print(f"differential SKIP {name}: {why}")
    con.close()
    if failures:
        raise SystemExit("10x differential failures:\n" + "\n".join(failures))


def _agg_differential(spark, con, q, sf_dir, val_cols, name) -> int:
    """Aggregate-level differential for a (id_a, id_b[, value...]) pair
    query whose full row set exceeds the single-host differ: compare a
    256-bucket histogram of engine-side exact aggregates plus a seeded
    exact row sample (see AGG_CHECK). Returns the total pair count."""
    from pyspark.sql import functions as F

    from tests.differ import assert_frames_match

    res = q.fn(spark, sf_dir)

    # --- histogram: per-(id_a % 256) count + exact integer sums -----
    vexprs = [
        F.sum(F.round(F.col(c) * 1_000_000).cast("long")).alias(f"sum_{c}_e6")
        for c in val_cols
    ]
    hist = (
        res.groupBy((F.col("id_a") % 256).alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.sum("id_a").alias("sum_a"),
            F.sum("id_b").alias("sum_b"),
            *vexprs,
        )
        .toPandas()
    )
    vsql = "".join(
        f", CAST(sum(CAST(round({c} * 1000000) AS BIGINT)) AS BIGINT)"
        f" AS sum_{c}_e6"
        for c in val_cols
    )
    o_hist = con.execute(
        f"WITH __res AS ({q.oracle})\n"
        f"SELECT id_a % 256 AS bucket, CAST(count(*) AS BIGINT) AS n,\n"
        f"       CAST(sum(id_a) AS BIGINT) AS sum_a,\n"
        f"       CAST(sum(id_b) AS BIGINT) AS sum_b{vsql}\n"
        f"FROM __res GROUP BY 1"
    ).fetchdf()
    assert_frames_match(hist, o_hist, f"{name}[agg-hist]")

    # --- seeded exact sample: ~0.5% of pairs, row-for-row ------------
    sample = res.filter(
        (F.col("id_a") * 131 + F.col("id_b")) % 1009 < 5
    ).toPandas()
    o_sample = con.execute(
        f"WITH __res AS ({q.oracle})\n"
        f"SELECT * FROM __res WHERE (id_a * 131 + id_b) % 1009 < 5"
    ).fetchdf()
    assert_frames_match(sample, o_sample, f"{name}[agg-sample]")
    return int(hist["n"].sum())


if __name__ == "__main__":
    sys.path.insert(0, str(REPO))
    main()
