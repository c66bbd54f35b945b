"""Streaming near-duplicate dedup: micro-batches vs a stored index.

The production LLM-ingest shape (VERDICT r10 'Next round #4'): document
shards arrive as a stream; each micro-batch is matched against the
shingle index accumulated from every PRIOR batch, its matches are
emitted, and its own shingles join the index — so a document is flagged
against the corpus-so-far, never against its own batch (within-shard
pairs are the full-corpus operators' job, exactly like
``q_dedup_incremental``'s shard-vs-shard exclusion, llm/dedup.py).

Exactly-once without sink transactions: both the match append and the
index append are keyed by the batch's doc_id range, so a replayed
micro-batch after a crash overwrites its own partition directory
(idempotent dynamic-partition overwrite) rather than duplicating rows —
the same idempotence-upgrades-at-least-once pattern as mv_sink.py.

Scale notes: the stored index is (shingle, doc_id) pairs plus a
per-doc shingle count — the inverted index a production dedup service
keeps in a lakehouse table. Per batch, the only data-sized shuffle is
batch-shingles ⋈ index-shingles hash-partitioned on the shingle string
(at 100 TB you'd store xxhash64(shingle) instead of the string — same
plan, 8-byte keys; kept as strings here for exact oracle parity).
Candidate counting happens BEFORE any text or vector moves; per-batch
cost is proportional to batch size x shingle overlap, never to corpus
size. Jaccard is verified exactly from stored counts, so recall at the
0.5 threshold is 1.0 by construction (any qualifying pair shares >= 1
shingle and the shingle join enumerates them all).
"""

from __future__ import annotations

import glob
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pokertracker_cassandra_st_spark.streaming import runner

DOCS_RAW_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def _split_documents(
    spark: SparkSession, sf_dir: str, n_files: int, augment: bool = False
) -> str:
    """Materialize documents as n doc_id-contiguous files (cached per
    sf/n/mode), mtime-stamped so the file stream feeds them in id order
    — the documents twin of runner._split_events's ordered mode.

    ``augment=True`` (n_files=4) streams the corpus PLUS a perturbed
    copy of every >=2-token document (id + 1000000, last token
    dropped — q_dedup_incremental's shard device, llm/dedup.py):
    originals arrive in batches 0-1 by doc_id half, their perturbed
    near-duplicates in batches 2-3 — so every later batch carries
    planted near-dups of EARLIER batches and the cross-batch match set
    is deterministic and non-empty at every sf."""
    mode = "aug" if augment else "ord"
    key = f"{os.path.basename(os.path.normpath(sf_dir))}_{n_files}_{mode}"
    out = f"{runner.SCRATCH}/docs_split_v1_{key}"
    marker = f"{out}/_SUCCESS"
    if not os.path.exists(marker):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        mx = docs.agg(F.max("doc_id").alias("_mx"))
        docs = docs.crossJoin(F.broadcast(mx))
        if augment:
            if n_files != 4:
                raise ValueError("augmented split is a 4-batch fixture")
            t = F.split("text", " ")
            half = F.least(
                F.floor(F.col("doc_id") * 2 / (F.col("_mx") + 1)), F.lit(1)
            )
            orig = docs.select(
                "doc_id", "text", "lang", "source", "n_chars",
                half.alias("_b"),
            )
            pert = docs.filter(F.size(t) >= 2).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.array_join(F.slice(t, 1, F.size(t) - 1), " ").alias("text"),
                "lang", "source", "n_chars",
                (half + 2).alias("_b"),
            )
            tagged = orig.unionByName(pert)
        else:
            bucket = F.least(
                F.floor(F.col("doc_id") * n_files / (F.col("_mx") + 1)),
                F.lit(n_files - 1),
            )
            tagged = docs.withColumn("_b", bucket).drop("_mx")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = f"{out}/_tmp"
        (
            tagged.repartition(n_files, "_b")
            .sortWithinPartitions("_b", "doc_id")
            .write.mode("overwrite")
            .partitionBy("_b")
            .parquet(tmp)
        )
        for i in range(n_files):
            parts = glob.glob(f"{tmp}/_b={i}/part-*.parquet")
            if len(parts) != 1:
                raise RuntimeError(
                    f"doc split bucket {i}/{n_files} produced {len(parts)} "
                    "files — micro-batch structure would be broken"
                )
            shutil.move(parts[0], f"{out}/chunk_{i:03d}.parquet")
        shutil.rmtree(tmp)
        t0 = time.time()
        for i in range(n_files):
            os.utime(f"{out}/chunk_{i:03d}.parquet", (t0 + i + 1, t0 + i + 1))
        with open(marker, "w"):
            pass
    return out


def stream_documents(
    spark: SparkSession, sf_dir: str, n_files: int = 4, augment: bool = False
) -> DataFrame:
    """documents as a file-source stream, one id-ordered chunk per
    micro-batch (maxFilesPerTrigger=1)."""
    src = _split_documents(spark, sf_dir, n_files, augment)
    return (
        spark.readStream.schema(DOCS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
    )


def _shingled(docs: DataFrame) -> DataFrame:
    """Distinct 5-gram shingles per doc — identical to the full-corpus
    dedup tiers (llm/dedup.py) so streaming and batch agree on what a
    near-duplicate is."""
    t = F.split("text", " ")
    return (
        docs.select("doc_id", t.alias("t"))
        .filter(F.size("t") >= 5)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("t") - 4),
                        lambda i: F.array_join(F.slice("t", i, 5), " "),
                    )
                )
            ).alias("sh"),
        )
    )


def run_stream_dedup_near(
    spark: SparkSession,
    sf_dir: str,
    work_path: str,
    n_files: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Stream documents through a foreachBatch near-dup matcher; returns
    the accumulated (id_a=prior, id_b=new, jaccard) matches."""
    os.makedirs(runner.SCRATCH, exist_ok=True)
    idx_sh = f"{work_path}/index_shingles"
    idx_n = f"{work_path}/index_counts"
    matches = f"{work_path}/matches"
    ckpt = f"{work_path}/_ckpt"
    shutil.rmtree(work_path, ignore_errors=True)
    empty_sh = spark.createDataFrame([], "doc_id long, sh string, part long")
    empty_n = spark.createDataFrame([], "doc_id long, n long, part long")
    empty_m = spark.createDataFrame(
        [], "id_a long, id_b long, jaccard double, part long"
    )
    empty_sh.write.partitionBy("part").parquet(idx_sh)
    empty_n.write.partitionBy("part").parquet(idx_n)
    empty_m.write.partitionBy("part").parquet(matches)

    def match_and_index(batch_df: DataFrame, epoch_id: int) -> None:
        sh_new = _shingled(batch_df)
        n_new = sh_new.groupBy("doc_id").agg(F.count("*").alias("n"))
        # explicit schemas: before the first batch the index dirs hold
        # zero data files, so inference has nothing to read
        sh_old = spark.read.schema("doc_id long, sh string, part long").parquet(
            idx_sh
        )
        n_old = spark.read.schema("doc_id long, n long, part long").parquet(idx_n)
        common = (
            sh_old.select(F.col("doc_id").alias("id_a"), "sh")
            .join(
                sh_new.select(F.col("doc_id").alias("id_b"), "sh").hint(
                    "shuffle_hash"
                ),
                "sh",
            )
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_common"))
        )
        pairs = (
            common.join(
                n_old.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na")),
                "id_a",
            )
            .join(
                F.broadcast(
                    n_new.select(
                        F.col("doc_id").alias("id_b"), F.col("n").alias("nb")
                    )
                ),
                "id_b",
            )
            .withColumn(
                "jaccard",
                F.round(
                    F.col("n_common")
                    / (F.col("na") + F.col("nb") - F.col("n_common")),
                    6,
                ),
            )
            .filter(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common"))
                >= threshold
            )
            .select("id_a", "id_b", "jaccard")
        )
        # idempotent appends: each batch owns its partition directory —
        # the overwrite mode rides on the WRITER (a session conf set
        # out here never reaches the micro-batch's cloned session, and
        # static overwrite would wipe every prior batch's partition)
        for frame, path in (
            (pairs, matches),
            (sh_new, idx_sh),
            (n_new, idx_n),
        ):
            (
                frame.withColumn("part", F.lit(epoch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("part")
                .parquet(path)
            )

    ev = stream_documents(spark, sf_dir, n_files=n_files, augment=True)
    try:
        q = (
            ev.writeStream.foreachBatch(match_and_index)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return (
        spark.read.schema("id_a long, id_b long, jaccard double, part long")
        .parquet(matches)
        .select("id_a", "id_b", "jaccard")
    )
