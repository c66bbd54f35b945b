"""Streaming near-duplicate dedup: micro-batches vs a stored index.

The production LLM-ingest shape (VERDICT r10 'Next round #4'): document
shards arrive as a stream; each micro-batch is matched against the
shingle index accumulated from every PRIOR batch, its matches are
emitted, and its own shingles join the index — so a document is flagged
against the corpus-so-far, never against its own batch (within-shard
pairs are the full-corpus operators' job, exactly like
``q_dedup_incremental``'s shard-vs-shard exclusion, llm/dedup.py).

Exactly-once without sink transactions: both the match append and the
index append are keyed by the batch's epoch id, so a replayed
micro-batch after a crash overwrites its own partition directory
(idempotent dynamic-partition overwrite) rather than duplicating rows —
the same idempotence-upgrades-at-least-once pattern as mv_sink.py.
The document stream (``runner.stream_documents``: the corpus split into
id-ordered chunks plus planted near-duplicates) and the run to
completion (``runner.run_foreach_batch``) are runner.py's; this module
is only the matcher.

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

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pokertracker_cassandra_st_spark.exprs import word_ngrams
from pokertracker_cassandra_st_spark.streaming import runner


def _shingled(docs: DataFrame) -> DataFrame:
    """(doc_id, sh): each doc's distinct word-5-grams, built by the same
    ``exprs.word_ngrams`` as the full-corpus dedup tiers (llm/dedup.py),
    so streaming and batch agree on what a near-duplicate is. A doc
    shorter than one shingle has no rows."""
    return docs.select("doc_id", F.split("text", " ").alias("t")).select(
        "doc_id", F.explode(F.array_distinct(word_ngrams("t", 5))).alias("sh")
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
    idx_sh = f"{work_path}/index_shingles"
    idx_n = f"{work_path}/index_counts"
    matches = f"{work_path}/matches"
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

    runner.run_foreach_batch(
        runner.stream_documents(spark, sf_dir, n_files=n_files, augment=True),
        match_and_index,
    )
    return (
        spark.read.schema("id_a long, id_b long, jaccard double, part long")
        .parquet(matches)
        .select("id_a", "id_b", "jaccard")
    )
