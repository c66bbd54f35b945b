"""Second differential sweep on ADVERSARIAL data: heavy key skew and
injected NULLs.

The driver's fixture is clean (no nulls, mild skew); real 100 TB data
is not. This builds a sibling table set where:
  * user 0 owns ~60% of all events (celebrity-key skew),
  * ~10% of props and ~5% of value are NULL,
  * one user has a single event, one window partition is huge;
then re-runs EVERY oracle-checked query that reads `events` against the
same DuckDB oracle on the same files. Equivalence must hold on ugly
data too — null three-valued logic, null-safe aggregation, skewed
window partitions.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pytest

from pokertracker_cassandra_st_spark.catalog import SCRATCH, TABLES
from pokertracker_cassandra_st_spark.registry import REGISTRY, get_queries

from tests.differ import assert_frames_match, duck_connection

get_queries()

BASE = "/root/testdata/sf0.001"
ADV = f"{SCRATCH}/adversarial"

# batch queries over events that must survive skew+nulls
EVENT_QUERIES = [
    "q_filter_eq",
    "q_agg_maxby",
    "q_replay_projection",
    "q_replay_tombstone_anti",
    "q_scd2_history",
    "q_win_laglead",
    "q_win_moving",
    "q_win_range_frame",
    "q_join_asof",
    "q_fn_json",
    "q_fn_map",
    "q_udf_python",
    "q_udf_arrow",
    "q_udf_pandas",
    "q_udaf_pandas",
    "q_ts_gapfill",
    "q_ts_downsample",
    "q_ts_sessionize",
    "q_join_asof_tolerance",
    "q_replay_cdc_diff",
    # late round 3
    "q_ts_ewma",
    "q_ts_anomaly",
    "q_win_islands",
    "q_join_salted",
    "q_replay_asof_snapshot",
    "q_agg_entropy",
    "q_agg_crosstab",
    "q_sample_weighted",
    # round 4
    "q_ts_cross_correlation",
    "q_agg_gini",
    "q_agg_mannwhitney",
    "q_agg_kstest",
    "q_ts_ohlc",
    "q_replay_bitemporal",
    "q_ts_seasonal",
    # round 5: the round-4 final-commit additions (ADVICE r4)
    "q_ts_changepoint",
    "q_fn_variant",
    "q_agg_hll_intersection",
    # round-5 additions (user_id skew stresses the bitmap buckets and
    # the ACF centering; NULL value rides the text-log '-' marker)
    "q_ts_acf",
    "q_agg_bitmap",
    "q_source_text_log",
    "q_win_pattern_match",
    "q_replay_snapshot_incremental",
    "q_fn_tz",
    # round 7: data-quality family — NULL value rows land in a NULL
    # drift bucket (three-valued concat) and are rz-NULL in the
    # outlier screen; celebrity-key skew stresses both grouped
    # percentile passes
    "q_dq_drift_psi",
    "q_dq_outliers",
    # round 7 batch 2: the Holt fold meets gap-heavy skewed series
    # (4k events over 720 hours -> mostly-zero gap-filled counts)
    "q_ts_holtwinters",
    # round 7 batch 3: freshness lag arithmetic under celebrity skew
    # (user 0's burst dominates the high-water mark)
    "q_dq_freshness",
    # round 8: the seeded-hash reservoir under celebrity skew (one type
    # dominated by one user changes nothing — the hash key is uniform);
    # volume anomaly / backtest over skewed, gap-heavy daily series
    "q_sample_reservoir",
    "q_dq_volume_anomaly",
    "q_ts_backtest",
    # round 8 batch 2: trig/geocell arithmetic under skewed ids
    "q_fn_geo",
    # round 9: time-weighted average where NULL-value segments drop
    # from both integral and covered time (three-valued CASE parity)
    # and same-second repeats carry zero weight
    "q_ts_twa",
    # round 9 batch 5: counter rate where random gauge values reset
    # constantly (decrease => reset branch) and NULL samples pair
    # across the gap
    "q_ts_rate",
    # round 9 batch 6: decayed engagement where NULL values are
    # excluded before weighting and celebrity skew concentrates one
    # user's terms (long-sum bound still holds)
    "q_agg_decay_sum",
    # round 10: local maxima / SMA crossover where NULL values break
    # peak eligibility (three-valued >) and shrink both rolling sums
    # identically; IP arithmetic and the prefix-blocked CIDR join over
    # skewed ids (celebrity user 0 concentrates one /16 cell — the
    # residual range filter must still agree with the naive theta
    # oracle)
    "q_ts_peaks",
    "q_ts_crossover",
    "q_fn_ip",
    "q_join_cidr",
    # round 10 batch 3: point-in-time lookup under celebrity skew (one
    # user's version chain is 60% of the log — per-key residual filter
    # must hold) and max drawdown where NULL samples neither reset the
    # peak nor count as troughs (NULLS LAST pinned on the rank)
    "q_join_scd2_pointintime",
    "q_ts_drawdown",
    # round 10 batch 4: CUPED where NULL values contribute 0 to the
    # post-period metric (CASE arm parity) and celebrity skew puts 60%
    # of both periods on one user (one extreme (x, y) point — the
    # moments must stay exact)
    "q_agg_cuped",
    # round 13: effect size / BH-FDR where NULL values drop rows from
    # the cents moments (and one type could tie a==b in parity);
    # seasonal-naive where gap-heavy skewed hourly series leave most
    # lag-168 frames empty; percentile band over the same sparse days
    "q_agg_effect_size",
    "q_agg_fdr_bh",
    "q_ts_seasonal_naive_error",
    "q_ts_percentile_band",
    "q_stream_gap_detect",
]


@pytest.fixture(scope="module")
def adv_dir():
    os.makedirs(ADV, exist_ok=True)
    rng = np.random.RandomState(7)
    n = 4000
    uid = np.where(rng.rand(n) < 0.6, 0, rng.randint(1, 40, size=n)).astype("int64")
    uid[0] = 999  # a user with exactly one event
    ts = pd.Timestamp("2024-02-01") + pd.to_timedelta(
        np.sort(rng.randint(0, 30 * 24 * 3600, size=n)), unit="s"
    )
    value = np.round(rng.uniform(0.01, 500, size=n), 2)
    value[rng.rand(n) < 0.05] = np.nan
    # the GLOBALLY LATEST event carries a NULL value (every max-ts row,
    # so ties can't mask it): q_agg_decay_sum must still anchor its
    # high-water mark on the unfiltered corpus (ADVICE r9, high — the
    # pre-fix Spark side anchored on the value-filtered frame and this
    # case only passed by seed luck)
    value[ts == ts.max()] = np.nan
    props = np.array([f'{{"k": {int(k)}}}' for k in rng.randint(0, 100, size=n)], dtype=object)
    # valid JSON objects LACKING 'k': is_json must still be true and
    # k-derived columns NULL (q_fn_json validity is a parse check, not
    # key presence); kept as objects so q_fn_map's json_keys oracle
    # stays total (DuckDB json_keys errors on malformed JSON — that
    # case is covered by test_fn_json_validity on a dedicated table)
    lacking = rng.rand(n) < 0.08
    props[lacking] = np.array(
        [f'{{"other": {int(k)}}}' for k in rng.randint(0, 9, size=int(lacking.sum()))],
        dtype=object,
    )
    props[rng.rand(n) < 0.02] = "{}"
    props[rng.rand(n) < 0.10] = None
    ev = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": ts,
            "user_id": uid,
            "event_type": rng.choice(
                ["click", "view", "purchase", "signup", "error"], size=n
            ),
            "value": value,
            "props": props,
        }
    )
    ev.to_parquet(f"{ADV}/events.parquet", index=False)
    _adv_documents(rng).to_parquet(f"{ADV}/documents.parquet", index=False)
    _adv_embeddings(rng).to_parquet(f"{ADV}/embeddings.parquet", index=False)
    _inject_rel_nulls(rng, ADV)
    for t in TABLES:
        if t in ("events", "documents", "lineitem", "orders", "customer",
                 "embeddings"):
            continue
        dst = f"{ADV}/{t}.parquet"
        if not os.path.exists(dst):
            shutil.copyfile(f"{BASE}/{t}.parquet", dst)
    yield ADV


DOC_QUERIES = [
    # round 10 batch 9: dedup accounting over the 10 exact-dup docs
    # (keep-first by doc_id; empty/whitespace docs hash and count too)
    "q_pipeline_dedup_report",
    # round 10 batch 10: OOV rate where empty/whitespace docs produce
    # no tokens and the top-100 cut is tie-broken (cnt DESC, term)
    "q_text_oov_rate",
    "q_text_stats",
    "q_text_langid",
    "q_text_quality",
    "q_text_tokens",
    "q_text_fingerprint",
    "q_text_tfidf",
    "q_dedup_exact",
    "q_udtf_explode",
    "q_fn_array",
    "q_fn_array2",
    "q_sample_split",
    "q_pipeline_curate",
    "q_multimodal_meta",
    "q_dedup_ngram_jaccard",
    "q_dedup_editdist",
    "q_dedup_components",
    "q_sample_stratified",
    # late round 3
    "q_text_bigrams",
    "q_text_charlm",
    "q_text_readability",
    "q_text_bpe_step",
    "q_multimodal_payload_dedup",
    "q_fn_binary",
    "q_pipeline_filter_report",
    # round 4
    "q_multimodal_phash_dedup",
    "q_agg_countmin",
    "q_dedup_substring",
    "q_text_hash_classifier",
    "q_dedup_near_minhash",
    # round 5: the round-4 final-commit additions (ADVICE r4)
    "q_text_winnow",
    "q_text_cooccurrence",
    "q_pipeline_interleave",
    "q_fn_url",
    "q_fn_regexp2",
    # round-5 additions over documents
    "q_dedup_url",
    "q_multimodal_gate",
    "q_pipeline_budget_cap",
    # round 7: incremental dedup on the ugly shared corpus (empty /
    # whitespace / unicode / duplicated texts flow into both the
    # derived shard and the stored corpus)
    "q_dedup_incremental",
    # round 7 batch 2: prefix-cluster keep-best on empty/whitespace/
    # unicode/duplicated texts (1-token docs hit the least() clamp)
    "q_dedup_keepbest",
    # round 7 batch 3: containment on sub-shingle-length docs (no
    # shingles in either engine) and duplicated texts (containment 1.0)
    "q_dedup_containment",
    # round 7 batch 4: curriculum quartiles over heavily-tied token
    # counts (empty/whitespace docs all rank 1 token); epoch plan with
    # tiny per-source token pools
    "q_pipeline_curriculum",
    "q_pipeline_epoch_plan",
    # round 8: KL / bigram-LM scoring over empty/whitespace/unicode/
    # duplicated texts (the empty-token filter and the >= 2-token
    # bigram guard are exactly what the ugly corpus stresses)
    "q_text_kl_divergence",
    "q_text_perplexity",
    # round 8 batch 2: BPE merges over unicode/empty/duplicated texts
    # (char-based substr parity) and raw-byte blob round-trip of the
    # same ugly texts
    "q_text_bpe_train",
    "q_source_binaryfile",
    # round 8 batch 3: hybrid BM25+vector fusion where only query doc 7
    # survives the id filter and stopword-df drop meets the tiny corpus
    "q_sim_hybrid_search",
    # round 9: tokenizer deployment over empty/whitespace/unicode docs
    # (every doc is encoded, including ones too short to train on)
    "q_text_bpe_apply",
    # round 9 batch 2: vocabulary build over the ugly corpus (empty-
    # token filter, min-count cutoff on duplicated texts, two-phase
    # rank over heavily-tied counts); temperature mixing over the tiny
    # skewed source split (one source can dominate)
    "q_text_vocab_build",
    "q_pipeline_temperature",
    # round 9 batch 3: KN continuation counts over the degenerate
    # corpus (stopword-only docs give massive-cb bigrams; empty/
    # whitespace docs contribute none)
    "q_text_kneser_ney",
    # round 9 batch 4: snapshot diff where exact-duplicate texts hash
    # equal (unchanged) and empty/whitespace docs diff like any other
    "q_pipeline_dataset_diff",
    # round 9 batch 5: tar shard round-trip of the ugly payloads
    # (empty members, multibyte unicode bytes through tar and back)
    "q_multimodal_webdataset_roundtrip",
    # round 10: Zipf fit over the ugly corpus (empty/whitespace docs
    # contribute no tokens; duplicated texts pile counts onto few
    # terms); loss masking where empty docs are fully masked with a
    # 0-token denominator guarded by the inner DIV; aspect bucketing
    # over degenerate byte lengths (0-byte payloads land in a real
    # bucket deterministically)
    "q_text_zipf",
    "q_pipeline_loss_mask",
    "q_multimodal_aspect_bucket",
    # round 10 batch 3: template families where exact-duplicate texts
    # collapse to one fingerprint and empty/whitespace docs form their
    # own (digitless) template classes
    "q_dedup_template",
    # round 10 batch 4: span planning over empty/whitespace docs
    # (excluded by the n>=1 gate on both sides — also the descending
    # sequence(1,0) guard) and unicode tokens (positions, not bytes)
    "q_pipeline_span_corruption",
    # round 10 batch 6: per-doc keywords over empty/whitespace/
    # duplicated texts (exact-dup docs share identical keyword sets;
    # single-doc terms get the max idf)
    "q_text_keywords",    # round 13: dup-ngram coverage over exact-dup + empty docs (dup
    # docs -> coverage 1e6; docs under 5 tokens drop out)
    "q_text_dup_ngram_coverage",
]

# nested JSONL round-trip over the ugly events (NULL values drop the
# vband tag via array_compact; NULL props irrelevant — schema'd read)
EVENT_QUERIES.append("q_source_jsonl_nested")

# round 10 batch 6: peak concurrency under celebrity skew (user 0's
# burst IS the peak; half-open tie rule at shared seconds)
EVENT_QUERIES.append("q_ts_concurrency")

# round 10 batch 7: rolling median / streaks / Wilson under NULL
# values (percentile+count skip them; runs break on them; the rate
# filter drops them) and celebrity skew (one deep window partition)
EVENT_QUERIES.extend(
    ["q_ts_rolling_median", "q_ts_streaks", "q_agg_wilson"]
)

# round 10 batch 8: code-detect over NULL props (dropped by the n>=1
# gate on both sides), empty/whitespace/unicode docs (codepoint counts,
# integer ppm — no float), and JSON-lacking-k rows (still symbol-heavy)
EVENT_QUERIES.append("q_text_code_detect")

# round 10 batch 9: cohort LTV where NULL purchase values drop from
# the revenue cells on both sides (the celebrity user 0 dominates one
# cohort; the single-event user 999 forms a 1-member cohort)
EVENT_QUERIES.append("q_ts_cohort_ltv")

# round 10 batch 10: transition matrix under celebrity skew (user 0's
# chain is one deep lag partition; the 1-event user contributes no
# pair) — version order is event_id, so NULL values are irrelevant
EVENT_QUERIES.append("q_ts_transitions")

# round 10 batch 11: survival/churn/version-audit under celebrity skew
# (user 0's lifetime spans the corpus; user 999's single event is a
# 0-week lifetime, a churner the week it appears, and a contiguous
# 1-event chain with span 1)
EVENT_QUERIES.extend(
    ["q_ts_survival", "q_ts_churn", "q_replay_version_audit"]
)

# round 10 batch 12: origin-anchored buckets where NULL values drop
# from the cents sum but not the count; conversion lag under celebrity
# skew (user 0 converts once; the funnel dedups by first-ts semantics)
EVENT_QUERIES.extend(["q_fn_time_bucket", "q_ts_conversion_lag"])

# round 10 batch 13: burst episodes under celebrity skew (user 0's
# burst IS an episode; integer cross-multiplied threshold, trailing
# window over observed hours only)
EVENT_QUERIES.append("q_ts_bursts")


def _adv_documents(rng) -> pd.DataFrame:
    texts = [
        "",                                  # empty
        " ",                                 # whitespace only
        "word",                              # single token
        "a " * 500 + "b",                    # long, repetitive
        # unicode (NOTE: no 'ß' — JVM upper('ß')='SS' but DuckDB
        # upper('ß')='ẞ'; a real, documented dialect divergence)
        "naïve café résumé 日本語 emoji",
        "the the the the the the",           # stopword-only
        "tab\tand  double  space",           # messy whitespace
    ]
    # plus duplicated documents (exact dups) and normal-ish ones
    base = [
        " ".join(rng.choice(["spark", "query", "join", "the", "a", "scan"], size=30))
        for _ in range(40)
    ]
    texts = texts + base + base[:10]  # 10 exact duplicates
    n = len(texts)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": rng.choice(["en", "de", "fr"], size=n),
            "source": rng.choice(["s0", "s1"], size=n),
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def _adv_embeddings(rng) -> pd.DataFrame:
    """Degenerate vector corpus: an all-zero vector (no direction — the
    division-by-zero hazard in every cosine), exact duplicates (cosine
    exactly 1.0, on the >= 0.98 boundary from above), a tiny-magnitude
    vector (quantizes to all-zero), a single-member cell, and
    negative-heavy vectors. float32 like the generator."""
    n = 60
    base = rng.randn(n, 64).astype("float32") * 0.12
    base[1] = 0.0                      # exact zero vector
    base[2] = base[3]                  # exact duplicate pair (same label below)
    base[4] = base[5] * 1e-7           # tiny: scaled-long quantizes to 0
    base[6] = -np.abs(base[6])         # all-negative
    label = (np.arange(n) % 5).astype("int32")
    label[0] = 9                       # single-member cell
    label[2] = label[3] = 1
    label[1] = 2
    label[4] = label[5] = 3
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": [base[i] for i in range(n)],
            "label": label,
        }
    )


# embedding-reading queries that must survive zero/dup/tiny vectors
EMB_QUERIES = [
    # round 10 batch 9: centroid matrix vs the zero vector (pulls its
    # label centroid toward 0 identically), exact-dup pair, tiny vector
    # quantizing to all-zero, single-member cell (centroid = the vector)
    "q_sim_centroid_matrix",
    # round 10 batch 10: threshold sweep vs the SAME degenerates — the
    # zero/tiny vectors are excluded (nsq=0) identically, the exact-dup
    # pair lands EXACTLY on cos=1 (the >= boundary the integer
    # arithmetic exists for), the single-member cell yields no pair
    "q_sim_threshold_sweep",
    "q_dedup_embedding",
    "q_dedup_semantic",
    "q_sim_topk",
    "q_sim_ivf",
    "q_sim_kmeans",
    "q_sim_lsh_hyperplane",
    "q_sim_quantize",
    "q_sim_pq",
    "q_sim_recall_eval",
    "q_sim_ivf_pq",
    "q_sim_range_search",
    "q_sim_matryoshka",
    # round 7 batch 3: knn graph vs the zero vector (NaN cosine must
    # rank identically cross-engine), exact-dup pair, single-member cell
    "q_sim_knn_graph",
    # round 8: clip gate vs the zero vector (NaN score; NaN-is-greatest
    # comparison semantics agree cross-engine) and duplicate vectors
    "q_multimodal_clip_gate",
    # round 10: two-stage rerank vs the zero vector (filtered by the
    # scale>0 gate on both engines), exact-dup vectors (coarse-score
    # ties broken by cid), and single-member cells
    "q_sim_two_stage_rerank",
    # round 10 batch 6: cell stats on the adversarial embedding corpus
    # (zero vector lands in a real cell deterministically; duplicate
    # vectors co-cell)
    "q_sim_cell_stats",
]


REL_QUERIES = [
    "q_agg_global",
    "q_agg_groupby",
    "q_agg_having",
    "q_agg_stats",
    "q_filter_range",
    "q_join_inner_hash",
    "q_join_outer",
    "q_join_semi",
    "q_join_anti",
    "q_join_sortmerge",
    "q_win_running",
    "q_topk",
    "q_sort_multikey",
    "q_fn_cond",
    "q_skew_salted_agg",
    "q_agg_pivot",
    "q_unpivot",
    "q_agg_mode",
    "q_agg_collect",
    "q_agg_filtered",
    "q_join_nullsafe",
    "q_agg_bitwise",
    "q_agg_histogram",
    "q_win_ntile",
    "q_sql_pricing_summary",
    "q_sql_top_customers",
    "q_sql_window",
    "q_sql_exists",
    "q_sql_cte",
    # round 4: null o_custkey probes + null c_mktsegment insert rows
    "q_agg_bloom",
    # round 8 batch 3: the column profiler vs injected NULL o_custkey /
    # o_totalprice (null counts, distinct-with-nulls, decimal min/max)
    "q_dq_profile",
    # round 5: the round-4 final-commit additions (ADVICE r4) — listagg
    # meets NULL c_mktsegment groups, skewkurt NULL l_quantity, the
    # graph pair NULL o_custkey edge endpoints
    "q_agg_listagg",
    "q_agg_skewkurt",
    "q_graph_degree_hist",
    "q_graph_jaccard",
    # round-5 additions (corr_matrix: listwise NULL deletion; kcore /
    # xml: NULL o_custkey and o_totalprice)
    "q_agg_corr_matrix",
    "q_graph_kcore",
    "q_source_xml_roundtrip",
    # round 7: data-quality family — NULL o_custkey flips completeness
    # to failed, NULL o_totalprice exits the range check, NULL
    # l_returnflag/l_quantity ride through the referential rollup
    "q_dq_expectations",
    "q_dq_referential",
    # round 7 batch 2: label propagation with NULL o_custkey edge
    # endpoints filtered at the edge build
    "q_graph_label_prop",
    # round 7 batch 3: BFS frontier anti joins meet NULL o_custkey
    # (filtered at the edge build) and orphan custkeys (layer counts
    # stay formula-consistent with the oracle)
    "q_graph_bfs",
    # round 8: the Hilbert walk with NULL o_custkey rows (whole-curve
    # NULL; pinned NULLS LAST keeps them out of the top-200 probe)
    "q_sort_hilbert",
    # round 9: weighted percentiles where NULL l_quantity weights are
    # skipped by SUM in both engines and NULL l_returnflag forms its
    # own group (three-valued cumulative thresholds)
    "q_agg_weighted_percentile",
    # round 9 batch 3: manifest skipping where NULL o_totalprice rows
    # ride inside kept files (decimal SUM skips them identically) —
    # the range aggregate must lose nothing to pruning on ugly data
    "q_scan_manifest_prune",
    # round 9 batch 6: reconciliation where NULL l_discount/l_tax null
    # the rebuilt total (three-valued bucket CASE) and NULL
    # o_totalprice headers bucket identically in both engines
    "q_dq_reconciliation",
    # round 9 batch 4: basket pairs on the null-injected lineitem
    # (key columns stay non-null; the distinct item table and exact
    # integer lift must hold regardless)
    "q_agg_basket_pairs",
    # round 10: Q10 shape with NULL o_custkey (inner joins drop) and
    # NULL l_extendedprice riding the revenue slong (NULL term -> NULL
    # sum contribution skipped identically); winsorized mean where the
    # new NULL l_extendedprice rows drop from count AND percentile on
    # both engines; Benford over NULL/injected o_totalprice
    "q_tpch_q10_shape",
    "q_agg_winsorized_mean",
    "q_dq_benford",
    # round 10 batch 3: FD audit where NULL o_custkey dependents are
    # skipped by countDistinct (nb=0 keys can't violate) and NULL
    # l_returnflag joins the distinct set only when non-NULL
    "q_dq_functional_dep",
    # round 10 batch 4: Adamic-Adar over edges with NULL o_custkey
    # (dropped at the distinct edge build identically) and orphan keys
    "q_graph_adamic_adar",
    # round 10 batch 6: share-of-total where NULL l_extendedprice /
    # l_discount rows null their revenue term (SUM skips identically)
    "q_agg_share_of_total",
    # round 10 batch 8: concentration/segmentation ranks where NULL
    # o_custkey/o_totalprice/o_orderdate rows are filtered EXPLICITLY
    # on both sides (engine-default NULL ordering differs: Spark ASC
    # is NULLS FIRST, DuckDB NULLS LAST — the ranks never see a NULL);
    # the ratio CI drops NULL price/discount rows from n AND the
    # co-moments together; the fuzzy join's NULL names fall out of the
    # equi block key identically
    "q_agg_pareto",
    "q_agg_hhi",
    "q_agg_rfm",
    "q_agg_ratio_ci",
    "q_join_fuzzy",
    # round 10 batch 9: growth where NULL o_orderdate/o_totalprice rows
    # are filtered explicitly (lag offsets stay calendar-aligned)
    "q_ts_growth",
    # round 10 batch 10: Theil where NULL o_totalprice is filtered
    # before spend (ln terms quantize identically on both sides)
    "q_agg_theil",
    # round 10 batch 11: nearest-value join where NULL acctbal rows
    # are filtered before blocking on both sides (a NULL bucket key
    # would silently drop probes asymmetrically otherwise)
    "q_join_nearest",
    # round 10 batch 12: run profile where injected NULL l_returnflag
    # forms its own runs (IS DISTINCT FROM / eqNullSafe parity) and
    # NULL l_quantity rows tie-break through the extended order key;
    # rules where NULL operands are 'unchecked' by explicit gates
    "q_scan_run_profile",
    "q_dq_rules",
    # round 10 batch 13: key-skew advisor where NULL o_custkey is
    # filtered before profiling (the hot-key ranks must agree)
    "q_agg_key_skew",
]

# streaming queries on adversarial events (oracle = batch recompute)
STREAM_QUERIES = [
    "q_stream_replay",
    "q_stream_outoforder",
    "q_stream_mv_merge",
    "q_stream_tumbling",
    "q_stream_session",
    "q_stream_dedup",
    "q_stream_static_join",
    # round 9: leaderboard rank over the windowed aggregate where
    # celebrity skew concentrates one type per window (tie order pinned)
    "q_stream_topk",
    # round 10: z-scored window volumes under celebrity skew (one
    # user's burst inflates single windows — exactly what the score
    # flags; exact integer moments keep both engines aligned)
    "q_stream_zscore",
]

# round 11: variable-length pattern over celebrity-skew runs (user 0's
# history is one huge island partition; the 1-event user has no run
# triple); OLS forecast / Bollinger bands over daily counts (NULL
# value/props never enter — both are pure count rollups); Lorenz
# deciles where NULL values are filtered before the spend sum
EVENT_QUERIES.extend(
    ["q_win_pattern_var", "q_ts_forecast", "q_ts_bollinger", "q_agg_lorenz"]
)
# round 11: cross-source fingerprints over empty/whitespace/unicode/
# duplicated texts (the <5-token gate drops degenerates identically;
# exact dups share fingerprints by construction); TTR over 1-token and
# unicode docs (codepoint splits, integer ppm); shard packing where
# NULL n_chars rows are filtered before the prefix sum
DOC_QUERIES.extend(
    [
        "q_dedup_cross_source",
        "q_text_lexical_diversity",
        "q_pipeline_shard_plan",
    ]
)
# round 11: missingness-pattern profile where the synthesized residue
# NULLs overlay the injected o_totalprice NaNs (CASE ELSE of a NULL is
# still NULL — both engines agree) and o_custkey orphans are unused
REL_QUERIES.append("q_dq_null_pattern")
# round 11: streaming near-dup over the ugly corpus (empty/whitespace
# docs never shingle; exact-dup texts match at jaccard 1.0 across
# batches; the perturbed-copy device drops degenerates on both sides)
STREAM_QUERIES.append("q_stream_dedup_near")
# round 11: knn-graph mutuality vs the zero vector (NaN cosine edges
# rank identically cross-engine), the exact-dup pair (mutual by
# construction), and single-member cells (no edges contributed)
EMB_QUERIES.append("q_sim_neighbor_overlap")
# round 11 batch 2: Q1 pricing summary where injected NULL quantity/
# discount/tax/price rows drop from every decimal sum identically
# (NULL propagates through the products) while count(*) keeps them;
# padding-waste over degenerate 0-byte payloads (same bucket rule as
# aspect_bucket); clustering coefficient on the co-purchase graph
# where NULL l_partkey rows never form edges (join keys)
REL_QUERIES.extend(["q_tpch_q1_shape", "q_graph_clustering_coeff"])
DOC_QUERIES.append("q_multimodal_pad_waste")
# round 11 batch 2: per-key rate limiter under celebrity skew (user
# 0's fold spans most of the log; the single-event user admits its one
# event) — event time stays monotone in event_id in the adversarial
# log, the invariant the (hour, used) scalar state needs
STREAM_QUERIES.append("q_stream_throttle")
# round 11 batch 3: contribution deltas where NULL values are filtered
# before the cents sums and the celebrity user dominates one type's
# delta; stickiness/interarrival are pure count/gap rollups (NULL
# value/props never enter; the 1-event user contributes no gap);
# systematic sampling over the ugly docs (rank is id-stable)
EVENT_QUERIES.extend(
    ["q_agg_contribution", "q_ts_stickiness", "q_ts_interarrival"]
)
DOC_QUERIES.append("q_sample_systematic")
# round 11 batch 4 — TPC-H shapes on the null-injected relational set:
# Q6 keeps NULL-priced rows in count(*) while the revenue sum skips
# them identically; Q12 groups NULL returnflags (NULL IN (...) lands in
# the ELSE branch both engines); Q13's orphan NULL-custkey orders never
# match the left join; Q14's NULL-revenue terms drop from both
# conditional sums; Q22's NULL balances fail > 0 and the cross-multiply
# the same way on both sides
REL_QUERIES.extend(
    [
        "q_tpch_q6_shape",
        "q_tpch_q4_shape",
        "q_tpch_q12_shape",
        "q_tpch_q13_shape",
        "q_tpch_q14_shape",
        "q_tpch_q22_shape",
    ]
)
# round 11 batch 5 — more TPC-H shapes: Q15's max ties stay exact-long
# equality under NULL-revenue drops; Q17's NULL quantities fall out of
# the cross-multiplied 20%-of-average compare while count(*) keeps them
# in cnt on both engines; Q19's NULL quantities void every disjunct;
# Q21's per-order aggregate must match the textbook double-EXISTS on
# skewless keys (no NULLs injected into the join keys); Q8's ppm share
# drops NULL-revenue terms from both the numerator CASE and the total
REL_QUERIES.extend(
    [
        "q_tpch_q15_shape",
        "q_tpch_q17_shape",
        "q_tpch_q19_shape",
        "q_tpch_q21_shape",
        "q_tpch_q8_shape",
    ]
)
# round 12: the derived-partsupp set.  partsupp itself derives from
# part/supplier keys (never nulled — bit-identical on both engines);
# the injected NULLs hit the lineitem side: Q9's profit term goes NULL
# through round(NULL qty) and drops from SUM identically; Q20's
# half-sum skips NULL quantities in both engines; Q2/Q11/Q16 read only
# the clean dim columns, proving the derivation is insensitive to the
# fact-table corruption around it
REL_QUERIES.extend(
    [
        "q_tpch_q2_shape",
        "q_tpch_q9_shape",
        "q_tpch_q11_shape",
        "q_tpch_q16_shape",
        "q_tpch_q20_shape",
    ]
)
# round 11 batch 6: jackknife blocks under celebrity skew (user 0's
# block partial dominates one leave-one-out mean — the estimator's
# whole point; NULL values filter before the block partials on both
# engines); the quality curve ranks the ugly corpus (empty/whitespace
# docs still tokenize to >= 1 split token; ties on ttr break by doc_id)
EVENT_QUERIES.append("q_agg_jackknife_ci")
DOC_QUERIES.append("q_pipeline_quality_curve")
# round 11 batch 7: MDE planning under skew (one celebrity block's
# variance dominates; NULL values filter before the exact moments);
# hour-of-week cells under the skewed clock (peak ties break by hour);
# trigram novelty over the ugly corpus (short docs drop at the >= 3
# token gate; exact-dup texts donate all novelty to the lower doc_id)
EVENT_QUERIES.extend(["q_agg_power_mde", "q_ts_hour_of_week"])
DOC_QUERIES.append("q_text_ngram_novelty")
# round 11 batch 8: CUSUM over the skewed clock (integer prefix sums
# and running mins are order-exact under any distribution); the
# completeness trend CONSUMES the injected NULL values directly —
# daily null rates, trailing windows, and the cross-multiplied
# degrading flag must agree on the 5%-null fixture
EVENT_QUERIES.extend(["q_ts_cusum", "q_dq_completeness_trend"])
# round 11 batch 9: cluster-size histogram over the ugly corpus (the
# planted exact dups land in the 2/3-5 buckets; empty/whitespace docs
# hash like any other byte string); hourly acquisition under celebrity
# skew (user 0's min(ts) is one first-seen row like everyone else's)
DOC_QUERIES.append("q_dedup_cluster_sizes")
EVENT_QUERIES.append("q_ts_new_users")
# round 12 batch 2: SRM under celebrity skew (user 0 is ONE distinct
# unit per type regardless of its 60% event share — the whole point of
# counting users, not events; the md5 arm split is id-deterministic);
# MAD anomaly over the skewed clock (the celebrity burst inflates some
# days — the median threshold must not chase it); balanced sampling
# where one type's count is dragged by the null-props rows (counts
# ignore NULLs — rows still count); hapax over the ugly corpus
# (empty/whitespace docs contribute zero tokens after the '' drop);
# threshold curve over the planted near-dup pairs; key audit sees the
# orphaned NULL o_custkey rows only through o_orderkey (never nulled)
EVENT_QUERIES.extend(["q_agg_srm", "q_ts_mad_anomaly", "q_sample_balanced"])
DOC_QUERIES.extend(["q_text_hapax", "q_dedup_threshold_curve"])
REL_QUERIES.extend(["q_graph_assortativity", "q_dq_key_audit"])
# round 12 batch 3: delta-method ratio CI under celebrity skew (user
# 0's giant (x, y) pair dominates every moment — exactly the
# within-user correlation the estimator exists to price; NULL values
# filter before the per-user partials on both engines); the streaming
# funnel folds user 0's massive event run through three longs of
# state, and the single-event user arms or completes nothing
EVENT_QUERIES.append("q_agg_delta_ratio_var")
STREAM_QUERIES.append("q_stream_funnel")
# the recursive EWMA folds user 0's clicks (most of the log) in
# event_id order; NULL values are filtered before the fold on both
# engines
STREAM_QUERIES.append("q_stream_ewma")
# the order-dependent folds of runner.fold_by_user
ORDERED_FOLDS = ["q_stream_ewma", "q_stream_throttle", "q_stream_funnel", "q_stream_gap_detect"]


def _inject_rel_nulls(rng, adv):
    li = pd.read_parquet(f"{BASE}/lineitem.parquet")
    # l_extendedprice NULLs added round 10 (ADVICE r9): a NULL qv row in
    # q_agg_weighted_percentile lands its weight at opposite ends of the
    # cumulative sum unless NULLS LAST is pinned on both engines
    for col, frac in [
        ("l_quantity", 0.05),
        ("l_discount", 0.05),
        ("l_tax", 0.03),
        ("l_extendedprice", 0.02),
    ]:
        li.loc[rng.rand(len(li)) < frac, col] = np.nan
    li.loc[rng.rand(len(li)) < 0.02, "l_returnflag"] = None
    li.to_parquet(f"{adv}/lineitem.parquet", index=False)

    o = pd.read_parquet(f"{BASE}/orders.parquet")
    o.loc[rng.rand(len(o)) < 0.05, "o_custkey"] = pd.NA  # orphan orders
    o.loc[rng.rand(len(o)) < 0.03, "o_totalprice"] = np.nan
    o["o_custkey"] = o["o_custkey"].astype("Int64")
    o.to_parquet(f"{adv}/orders.parquet", index=False)

    c = pd.read_parquet(f"{BASE}/customer.parquet")
    c.loc[rng.rand(len(c)) < 0.03, "c_acctbal"] = np.nan
    c.loc[rng.rand(len(c)) < 0.02, "c_mktsegment"] = None
    c.to_parquet(f"{adv}/customer.parquet", index=False)


@pytest.fixture(scope="module")
def adv_duck(adv_dir):
    con = duck_connection(adv_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", EVENT_QUERIES + DOC_QUERIES + REL_QUERIES + STREAM_QUERIES + EMB_QUERIES)
def test_oracle_holds_on_adversarial_data(spark, adv_dir, adv_duck, name):
    q = REGISTRY[name]
    assert q.oracle is not None
    pdf = q.fn(spark, adv_dir).toPandas()
    odf = adv_duck.execute(q.oracle).fetchdf()
    assert_frames_match(pdf, odf, f"{name}[adversarial]")


@pytest.mark.parametrize("name", ORDERED_FOLDS)
def test_ordered_folds_hold_across_small_arrow_chunks(spark, adv_dir, adv_duck, name):
    # At 64 rows per Arrow batch, user 0's ~600 events per micro-batch
    # reach the fold as about ten chunks; the fold must still see them
    # in event_id order.
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "64")
    try:
        pdf = REGISTRY[name].fn(spark, adv_dir).toPandas()
    finally:
        spark.conf.set(conf, prev)
    odf = adv_duck.execute(REGISTRY[name].oracle).fetchdf()
    assert_frames_match(pdf, odf, f"{name}[adversarial, 64-row chunks]")


# JSON payloads q_fn_json must classify correctly even though the shared
# adversarial fixture can't carry them (q_fn_map's json_keys oracle is
# only total over valid JSON): malformed, non-object, empty, and
# object-lacking-k inputs. ADVICE r1: validity is a parse check, not
# key presence.
JSON_EDGE_PROPS = [
    '{"k": 5}',
    '{"k": -3}',
    '{"other": 1}',   # valid, lacks k -> is_json true, k_* NULL
    "{}",
    "not json",
    "[1, 2]",         # valid non-object
    '"str"',
    "17",
    "true",
    "",
    '{"k":',          # truncated object
    None,
]


def test_fn_json_validity(spark, tmp_path_factory):
    import duckdb

    d = str(tmp_path_factory.mktemp("json_edge"))
    n = len(JSON_EDGE_PROPS)
    pd.DataFrame(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": (np.arange(n, dtype="int64") + 1_700_000_000) * 1_000_000_000,
            "user_id": np.ones(n, dtype="int64"),
            "event_type": ["click"] * n,
            "value": np.ones(n, dtype="float64"),
            "props": pd.Series(JSON_EDGE_PROPS, dtype=object),
        }
    ).to_parquet(f"{d}/events.parquet", index=False)
    q = REGISTRY["q_fn_json"]
    pdf = q.fn(spark, d).toPandas()
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet')"
        )
        odf = con.execute(q.oracle).fetchdf()
    finally:
        con.close()
    assert_frames_match(pdf, odf, "q_fn_json[json-edge]")
    # and the validity column itself is what a parse check should say
    by_id = dict(zip(pdf["event_id"], pdf["is_json"]))
    expect = [True, True, True, True, False, True, True, True, True, False, False, False]
    assert [bool(by_id[i]) for i in range(n)] == expect


def test_jackknife_rounding_boundary_tie(spark, tmp_path_factory):
    """Association-boundary pin for q_agg_jackknife_ci (ADVICE r11,
    medium): the leave-one-out micro-unit quantization must use the
    ORACLE's float association (1000000 * X / Y parses left-to-right
    as (1000000 * X) / Y).  This fixture makes one leave-one-out mean
    land EXACTLY on the .5 rounding boundary: remaining sum 15 cents
    over 96 rows -> (1e6 * (15/100.0)) / 96 == 1562.5 exactly, which
    rounds to 1563 — while the rejected association
    1e6 * ((15/100.0) / 96) == 1562.4999999999998 rounds to 1562 and
    flips q, sq, sq2, se_jack, ci_lo, ci_hi.  ~1 in 75k (S, N) pairs
    sits on such a boundary, so the sf0.01 sweep alone cannot hold
    this invariant."""
    import duckdb

    d = str(tmp_path_factory.mktemp("jk_tie"))
    # block 0 (user_id 20): 96 rows totaling 15 cents; block 1
    # (user_id 1): 4 rows of 1.00.  Leaving out block 1 exposes the
    # 15-cents/96-rows boundary mean.
    vals = [0.01] * 15 + [0.0] * 81 + [1.0] * 4
    uids = [20] * 96 + [1] * 4
    n = len(vals)
    pd.DataFrame(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": (np.arange(n, dtype="int64") + 1_700_000_000) * 1_000_000_000,
            "user_id": np.array(uids, dtype="int64"),
            "event_type": ["click"] * n,
            "value": np.array(vals, dtype="float64"),
            "props": pd.Series(["{}"] * n, dtype=object),
        }
    ).to_parquet(f"{d}/events.parquet", index=False)
    q = REGISTRY["q_agg_jackknife_ci"]
    pdf = q.fn(spark, d).toPandas()
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet')"
        )
        odf = con.execute(q.oracle).fetchdf()
    finally:
        con.close()
    assert_frames_match(pdf, odf, "q_agg_jackknife_ci[boundary-tie]")
    # the boundary q itself: leave-out-block-1 mean must quantize UP
    # (1562.5 -> 1563); with the rejected association se_jack shifts
    # by ~5e-7.  Pin the exact jackknife SE both engines must agree on:
    # q = [1563, 1000000], k = 2 -> se = sqrt(1/2 * (q1-q2)^2/2)/1e6
    row = pdf.iloc[0]
    assert row["n_blocks"] == 2
    import math

    expect_se = math.sqrt(
        (2 - 1.0) / 2 * (1563.0**2 + 1000000.0**2 - (1563.0 + 1000000.0) ** 2 / 2)
    ) / 1_000_000.0
    assert row["se_jack"] == expect_se


def test_salted_join_spreads_hot_key(spark, adv_dir):
    """Mechanism check for q_join_salted on the adversarial fixture
    (user 0 owns ~60% of all events -> hot_key 0 owns ~100% after the
    <75 collapse): the salt must actually SPREAD the hot key's fact
    rows across reducers — the whole point of salting — not just give
    the right answer. Reconstruct the salted fact side exactly as the
    query builds it and assert the hot key's rows land on every salt
    with no salt holding more than 2x its fair share."""
    from pyspark.sql import functions as F

    from pokertracker_cassandra_st_spark.catalog import table
    from pokertracker_cassandra_st_spark.operators.joins import _SALT_N

    ev = table(spark, ADV, "events")
    hot = F.when(F.col("user_id") < 75, F.lit(0)).otherwise(F.col("user_id"))
    fact = ev.select(
        hot.alias("hot_key"),
        F.pmod(F.xxhash64("event_id"), F.lit(_SALT_N)).alias("salt"),
    )
    per_salt = (
        fact.filter(F.col("hot_key") == 0)
        .groupBy("salt")
        .agg(F.count("*").alias("n"))
        .toPandas()
    )
    assert len(per_salt) == _SALT_N, "hot key did not reach every salt bucket"
    fair = per_salt["n"].sum() / _SALT_N
    assert per_salt["n"].max() <= 2 * fair, (
        f"salt skewed: max {per_salt['n'].max()} vs fair {fair:.0f}"
    )


def test_jaccard_salted_pairgen_spreads_hot_neighbor(spark, tmp_path_factory):
    """Skew hardening for the shared-neighbor pair generator (VERDICT r4
    'Next round #7'): one customer connected to 120 suppliers makes its
    self-join block square (7140 pairs through ONE reducer key in the
    plain form). The documented remedy — q_join_salted's doctrine
    adapted to a self-join (left side salted on hash(s1), right side
    replicated to all salts) — must (a) return EXACTLY the plain form's
    counts, and (b) actually spread the hot neighbor's left-side rows
    across every salt with no salt holding more than 2x its fair share.
    """
    import duckdb

    from pyspark.sql import functions as F

    from pokertracker_cassandra_st_spark.operators.graph import (
        common_neighbor_pairs,
    )

    d = str(tmp_path_factory.mktemp("hotgraph"))
    rng = np.random.RandomState(11)
    # hot customer 0: 120 suppliers; 200 normal customers: 3 each
    hot = pd.DataFrame({"c": 0, "s": np.arange(120, dtype="int64")})
    normal = pd.DataFrame(
        {
            "c": np.repeat(np.arange(1, 201, dtype="int64"), 3),
            "s": rng.randint(0, 120, size=600).astype("int64"),
        }
    )
    edges_pdf = pd.concat([hot, normal]).drop_duplicates()
    edges_pdf.to_parquet(f"{d}/edges.parquet", index=False)
    edges = spark.read.parquet(f"{d}/edges.parquet")

    SALT_N = 8
    plain = common_neighbor_pairs(edges).toPandas()
    salted = common_neighbor_pairs(edges, salt_n=SALT_N).toPandas()

    # (a) salt-invariance: identical pair counts, verified twice —
    # against each other and against an independent DuckDB self-join
    key = lambda df: df.sort_values(["s1", "s2"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(key(plain), key(salted))
    con = duckdb.connect()
    try:
        oracle = con.execute(
            f"""
            SELECT e1.s AS s1, e2.s AS s2, count(*) AS common
            FROM read_parquet('{d}/edges.parquet') e1
            JOIN read_parquet('{d}/edges.parquet') e2
              ON e1.c = e2.c AND e1.s < e2.s
            GROUP BY 1, 2
            """
        ).fetchdf()
    finally:
        con.close()
    oracle["common"] = oracle["common"].astype(plain["common"].dtype)
    pd.testing.assert_frame_equal(key(plain), key(oracle))

    # (b) mechanism: the hot customer's left-side rows hit every salt,
    # none holding more than 2x fair share
    per_salt = (
        edges.filter(F.col("c") == 0)
        .select(F.pmod(F.xxhash64("s"), F.lit(SALT_N)).alias("salt"))
        .groupBy("salt")
        .count()
        .toPandas()
    )
    assert len(per_salt) == SALT_N, "hot neighbor missed some salt buckets"
    fair = per_salt["count"].sum() / SALT_N
    assert per_salt["count"].max() <= 2 * fair, (
        f"salt skewed: max {per_salt['count'].max()} vs fair {fair:.0f}"
    )


# ---- q_dedup_incremental structural edge shards (VERDICT r6 #8) ----
#
# The incremental operator derives its "nightly shard" from documents
# doc_ids (mod 4), so shard shape is controlled entirely by the table.
# Three structural extremes the shared adversarial table cannot reach:
#   * empty shard    — no doc_id ≡ 0,1 (mod 4): the asymmetric joins
#     must produce an empty frame, not fail, with LSH fit on a corpus
#     sample only;
#   * all-dup shard  — every doc shares one text: quadratic exact
#     cross-matching plus near-tier rows that are ALL hash-equal and
#     must be excluded (tier-1-only output);
#   * boundary near  — 6-token docs whose trimmed re-crawl sits at
#     Jaccard exactly 0.5 (1 common shingle of 2) — the pair the
#     deterministic leading-shingle candidate tier guarantees
#     regardless of LSH table luck (ADVICE r6 #3) — next to 5-token
#     docs whose trim drops below shingle length (no near row on
#     either engine) and long docs safely above threshold.


def _inc_scenario_docs(scenario: str) -> pd.DataFrame:
    if scenario == "empty_shard":
        ids = [2, 3, 6, 7, 10, 11, 14, 15]
        texts = [f"doc number {i} with several distinct tokens here" for i in ids]
    elif scenario == "all_dup_shard":
        ids = list(range(12))
        texts = ["same exact text repeated in every single document row"] * 12
    elif scenario == "boundary_near":
        ids = list(range(16))
        texts = []
        for i in ids:
            if i % 4 == 1 and i < 8:
                # 6 tokens: trim -> 1 of 2 shingles shared -> J = 0.5
                texts.append(f"alpha{i} beta gamma delta epsilon zeta")
            elif i % 4 == 1:
                # 5 tokens: trim -> 4 tokens, below shingle length
                texts.append(f"alpha{i} beta gamma delta epsilon")
            else:
                texts.append(
                    f"longer document {i} " + " ".join(f"tok{i}x{j}" for j in range(12))
                )
    else:  # pragma: no cover
        raise ValueError(scenario)
    n = len(ids)
    rng = np.random.RandomState(11)
    return pd.DataFrame(
        {
            "doc_id": np.array(ids, dtype="int64"),
            "text": texts,
            "lang": rng.choice(["en", "de"], size=n),
            "source": rng.choice(["s0", "s1"], size=n),
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


@pytest.mark.parametrize("scenario", ["empty_shard", "all_dup_shard", "boundary_near"])
def test_dedup_incremental_edge_shards(spark, tmp_path_factory, scenario):
    d = str(tmp_path_factory.mktemp(f"inc_{scenario}"))
    _inc_scenario_docs(scenario).to_parquet(f"{d}/documents.parquet", index=False)
    for t in TABLES:
        dst = f"{d}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{BASE}/{t}.parquet", dst)
    q = REGISTRY["q_dedup_incremental"]
    pdf = q.fn(spark, d).toPandas()
    con = duck_connection(d)
    try:
        odf = con.execute(q.oracle).fetchdf()
    finally:
        con.close()
    assert_frames_match(pdf, odf, f"q_dedup_incremental[{scenario}]")
    if scenario == "empty_shard":
        assert len(pdf) == 0
    if scenario == "all_dup_shard":
        # exact tier: 3 shard re-crawls (ids 0,4,8) cross-match all 12
        # identical corpus docs; near tier: the 3 trimmed re-crawls
        # (ids 1,5,9) hit all 12 at J = 4/5 — hash-equality suppresses
        # none of those (trim changed the digest) but every
        # re-crawl-vs-identical-corpus pairing stays in tier 1 only
        exact, near = pdf[pdf["tier"] == "exact"], pdf[pdf["tier"] == "near"]
        assert len(exact) == 36 and len(near) == 36
        assert (near["jaccard"] == 0.8).all()
    if scenario == "boundary_near":
        near = pdf[pdf["tier"] == "near"]
        assert (near["jaccard"] == 0.5).sum() == 2, "J=0.5 boundary pairs missed"


# ---- hot-prefix skew (ADVICE r7 / VERDICT r7 #6) --------------------- #
# Crawled corpora carry boilerplate openings (license headers, template
# intros) shared by MILLIONS of documents. For q_dedup_keepbest that
# makes ONE cluster a hot window key; for q_dedup_containment the
# boilerplate's interior shingles become hot join keys. Both must stay
# differential-green under a single shared prefix; the keepbest bound
# is documented in its docstring (cluster rows co-reside on one window
# partition — rank capped map-side by WindowGroupLimit, count/sum
# windows linear in cluster size).


def _hot_prefix_docs(n: int, seed: int = 23) -> pd.DataFrame:
    rng = np.random.RandomState(seed)
    boiler = "creative commons license header applies to this document"
    texts = [
        " ".join([boiler, f"body{i}", *(f"w{i}x{j}" for j in range(i % 7))])
        for i in range(n)
    ]
    # a few control docs WITHOUT the prefix (their own tiny clusters)
    texts += [f"unique opening {i} with its own distinct tail tokens" for i in range(5)]
    m = len(texts)
    return pd.DataFrame(
        {
            "doc_id": np.arange(m, dtype="int64"),
            "text": texts,
            "lang": rng.choice(["en", "de"], size=m),
            "source": rng.choice(["s0", "s1"], size=m),
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def test_keepbest_hot_prefix_10k_single_cluster(spark, tmp_path_factory):
    n = 10_000
    d = str(tmp_path_factory.mktemp("hot_prefix_keepbest"))
    _hot_prefix_docs(n).to_parquet(f"{d}/documents.parquet", index=False)
    for t in TABLES:
        dst = f"{d}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{BASE}/{t}.parquet", dst)
    q = REGISTRY["q_dedup_keepbest"]
    pdf = q.fn(spark, d).toPandas()
    con = duck_connection(d)
    try:
        odf = con.execute(q.oracle).fetchdf()
    finally:
        con.close()
    assert_frames_match(pdf, odf, "q_dedup_keepbest[hot_prefix_10k]")
    # the boilerplate cluster holds every prefixed doc AND its
    # drop-last-token mutant (prefix preserved): 2n members, one row
    hot = pdf[pdf["n_members"] == pdf["n_members"].max()]
    assert len(hot) == 1
    assert int(hot["n_members"].iloc[0]) == 2 * n
    # keep rule: most tokens (i%7 == 6 gives 15), tie -> lowest doc_id
    assert int(hot["keep_id"].iloc[0]) == 6


def test_containment_hot_prefix_shingles(spark, tmp_path_factory):
    # 300 prefixed docs: the 4 interior boilerplate shingles each pair
    # all docs (~4 * C(300,2) joined rows) — the hot-join-key shape at
    # a size whose exhaustive DuckDB oracle still runs in seconds
    d = str(tmp_path_factory.mktemp("hot_prefix_containment"))
    _hot_prefix_docs(300).to_parquet(f"{d}/documents.parquet", index=False)
    for t in TABLES:
        dst = f"{d}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{BASE}/{t}.parquet", dst)
    q = REGISTRY["q_dedup_containment"]
    pdf = q.fn(spark, d).toPandas()
    con = duck_connection(d)
    try:
        odf = con.execute(q.oracle).fetchdf()
    finally:
        con.close()
    assert_frames_match(pdf, odf, "q_dedup_containment[hot_prefix]")
    # prefix-sharing docs with distinct bodies must NOT all merge:
    # a 9-token doc has 5 shingles, 4 boilerplate-only -> containment
    # 4/5 >= 0.8 admits it against other short docs, but longer-bodied
    # docs (more distinct shingles) fall below the bar — the admission
    # filter prunes, the blocking alone does not decide. (Restricted to
    # ORIGINAL doc ids: the augmented mutants of 9-token docs are
    # boilerplate-only, contained 4/4 in everything prefixed.)
    orig = pdf[(pdf["id_a"] < 1000) & (pdf["id_b"] < 1000)]
    assert 0 < len(orig)
    assert len(orig) < 300 * 299 / 2


def test_epoch_plan_long_numeric_source_suffixes(spark, tmp_path_factory):
    """ADVICE r7: a source named src1234567 (7-digit suffix) used to
    weigh 100 in Spark (try_to_number capped at 6 digits -> NULL) but
    150/200/... in DuckDB (TRY_CAST parses any INT32). Both engines
    must now share INT32 overflow-to-NULL semantics on the FULL
    suffix: in-range long suffixes parse, >INT32 suffixes and
    non-numeric names fall back to weight 100."""
    d = str(tmp_path_factory.mktemp("epoch_long_src"))
    sources = [
        "src1",            # short numeric
        "src1234567",      # 7 digits — the flagged divergence
        "src2147483647",   # INT32 max, parses
        "src2147483648",   # INT32 max + 1 — overflow -> NULL -> 100
        "src99999999999",  # 11 digits — overflow -> NULL -> 100
        "srcabc",          # non-numeric -> 100
    ]
    rows = []
    for i, s in enumerate(sources):
        for j in range(3):
            rows.append((i * 3 + j, f"tok{i} " * (4 + j) + "end", "en", s))
    df = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    df["n_chars"] = df["text"].str.len().astype("int64")
    df["doc_id"] = df["doc_id"].astype("int64")
    df.to_parquet(f"{d}/documents.parquet", index=False)
    for t in TABLES:
        dst = f"{d}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{BASE}/{t}.parquet", dst)
    q = REGISTRY["q_pipeline_epoch_plan"]
    pdf = q.fn(spark, d).toPandas()
    con = duck_connection(d)
    try:
        odf = con.execute(q.oracle).fetchdf()
    finally:
        con.close()
    assert_frames_match(pdf, odf, "q_pipeline_epoch_plan[long_suffix]")


def test_bpe_exact_pair_doc_collapse(spark, tmp_path_factory):
    """ADVICE r8 regression: a doc whose text EQUALS the winning merge
    pair collapses to length 1 after the rewrite, where Spark's
    sequence(1, 0) = [1, 0] (descending, never empty) would fabricate
    two single-char 'bigram' rows that DuckDB's range(1, 1) = [] never
    sees — and a \\x01-prefixed key wins any count tie lexically,
    silently flipping merge 2. The corpus is built so that exact
    failure mode fires: 'ab' wins merge 1 (count 5) and doc0 == 'ab'
    collapses; without the per-round length filter Spark's merge 2
    becomes the spurious '\\x01' instead of '\\x01\\x01'."""
    d = str(tmp_path_factory.mktemp("bpe_collapse"))
    texts = ["ab", "ababab", "abc", "x"]
    df = pd.DataFrame(
        {
            "doc_id": np.arange(len(texts), dtype="int64"),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s0"] * len(texts),
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    df.to_parquet(f"{d}/documents.parquet", index=False)
    for t in TABLES:
        dst = f"{d}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{BASE}/{t}.parquet", dst)
    q = REGISTRY["q_text_bpe_train"]
    pdf = q.fn(spark, d).toPandas()
    con = duck_connection(d)
    try:
        odf = con.execute(q.oracle).fetchdf()
        qa = REGISTRY["q_text_bpe_apply"]
        pdf_a = qa.fn(spark, d).toPandas()
        odf_a = con.execute(qa.oracle).fetchdf()
    finally:
        con.close()
    assert_frames_match(pdf, odf, "q_text_bpe_train[collapse]")
    assert_frames_match(pdf_a, odf_a, "q_text_bpe_apply[collapse]")
    # the learned table is exactly the hand-derivable one
    got = {int(r.merge_no): (r.pair, int(r.cnt)) for r in pdf.itertuples()}
    assert got[1] == ("ab", 5)
    assert got[2] == ("\x01\x01", 2), "merge 2 flipped — collapse leak"
    assert got[3] == ("\x01c", 1)
    # apply round-trip: replay the merge table in pandas independently
    merges = [got[i + 1][0] for i in range(3)]
    syms = ["\x01", "\x02", "\x03"]
    enc = dict(zip(df.doc_id, df.text))
    for pair, sym in zip(merges, syms):
        enc = {i: t.replace(pair, sym) for i, t in enc.items()}
    by_id = dict(zip(pdf_a.doc_id, pdf_a.n_tokens))
    assert {i: len(t) for i, t in enc.items()} == {
        int(k): int(v) for k, v in by_id.items()
    }


def test_bpe_train_k10_differential(spark):
    """The registered query unrolls k=3; production tokenizers run
    hundreds of merges. The parameterized loop must stay oracle-green
    at k=10 (symbols cross into \\x0b+ territory, skipping \\t \\n \\r),
    with the merge-table oracle extended to k rows — and per-merge wall
    flat in k (the localCheckpoint k-pass contract; measured at 10x in
    SCALE.md r9: ~1.4 s/merge steady state)."""
    import duckdb

    from pokertracker_cassandra_st_spark.llm.text import (
        _bpe_merge_tables,
        _bpe_train_oracle,
    )
    from pyspark.sql import functions as F

    tops = _bpe_merge_tables(spark, BASE, 10)
    out = tops[0].select(
        F.lit(1).cast("int").alias("merge_no"), "pair", "cnt"
    )
    for i, t in enumerate(tops[1:], start=2):
        out = out.unionByName(
            t.select(F.lit(i).cast("int").alias("merge_no"), "pair", "cnt")
        )
    pdf = out.toPandas()
    assert len(pdf) == 10
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{BASE}/documents.parquet')"
        )
        odf = con.execute(_bpe_train_oracle(10)).fetchdf()
    finally:
        con.close()
    assert_frames_match(pdf, odf, "q_text_bpe_train[k=10]")


# ---- pre-1970 calendar buckets (VERDICT r12 'Next round #8') ---------- #

# Every query whose calendar bucket key is a FLOOR(epoch / k) division
# (the ADVICE-r11 doctrine: Spark `div` truncates toward zero, DuckDB
# `//` floors, so the two only agree on buckets via an explicit FLOOR).
# The doctrine became pre-1970-safe by construction in round 12
# (timeseries.py FLOOR sites + analytics/quality siblings) but no
# fixture exercised a NEGATIVE epoch end-to-end until this one.
FLOOR_BUCKET_QUERIES = [
    "q_agg_contribution",
    "q_dq_completeness_trend",
    "q_ts_stickiness",
    "q_ts_hour_of_week",
    "q_ts_cusum",
    "q_ts_new_users",
    "q_ts_mad_anomaly",
    # the per-user folds: throttle's hour bucket is a FLOOR division,
    # and gap_detect's first event may be pre-1970
    "q_stream_throttle",
    "q_stream_gap_detect",
]


@pytest.fixture(scope="module")
def pre1970_dir(tmp_path_factory):
    """Events straddling the epoch: two weeks centered on 1970-01-01,
    with timestamps deliberately OFF the day/week grid (13:30-ish
    offsets), so floor(-37800/86400) = -1 while truncation would give
    0 — the exact divergence the FLOOR doctrine guards. A user whose
    FIRST event is pre-1970 pins q_ts_new_users' negative first-hour
    bucket; NULL values ride along for the completeness/mad paths."""
    d = str(tmp_path_factory.mktemp("pre1970"))
    rng = np.random.RandomState(13)
    n = 400
    # epoch seconds in [-7 days, +7 days), uniform, never grid-aligned
    secs = np.sort(rng.randint(-7 * 86400, 7 * 86400, size=n).astype("int64"))
    secs += 1  # avoid the exact 00:00:00 epoch row being special
    uid = rng.randint(0, 12, size=n).astype("int64")
    # user 11's events are all pre-1970 (negative first-activity hour)
    pre = secs < 0
    if pre.sum():
        uid[pre][:1]  # noqa: B018 — documented intent below
        uid[np.argmax(pre)] = 11
        uid[uid == 11] = np.where(
            secs[uid == 11] < 0, 11, rng.randint(0, 11, size=(uid == 11).sum())
        )
    value = np.round(rng.uniform(0.01, 50, size=n), 2)
    value[rng.rand(n) < 0.07] = np.nan
    # sub-second components on a handful of rows, INCLUDING pre-1970
    # ones: Spark's unix_timestamp floors micros->seconds (floorDiv)
    # and DuckDB's floor(epoch(ts)) floors the fractional epoch — for
    # a negative fractional second both must land in the EARLIER
    # second (truncation would disagree); this pins it end-to-end.
    ns = secs * 1_000_000_000
    ns[::17] += 437_000_000
    pd.DataFrame(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": pd.to_datetime(ns, unit="ns"),
            "user_id": uid,
            "event_type": rng.choice(
                ["click", "view", "purchase", "signup", "error"], size=n
            ),
            "value": value,
            "props": pd.Series(["{}"] * n, dtype=object),
        }
    ).to_parquet(f"{d}/events.parquet", index=False)
    return d


@pytest.mark.parametrize("name", FLOOR_BUCKET_QUERIES)
def test_floor_buckets_agree_on_negative_epochs(spark, pre1970_dir, name):
    import duckdb

    q = REGISTRY[name]
    pdf = q.fn(spark, pre1970_dir).toPandas()
    # pre-1970 rows must actually land in NEGATIVE buckets somewhere —
    # a fixture regression that drops them would green-wash the test
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{pre1970_dir}/events.parquet')"
        )
        odf = con.execute(q.oracle).fetchdf()
    finally:
        con.close()
    assert_frames_match(pdf, odf, f"{name}[pre-1970]")
    num = pdf.select_dtypes("number")
    assert (num < 0).any().any() or len(pdf) > 0
