"""Physical-plan assertions: the scale properties the engine promises.

These lock in the plan shapes that matter at 100 TB — column pruning,
parquet predicate pushdown, broadcast joins for bounded dims, top-k via
TakeOrderedAndProject, partial aggregation — so a refactor that
silently regresses one of them fails CI, not the cluster.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pokertracker_cassandra_st_spark.catalog import scratch_dir
from pokertracker_cassandra_st_spark.plans.inspect import explain_str
from pokertracker_cassandra_st_spark.registry import REGISTRY, get_queries

get_queries()


def plan_of(spark, name: str, sf_dir: str, mode: str = "formatted") -> str:
    return explain_str(REGISTRY[name].fn(spark, sf_dir), mode)


def plan_of_unmaterialized(
    spark, name: str, sf_dir: str, monkeypatch, mode: str = "formatted"
) -> str:
    """plan_of with the r13 lazy-localCheckpoint barriers stubbed to
    identity: explain renders a checkpointed subtree as an opaque
    Scan ExistingRDD, so shape locks on the algorithm INSIDE the
    barrier (semi-join peels, frontier probes, bucketed rank windows)
    inspect the full pre-checkpoint tree — the plan that actually
    executes inside the checkpoint's own query execution."""
    import pokertracker_cassandra_st_spark.ckpt as ckpt

    monkeypatch.setattr(ckpt, "materialized", lambda df: df)
    return plan_of(spark, name, sf_dir, mode=mode)


def test_scan_project_prunes_columns(spark, sf_dir):
    plan = plan_of(spark, "q_scan_project", sf_dir)
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    # only the 4 projected columns reach the parquet reader
    for col in ["l_orderkey", "l_linenumber", "l_extendedprice", "l_returnflag"]:
        assert col in read_schema
    for col in ["l_partkey", "l_quantity", "l_shipdate", "l_discount"]:
        assert col not in read_schema


def test_scan_pushdown_reaches_parquet(spark, sf_dir):
    plan = plan_of(spark, "q_scan_pushdown", sf_dir)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "l_quantity" in pushed and "l_shipdate" in pushed
    assert "GreaterThan" in pushed


def test_bounded_dims_broadcast(spark, sf_dir):
    plan = plan_of(spark, "q_join_broadcast", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = plan_of(spark, "q_topk", sf_dir)
    assert "TakeOrderedAndProject" in plan
    # no global Sort node — the heap-based operator replaces it
    assert "Sort [" not in plan or "TakeOrderedAndProject" in plan


def test_groupby_has_partial_aggregation(spark, sf_dir):
    plan = plan_of(spark, "q_agg_groupby", sf_dir)
    # partial + final hash aggregation (map-side combine before shuffle):
    # the shuffle carries per-key partial states, not raw rows
    assert plan.count("HashAggregate") >= 2
    simple = plan_of(spark, "q_agg_groupby", sf_dir, mode="simple")
    assert "partial_sum" in simple
    # and only one shuffle total
    assert simple.count("Exchange") == 1


def test_filter_pushed_below_join(spark, sf_dir):
    plan = plan_of(spark, "q_join_sortmerge", sf_dir)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("o_orderdate" in l and "GreaterThanOrEqual" in l for l in pushed)


def test_semi_anti_join_shapes(spark, sf_dir):
    for name in ["q_join_semi", "q_join_anti"]:
        plan = plan_of(spark, name, sf_dir)
        assert "LeftSemi" in plan or "LeftAnti" in plan


def test_bucketed_join_eliminates_shuffle(spark, sf_dir):
    # the documented 100TB upgrade path for large-large joins: bucket
    # both sides on the join key at write time -> the join needs no
    # Exchange at all (co-located bucketed scans feed SortMergeJoin)
    import os

    from pokertracker_cassandra_st_spark.catalog import SCRATCH

    base = f"{SCRATCH}/bucketed"
    os.makedirs(base, exist_ok=True)
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")
    from pokertracker_cassandra_st_spark.catalog import table as load

    (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity")
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", f"{base}/li_b")
        .saveAsTable("li_b")
    )
    (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", f"{base}/o_b")
        .saveAsTable("o_b")
    )
    # disable broadcast so the planner faces the large-large decision
    # (at 100 TB neither side broadcasts; that's the case bucketing wins)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("li_b").join(
            spark.table("o_b"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        plan = explain_str(joined, "simple")
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan
        # sanity: it still computes the right thing
        assert joined.count() == spark.table("li_b").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_replay_single_shuffle_with_partial_limit(spark, sf_dir):
    # the projection fold: exactly one exchange (hash on user_id), and
    # the rank-limit pushed map-side (partial WindowGroupLimit) so only
    # one candidate row per key per task reaches the shuffle
    plan = plan_of(spark, "q_replay_projection", sf_dir, mode="simple")
    assert plan.count("Exchange") == 1
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_asof_join_single_shuffle_no_range_explosion(spark, sf_dir):
    # union-and-fill as-of: exactly one Exchange (hash on user_id) and
    # NO join operator at all — the shape that can't explode into a
    # range join (BroadcastNestedLoopJoin) at 100 TB
    plan = plan_of(spark, "q_join_asof", sf_dir, mode="simple")
    assert plan.count("Exchange") == 1
    assert "Join" not in plan
    assert "Window" in plan


def test_downsample_single_partial_agg_shuffle(spark, sf_dir):
    # OHLC downsample: partial + final HashAggregate around ONE Exchange
    # — open/close ride min_by/max_by in the same aggregate, no window
    plan = plan_of(spark, "q_ts_downsample", sf_dir, mode="simple")
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") >= 2
    assert "Window" not in plan


def test_sessionize_single_shuffle(spark, sf_dir):
    # batch sessionization: lag + cumsum + session agg all reuse ONE
    # hash partitioning on user_id
    plan = plan_of(spark, "q_ts_sessionize", sf_dir, mode="simple")
    assert plan.count("Exchange") == 1
    assert "Window" in plan


def test_asof_tolerance_keeps_asof_shape(spark, sf_dir):
    plan = plan_of(spark, "q_join_asof_tolerance", sf_dir, mode="simple")
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_runtime_bloom_filter_join_reduction(spark, sf_dir):
    # the 100 TB semi-join-reduction lever: a selective dim filter
    # injects a bloom filter into the fact scan so non-qualifying fact
    # rows die BEFORE the shuffle. Default thresholds require a >=10GB
    # probe side, so force them here to lock the mechanism itself.
    from pokertracker_cassandra_st_spark.catalog import table as load

    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = load(spark, sf_dir, "lineitem")
        o = load(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan  # bloom probe on the fact side
        assert "bloom_filter_agg" in plan  # filter built from the dim side
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "10GB",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_q5_star_join_pushdown_and_broadcast(spark, sf_dir):
    # the 6-way star: region predicate must reach the region SCAN (not
    # post-join), the bounded dims must come in as broadcasts, and the
    # two FACT joins must be shuffle-hash with the build on the
    # filtered small side — never a fact-table broadcast (the local
    # size estimate would otherwise broadcast pruned lineitem, a shape
    # that exists only at toy scale) and never a sort-merge (two sorts
    # for a dim-sized build side)
    plan = plan_of(spark, "q_tpch_q5_shape", sf_dir)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("r_name" in l and "EqualTo" in l for l in pushed)
    assert plan.count("BroadcastHashJoin") >= 2
    simple = plan_of(spark, "q_tpch_q5_shape", sf_dir, mode="simple")
    assert simple.count("ShuffledHashJoin") == 2
    assert "SortMergeJoin" not in simple


def test_contamination_broadcasts_eval_side(spark, sf_dir):
    # the eval (benchmark) shingle set is tiny vs the train corpus —
    # it must broadcast so the train side never shuffles for the join
    plan = plan_of(spark, "q_text_contamination", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_interval_overlap_broadcasts_campaigns(spark, sf_dir):
    # the campaign side is calendar-bounded -> BroadcastNestedLoopJoin;
    # the session side must not shuffle again after its window
    plan = plan_of(spark, "q_join_interval_overlap", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan
    simple = plan_of(spark, "q_join_interval_overlap", sf_dir, mode="simple")
    # one Exchange for the sessionization window, one SinglePartition
    # for the 1-row time-bounds aggregate the campaign calendar derives
    # from (in-plan since round 4 — no driver-side .first()), plus the
    # broadcast exchange; none added by the join itself
    assert simple.count("Exchange") <= 3
    assert simple.count("Exchange hashpartitioning") <= 1


def test_heavy_hitters_partial_agg_and_broadcast_scalar(spark, sf_dir):
    plan = plan_of(spark, "q_agg_heavy_hitters", sf_dir)
    simple = plan_of(spark, "q_agg_heavy_hitters", sf_dir, mode="simple")
    assert "partial_count" in simple  # map-side combine on the counts
    # the (total, n_keys) scalar joins via broadcast, never a shuffle
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_pack_prefix_sum_is_two_phase(spark, sf_dir):
    # the corpus-sized side must never pass through a single-partition
    # global window; only the tiny per-bucket sums frame may
    simple = plan_of(spark, "q_pipeline_pack", sf_dir, mode="simple")
    # the big side's window partitions by bkt (parallel), the offsets
    # frame is the only SinglePartition consumer
    assert simple.count("Exchange SinglePartition") <= 1
    assert "windowspecdefinition(bkt" in simple


def test_dpp_prunes_fact_partitions(spark, sf_dir):
    # q_scan_dpp: the fact scan's PartitionFilters must carry a
    # DynamicPruning subquery on the partition column — the mechanism
    # that skips unselected partitions of a 100 TB fact entirely
    plan = plan_of(spark, "q_scan_dpp", sf_dir)
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("dynamicpruning" in l.lower() for l in part_lines), part_lines


def test_kmeans_assignment_broadcasts_centroids(spark, sf_dir):
    # centroid side is K rows: must broadcast; the corpus never shuffles
    # before assignment (the only Exchanges are the argmin + rollup aggs)
    simple = plan_of(spark, "q_sim_kmeans", sf_dir, mode="simple")
    assert "BroadcastNestedLoopJoin" in simple or "BroadcastHashJoin" in simple
    assert "SortMergeJoin" not in simple
    assert simple.count("Exchange hashpartitioning") <= 2


def test_dedup_lines_shuffles_hashes_not_text(spark, sf_dir):
    # two narrow shuffles (seg_hash window, doc_id rollup); the raw
    # text column must not survive past the segment-hash projection
    simple = plan_of(spark, "q_dedup_lines", sf_dir, mode="simple")
    assert simple.count("Exchange hashpartitioning") == 2
    # plans print top-down (scan at the bottom): everything ABOVE the
    # seg_hash Exchange — the shuffled rows and all post-shuffle ops —
    # must not reference the raw text column
    above_shuffle = simple[: simple.index("Exchange hashpartitioning(seg_hash")]
    assert "text#" not in above_shuffle


def test_interpolate_two_shuffles_no_udf(spark, sf_dir):
    simple = plan_of(spark, "q_ts_interpolate", sf_dir, mode="simple")
    assert simple.count("Exchange hashpartitioning") <= 2
    assert "BatchEvalPython" not in simple and "ArrowEvalPython" not in simple


def test_bucketed_query_join_has_no_input_exchange(spark, sf_dir):
    # q_join_bucketed: SortMergeJoin over co-located bucketed scans —
    # the only Exchange in the whole plan is the final aggregation's
    simple = plan_of(spark, "q_join_bucketed", sf_dir, mode="simple")
    assert "SortMergeJoin" in simple
    join_and_below = simple[simple.index("SortMergeJoin") :]
    assert "Exchange" not in join_and_below


def test_bucketed_query_tables_live_in_per_scale_scratch(spark, sf_dir):
    # two scales must not overwrite each other's bucketed tables
    from urllib.parse import urlparse

    from pokertracker_cassandra_st_spark.catalog import scratch_dir

    REGISTRY["q_join_bucketed"].fn(spark, sf_dir)
    loc = (
        spark.sql("DESCRIBE TABLE EXTENDED q_jb_lineitem")
        .filter("col_name = 'Location'")
        .first()["data_type"]
    )
    assert urlparse(loc).path == f"{scratch_dir(sf_dir, 'bucketed_q')}/q_jb_lineitem"


def test_rollup_hierarchy_reads_materialization_not_raw(spark, sf_dir):
    # q_ts_rollup_hierarchy: all three grains must read the hourly
    # materialization — the returned plan never rescans raw events
    simple = plan_of(spark, "q_ts_rollup_hierarchy", sf_dir, mode="simple")
    assert simple.count("rollup_hourly") == 3
    assert "events.parquet" not in simple


def test_sliding_distinct_bounded_fanout_partial_agg(spark, sf_dir):
    # q_ts_sliding_distinct: window fan-out is an Expand/Explode map-side
    # step and the distinct agg keeps partial aggregation (no raw-row
    # shuffle of anything wider than (window, user_id))
    plan = plan_of(spark, "q_ts_sliding_distinct", sf_dir)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "ts" in read_schema and "user_id" in read_schema
    assert "value" not in read_schema and "props" not in read_schema


def test_dataset_card_text_dies_before_shuffle(spark, sf_dir):
    # q_pipeline_dataset_card: text is hashed map-side; the Exchange
    # carries md5/lang/source + partial counters, never the text column
    simple = plan_of(spark, "q_pipeline_dataset_card", sf_dir, mode="simple")
    # raw text may appear only at the map side: the scan itself and the
    # Expand that hashes it to md5 — every aggregate/exchange stage
    # above carries the 32-char digest, never the document body
    for line in simple.splitlines():
        if "text#" in line:
            assert "Expand" in line or "FileScan" in line, line


def test_spatial_grid_join_is_equi_join(spark, sf_dir):
    # the grid-cell bucketing must become a hash/broadcast EQUI-join on
    # (cell_x, cell_y) — never a cross/nested-loop over all point pairs
    plan = plan_of(spark, "q_join_spatial_grid", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)


def test_pq_codebook_joins_broadcast(spark, sf_dir):
    # both codebook joins (encode + ADC) are broadcasts of the tiny
    # centroid side; the corpus never shuffles for them
    plan = plan_of(spark, "q_sim_pq", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_charlm_model_join_broadcast(spark, sf_dir):
    # the bigram model (bounded by charset^2) must broadcast
    plan = plan_of(spark, "q_text_charlm", sf_dir)
    assert "BroadcastHashJoin" in plan


def test_ewma_single_shuffle(spark, sf_dir):
    # K in-frame lags over ONE user_id sort — exactly one Exchange
    simple = plan_of(spark, "q_ts_ewma", sf_dir, mode="simple")
    assert simple.count("Exchange") == 1


def test_islands_windows_share_one_sort_pass(spark, sf_dir):
    # both row_numbers partition by (a prefix of) user_id, and the
    # grouping keys are a superset of the shuffle key: one Exchange
    # for the windows + one for the final aggregation at most
    simple = plan_of(spark, "q_win_islands", sf_dir, mode="simple")
    assert simple.count("Exchange") <= 2


def test_bloom_probe_joins_broadcast_bit_table(spark, sf_dir):
    """q_agg_bloom: the <=m-row bit table is the broadcast side of the
    probe join (the semi-join-reduction shape), and the plan includes
    partial aggregation for the bit-distinct so shuffle bytes are
    bounded by m, not by insert count."""
    plan = plan_of(spark, "q_agg_bloom", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "HashAggregate" in plan


def test_seasonal_decompose_has_no_window(spark, sf_dir):
    """q_ts_seasonal: two partial-agg rollups + a broadcast 24-row
    profile join — no Window operator anywhere (the whole point of the
    seasonal-naive form vs a per-row window mean)."""
    plan = plan_of(spark, "q_ts_seasonal", sf_dir)
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_matryoshka_coarse_tier_broadcasts_probes(spark, sf_dir):
    """q_sim_matryoshka: the probe side is broadcast into the coarse
    cell-restricted join (same shape as q_sim_ivf); both rank windows
    are per-probe (partitioned), never single-partition."""
    plan = plan_of(spark, "q_sim_matryoshka", sf_dir, mode="simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # every Window in the plan carries the per-probe partition spec
    for line in plan.splitlines():
        if "Window [" in line or "WindowGroupLimit [" in line:
            assert "qid" in line, line


def test_distributed_rank_windows_are_bucket_partitioned(spark, sf_dir):
    """q_agg_gini (dist_rank consumer): the only Window over the
    unbounded per-user frame is partitioned by the bucket id; the sole
    partition-less Window consumes the bounded <=32-row bucket-totals
    aggregate (asserted structurally: it sits above an Exchange
    SinglePartition whose subtree aggregates by _b)."""
    plan = plan_of(spark, "q_agg_gini", sf_dir, mode="simple")
    lines = plan.splitlines()
    windows = [l for l in lines if "Window [" in l or l.strip().startswith("Window")]
    assert windows, "expected Window operators in the gini plan"
    partitionless = [l for l in windows if "_b" not in l]
    # exactly the offset window may be partition-less
    assert len(partitionless) <= 1, partitionless


# ---- round-5 operators ---------------------------------------------


def test_budget_cap_prefix_sum_is_per_source_two_phase(spark, sf_dir):
    # like q_pipeline_pack but partitioned per source: NO single-
    # partition window anywhere — the offsets window partitions by
    # source (16 bucket rows each), the big side by (source, bucket)
    simple = plan_of(spark, "q_pipeline_budget_cap", sf_dir, mode="simple")
    assert "Exchange SinglePartition" not in simple
    assert "windowspecdefinition(source" in simple


def test_corr_matrix_single_pass_no_join(spark, sf_dir):
    # 9 co-moments + n in ONE aggregate over one scan: partial agg
    # map-side, a single 1-row exchange, no join of any kind, and the
    # scan reads exactly the three measure columns
    plan = plan_of(spark, "q_agg_corr_matrix", sf_dir)
    simple = plan_of(spark, "q_agg_corr_matrix", sf_dir, mode="simple")
    assert simple.count("Exchange") == 1
    assert "SinglePartition" in simple
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert j not in simple
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_quantity" in read_schema and "l_discount" in read_schema
    assert "l_shipdate" not in read_schema and "l_comment" not in read_schema


def test_bitmap_distinct_avoids_expand(spark, sf_dir):
    # the whole point vs COUNT(DISTINCT): no Expand doubling the
    # shuffle; two narrow hash exchanges ((type, bucket) then type),
    # partial aggregation on both
    simple = plan_of(spark, "q_agg_bitmap", sf_dir, mode="simple")
    assert "Expand" not in simple
    assert simple.count("Exchange hashpartitioning") <= 2
    assert "BatchEvalPython" not in simple


def test_dq_profile_avoids_expand(spark, sf_dir):
    # VERDICT r8 weak item: six countDistincts in one aggregation
    # multiplied the orders scan through a 6-way Expand. The reworked
    # profiler must carry NO Expand at all: dense-int distincts ride
    # mergeable bitmaps, bounded-domain distincts ride melt + two-phase
    # dedup, and the final 6-row assembly is a broadcast join
    simple = plan_of(spark, "q_dq_profile", sf_dir, mode="simple")
    assert "Expand" not in simple
    assert "BatchEvalPython" not in simple
    assert "SortMergeJoin" not in simple
    assert "BroadcastHashJoin" in simple  # 6-row distinct frame joins tall


def test_kcore_peels_with_semi_joins(spark, sf_dir, monkeypatch):
    # both peel rounds filter the edge list with left-semi joins on the
    # surviving node sets — never a cartesian or per-round collect
    # (r13: edges/e1/e2 are checkpoint-materialized; inspect the
    # pre-barrier tree, which is what executes inside the checkpoints)
    simple = plan_of_unmaterialized(spark, "q_graph_kcore", sf_dir, monkeypatch, mode="simple")
    assert "CartesianProduct" not in simple
    assert "LeftSemi" in simple


def test_url_dedup_narrow_shuffles_no_udf(spark, sf_dir):
    # canonicalization is pure codegen (regex + HOF filter); the only
    # shuffles are the canonical-key aggregation pair (distinct-url
    # sub-aggregate + final group)
    simple = plan_of(spark, "q_dedup_url", sf_dir, mode="simple")
    assert "BatchEvalPython" not in simple and "ArrowEvalPython" not in simple
    assert simple.count("Exchange hashpartitioning") <= 2


def test_acf_broadcasts_denominator(spark, sf_dir):
    # the per-type denominator frame (|event types| rows) broadcasts;
    # the lag unpivot must not introduce a second corpus shuffle
    simple = plan_of(spark, "q_ts_acf", sf_dir, mode="simple")
    assert "BroadcastHashJoin" in simple
    assert "SortMergeJoin" not in simple


def test_multimodal_gate_single_arrow_pass(spark, sf_dir):
    # one mapInPandas decode pass feeding a 1-row conditional agg —
    # no shuffle other than the final SinglePartition gather
    simple = plan_of(spark, "q_multimodal_gate", sf_dir, mode="simple")
    assert "MapInPandas" in simple
    assert "Exchange hashpartitioning" not in simple


def test_pattern_match_reuses_window_partitioning(spark, sf_dir):
    # the window partitions by user_id; the downstream groupBy(user_id)
    # must reuse that distribution — exactly ONE hash exchange in the
    # whole plan, and no Python evaluation anywhere
    simple = plan_of(spark, "q_win_pattern_match", sf_dir, mode="simple")
    assert simple.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in simple and "ArrowEvalPython" not in simple


def test_semantic_dedup_cell_blocked_broadcast_centroids(
    spark, sf_dir, monkeypatch
):
    # pair generation must stay cell-blocked (equi-join on
    # (label, subcell), never a cartesian) and both centroid-side
    # frames (cells x dim, cells) must broadcast — the corpus shuffles
    # only for the centroid partial agg and the per-vector rollup.
    # The ONLY nested-loop joins allowed are the broadcast 1-row
    # ladder-choice injections (_with_subcell's params frame) — the
    # lazy alternative to a driver-side count, same as PLANES_LADDER.
    # r13: qt/cent/cosc are checkpoint-materialized; inspect the
    # pre-barrier tree, which is what executes inside the checkpoints
    simple = plan_of_unmaterialized(
        spark, "q_dedup_semantic", sf_dir, monkeypatch, mode="simple"
    )
    assert "CartesianProduct" not in simple
    assert simple.count("BroadcastNestedLoopJoin") == simple.count(
        "BroadcastNestedLoopJoin BuildRight, Cross"
    )
    assert simple.count("BroadcastHashJoin") >= 2


def test_embedding_dedup_cell_blocked(spark, sf_dir):
    # same contract for the embedding near-dup tier: the pair join is
    # an equi-join on (label, subcell); nested-loop joins only for the
    # broadcast 1-row ladder-choice frames
    simple = plan_of(spark, "q_dedup_embedding", sf_dir, mode="simple")
    assert "CartesianProduct" not in simple
    assert simple.count("BroadcastNestedLoopJoin") == simple.count(
        "BroadcastNestedLoopJoin BuildRight, Cross"
    )


def test_snapshot_incremental_keeps_rank_limit_pushdown(spark, sf_dir):
    # both folds are rn==1 window filters: WindowGroupLimit must push
    # a one-row-per-key limit below each shuffle (the property that
    # keeps "latest state per key" linear — same as q_replay_projection)
    simple = plan_of(spark, "q_replay_snapshot_incremental", sf_dir, mode="simple")
    assert "WindowGroupLimit" in simple
    assert "BatchEvalPython" not in simple and "ArrowEvalPython" not in simple


def test_incremental_dedup_shuffle_hash_never_broadcasts_never_selfjoins(spark, sf_dir):
    # the incremental contract (round-13 form): every join against a
    # corpus-sized frame SHUFFLE_HASH-builds on the SHARD side's
    # NARROW frames (digests, band buckets, leading-shingle
    # fingerprints, candidates) — the corpus streams; a SortMergeJoin
    # would mean a corpus-sized sort crept in, and a cartesian/cross
    # join would mean the asymmetric pairing regressed to all-pairs.
    # NO BroadcastExchange anywhere: the prior hard F.broadcast hints
    # on the shard frames OOM'd the 100x sweep
    # (notEnoughMemoryToBuildAndBroadcastTableError) once the shard
    # outgrew driver build memory — the shuffle-hash build is
    # size-unbounded and this lock keeps the OOM shape from returning.
    simple = plan_of(spark, "q_dedup_incremental", sf_dir, mode="simple")
    assert "SortMergeJoin" not in simple
    assert "CartesianProduct" not in simple
    assert "BroadcastNestedLoopJoin" not in simple
    assert "BroadcastExchange" not in simple
    assert "BroadcastHashJoin" not in simple
    assert "ShuffledHashJoin" in simple


# ---- round-7 data-quality family ---------------------------------- #


def test_dq_expectations_single_pruned_scan(spark, sf_dir):
    # one aggregation pass over orders: exactly one scan, reading only
    # the five columns the checks touch (uniqueness's exact-distinct
    # Expand is the declared cost of the check)
    plan = plan_of(spark, "q_dq_expectations", sf_dir)
    # formatted mode prints each scan node twice (tree + detail) —
    # count file-index detail lines, one per scan
    assert plan.count("InMemoryFileIndex") == 1
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    for col in ["o_orderkey", "o_custkey", "o_orderdate", "o_totalprice", "o_orderstatus"]:
        assert col in read_schema
    assert "o_orderpriority" not in read_schema


def test_dq_referential_shuffles_never_broadcasts_parent(spark, sf_dir):
    # the parent snapshot is a constant fraction of the orders FACT —
    # broadcasting it is a toy-scale-only shape (the q_tpch_q5_shape
    # lesson). Both sides must shuffle on the key; the status filter
    # must reach the parquet reader.
    simple = plan_of(spark, "q_dq_referential", sf_dir, mode="simple")
    assert "ShuffledHashJoin" in simple
    assert "BroadcastHashJoin" not in simple
    plan = plan_of(spark, "q_dq_referential", sf_dir)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l and "o_orderstatus" in l]
    assert pushed and "EqualTo(o_orderstatus,F)" in pushed[0]


def test_dq_drift_psi_single_scan_per_feature_builder(spark, sf_dir):
    # the tall (feature, bucket) frame comes from ONE events scan via
    # explode(array(struct..)) — one Generate, plus the 1-row bounds
    # frame (its own scan + broadcast); no cartesian wider than the
    # broadcast-1-row cross join
    simple_tree = plan_of(spark, "q_dq_drift_psi", sf_dir, mode="simple")
    assert simple_tree.count("Generate explode") == 1
    # two scans total: the tall builder and the min/max bounds frame
    plan = plan_of(spark, "q_dq_drift_psi", sf_dir)
    assert plan.count("InMemoryFileIndex") == 2
    simple = plan_of(spark, "q_dq_drift_psi", sf_dir, mode="simple")
    assert "CartesianProduct" not in simple


def test_dq_outliers_reuses_median_exchange(spark, sf_dir):
    # dev carries only (group, deviation) so BOTH its consumers prune
    # identically and the median broadcast is planned once: the
    # executed plan must collapse the duplicated subtrees to
    # ReusedExchange (3 narrow fact scans, not 6 — see quality.py)
    df = REGISTRY["q_dq_outliers"].fn(spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    final = executed.split("+- == Initial Plan ==")[0]
    assert final.count("ReusedExchange") >= 2
    assert final.count("FileScan parquet") <= 3


def test_keepbest_single_exchange_serves_all_windows(spark, sf_dir):
    # rank, membership count, and token sum all partition on
    # cluster_key: ONE Exchange feeds every window — and only the
    # (16-byte hash, id, count) triple shuffles, never the text
    simple = plan_of(spark, "q_dedup_keepbest", sf_dir, mode="simple")
    assert simple.count("Exchange hashpartitioning") == 1
    assert simple.count("Window") == 2  # rank window + unbounded-frame pair
    exchange_line = [
        l for l in simple.splitlines() if "Exchange hashpartitioning" in l
    ][0]
    assert "cluster_key" in exchange_line


def test_label_prop_histograms_stay_bounded(spark, sf_dir):
    # each vote pass aggregates (node, label) BEFORE its argmax window:
    # the windows sort per-node label histograms (bounded by the 25-
    # nation alphabet), never raw edges — partial aggregation must sit
    # under both vote shuffles
    simple = plan_of(spark, "q_graph_label_prop", sf_dir, mode="simple")
    assert "partial_count" in simple
    assert simple.count("row_number() windowspecdefinition") == 2
    # the argmax rank-limit pushes map-side: only one candidate label
    # per node per task reaches each window shuffle
    assert simple.count("row_number(), 1, Partial") == 2
    assert "CartesianProduct" not in simple


def test_holtwinters_python_sees_only_bounded_series(spark, sf_dir):
    # the pandas fold receives the gap-filled hourly rollup (types x
    # hours), never raw events: the count aggregation must sit BELOW
    # FlatMapGroupsInPandas, and the rollup side arrives broadcast
    simple = plan_of(spark, "q_ts_holtwinters", sf_dir, mode="simple")
    assert "FlatMapGroupsInPandas" in simple
    agg_pos = simple.index("HashAggregate")
    py_pos = simple.index("FlatMapGroupsInPandas")
    assert py_pos < agg_pos  # tree prints top-down: python above the aggs
    assert "BroadcastHashJoin" in simple


def test_tpch_q3_keeps_both_broadcasts_under_aqe(spark, sf_dir):
    # round-6 verdict watch item: q3's bench drift is only env noise
    # while AQE keeps BOTH joins broadcast (filtered customer builds
    # against orders; filtered customer⋈orders builds against
    # lineitem). A demotion to sort-merge would be a real regression,
    # so pin the AQE-final shape, not the static estimate.
    df = REGISTRY["q_tpch_q3_shape"].fn(spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    final = executed.split("+- == Initial Plan ==")[0]
    assert final.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in final


def test_knn_graph_shuffles_on_cell_never_broadcasts_corpus(spark, sf_dir, monkeypatch):
    # corpus x corpus self-join: the toy-scale estimate would broadcast
    # one whole copy; the pinned shape shuffles both sides once on the
    # adaptive (label, subcell) cell key — the probe side on its
    # exploded hamming<=1 key — with exactly ONE pair join and no
    # sort-merge. The only broadcast joins are the two 1-row ladder
    # params cross-joins (BroadcastNestedLoopJoin), one of which the
    # executed plan collapses to a ReusedExchange.
    # r13: the subcell frame is checkpoint-materialized; inspect the
    # pre-barrier tree (what executes inside the checkpoint)
    simple = plan_of_unmaterialized(spark, "q_sim_knn_graph", sf_dir, monkeypatch, mode="simple")
    assert simple.count("ShuffledHashJoin") == 1
    assert "BroadcastHashJoin" not in simple
    assert "SortMergeJoin" not in simple
    df = REGISTRY["q_sim_knn_graph"].fn(spark, sf_dir)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString().split(
        "+- == Initial Plan =="
    )[0]
    # probe-side and build-side exchanges key differently, so the two
    # corpus scans cannot merge — but the shared params broadcast must
    assert final.count("FileScan parquet") == 3
    assert final.count("ReusedExchange") >= 1
    assert final.count("BroadcastHashJoin") == 0


def test_bfs_frontier_joins_avoid_sorts(spark, sf_dir, monkeypatch):
    # every frontier semi/anti probe must be shuffle-hash: no
    # SortMergeJoin (frontier joins need no order) and no cartesian;
    # the only nested-loop joins are the 1-row count broadcasts
    # r13: frontiers are checkpoint-materialized; inspect pre-barrier
    simple = plan_of_unmaterialized(spark, "q_graph_bfs", sf_dir, monkeypatch, mode="simple")
    assert "SortMergeJoin" not in simple
    assert "CartesianProduct" not in simple
    # 3 semi + 2 anti hops, each re-derived in the count branches that
    # exchange reuse later collapses — at least the 5 distinct hops
    assert simple.count("ShuffledHashJoin") >= 5


def test_freshness_single_fact_pass_plus_broadcast_watermark(spark, sf_dir):
    # the global high-water mark joins in as a 1-row broadcast (never a
    # driver-side collect) and the per-type rollup is one hash exchange
    simple = plan_of(spark, "q_dq_freshness", sf_dir, mode="simple")
    assert "BroadcastNestedLoopJoin" in simple
    assert simple.count("Exchange hashpartitioning") == 1
    plan = plan_of(spark, "q_dq_freshness", sf_dir)
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    # both scans prune: nothing beyond event_type + ts reaches parquet
    for l in reads:
        assert "props" not in l and "value" not in l and "user_id" not in l


def test_containment_shuffles_shingle_pairs_not_text(spark, sf_dir):
    # the shingle equi-join must key on the shingle with only doc ids
    # riding along — document text never reaches an exchange
    plan = plan_of(spark, "q_dedup_containment", sf_dir)
    ex_lines = [l for l in plan.splitlines() if "Exchange" in l]
    assert not any("text#" in l for l in ex_lines)
    simple = plan_of(spark, "q_dedup_containment", sf_dir, mode="simple")
    assert "CartesianProduct" not in simple


def test_curriculum_windows_are_sliced_never_global_over_data(spark, sf_dir):
    # two global orders, zero data-sized single-partition windows: the
    # length rank is dist_rank (_b value buckets), the in-stage shuffle
    # rank is partitioned by (stage, hex bucket); the only
    # partition-less windows are the bounded offset frames (<=32 rows
    # for dist_rank, 64 for the stage/hex offsets)
    simple = plan_of(spark, "q_pipeline_curriculum", sf_dir, mode="simple")
    data_sized = [
        l
        for l in simple.splitlines()
        if "windowspecdefinition" in l
        and "_b" not in l  # dist_rank slices + its bounded offset frame
        and "stage" not in l  # (stage, b) slices + their offset frame
    ]
    assert not data_sized, data_sized


def test_epoch_plan_is_one_grouped_pass_plus_scalar_broadcast(spark, sf_dir):
    # one hash exchange for the per-source rollup; the totals arrive as
    # a 1-row broadcast (nested-loop), nothing else moves
    simple = plan_of(spark, "q_pipeline_epoch_plan", sf_dir, mode="simple")
    assert simple.count("Exchange hashpartitioning") <= 2
    assert "BroadcastNestedLoopJoin" in simple
    assert "CartesianProduct" not in simple
    assert "windowspecdefinition" not in simple


# ---- round-8 additions ------------------------------------------------ #


def test_hilbert_is_one_fused_codegen_pass(spark, sf_dir):
    # the 8 chained xy2d steps must fuse: ONE scan, the top-200 probe
    # via TakeOrderedAndProject (per-task heap, no global sort
    # exchange), zero joins, zero Python
    simple = plan_of(spark, "q_sort_hilbert", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "TakeOrderedAndProject" in simple
    assert "Exchange hashpartitioning" not in simple
    assert "Join" not in simple
    assert "BatchEvalPython" not in simple
    plan = plan_of(spark, "q_sort_hilbert", sf_dir)
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    for l in reads:
        assert "o_totalprice" not in l and "o_comment" not in l


def test_reservoir_is_one_exchange_with_group_limit(spark, sf_dir):
    # per-group top-k by seeded hash: one exchange on the group key,
    # WindowGroupLimit capping map-side AND post-shuffle; the scan
    # prunes to (event_type, event_id)
    simple = plan_of(spark, "q_sample_reservoir", sf_dir, mode="simple")
    assert simple.count("Exchange hashpartitioning") == 1
    assert simple.count("WindowGroupLimit") == 2
    plan = plan_of(spark, "q_sample_reservoir", sf_dir)
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    for l in reads:
        assert "value" not in l and "props" not in l and "user_id" not in l


def test_volume_anomaly_rollup_then_spine_sized(spark, sf_dir):
    # one fact rollup exchange + one spine window exchange; the spine
    # join broadcasts (bounds frame is types-sized); nothing re-reads
    # the fact at event grain
    simple = plan_of(spark, "q_dq_volume_anomaly", sf_dir, mode="simple")
    assert simple.count("Exchange hashpartitioning") == 2
    assert "SortMergeJoin" not in simple
    plan = plan_of(spark, "q_dq_volume_anomaly", sf_dir)
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    for l in reads:
        assert "value" not in l and "props" not in l and "user_id" not in l


def test_backtest_windows_share_one_exchange(spark, sf_dir):
    # lag + trailing-sum windows and the final per-type agg all ride
    # the event_type partitioning: 2 exchanges total (rollup + window),
    # errors stay integer (no decimal/double cast before the agg)
    simple = plan_of(spark, "q_ts_backtest", sf_dir, mode="simple")
    assert simple.count("Exchange hashpartitioning") == 2
    assert "SortMergeJoin" not in simple
    assert "BatchEvalPython" not in simple


def test_kl_divergence_derives_all_frames_from_one_count(spark, sf_dir):
    # the executed plan must collapse the shared (source, term) count
    # subtree via ReusedExchange (the naive five-frame form re-tokenizes
    # the corpus five times), and the dense join must be shuffle-hash —
    # the count frame is corpus-vocab-sized at scale, never broadcast
    df = REGISTRY["q_text_kl_divergence"].fn(spark, sf_dir)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString().split(
        "+- == Initial Plan =="
    )[0]
    assert final.count("ReusedExchange") >= 2
    assert final.count("FileScan parquet") <= 3
    assert final.count("ShuffledHashJoin") == 1
    assert final.count("BroadcastHashJoin") == 0


def test_perplexity_count_joins_are_shuffle_hash(spark, sf_dir):
    # both LM count frames (bigram, unigram) are corpus-vocab-sized:
    # the pinned shape shuffles the probe side onto them — a broadcast
    # would OOM at 100 TB vocabulary
    simple = plan_of(spark, "q_text_perplexity", sf_dir, mode="simple")
    assert simple.count("ShuffledHashJoin") == 2
    assert "BroadcastHashJoin" not in simple
    assert "SortMergeJoin" not in simple
    assert "BatchEvalPython" not in simple


def test_clip_gate_shuffles_both_corpus_sides(spark, sf_dir):
    # documents x embeddings id join: both sides corpus-sized at scale,
    # so the pinned plan is shuffle-hash; the payload text never
    # reaches an exchange (byte_len is computed in the scan projection)
    simple = plan_of(spark, "q_multimodal_clip_gate", sf_dir, mode="simple")
    assert simple.count("ShuffledHashJoin") == 1
    assert "BroadcastHashJoin" not in simple
    plan = plan_of(spark, "q_multimodal_clip_gate", sf_dir)
    ex_lines = [l for l in plan.splitlines() if "Exchange" in l]
    assert not any("text#" in l for l in ex_lines)


def test_bpe_train_truncates_lineage_between_merges(spark, sf_dir):
    # each merge must consume the PREVIOUS level's materialized corpus
    # (localCheckpoint -> ExistingRDD scan), not re-derive the whole
    # rewrite chain — the property that keeps k merges at k corpus
    # passes instead of k^2/2
    df = REGISTRY["q_text_bpe_train"].fn(spark, sf_dir)
    simple = explain_str(df, "simple")
    assert "ExistingRDD" in simple
    assert "BatchEvalPython" not in simple
    assert "SortMergeJoin" not in simple


def test_bpe_apply_is_broadcast_rewrite_chain(spark, sf_dir):
    # tokenizer deployment: each merge entry rides a 1-row broadcast
    # into a codegen string rewrite — the encode pass must never
    # shuffle the corpus (no exchange carrying text) nor sort-merge
    df = REGISTRY["q_text_bpe_apply"].fn(spark, sf_dir)
    simple = explain_str(df, "simple")
    assert simple.count("BroadcastNestedLoopJoin") == 3  # one per merge
    assert "SortMergeJoin" not in simple
    assert "ShuffledHashJoin" not in simple
    assert "BatchEvalPython" not in simple


def test_binaryfile_source_is_shuffle_free_map(spark, sf_dir):
    # blob dir -> (name, len, sha): parallel by file, pure projection,
    # no exchange of any kind
    df = REGISTRY["q_source_binaryfile"].fn(spark, sf_dir)
    simple = explain_str(df, "simple")
    assert "binaryFile" in simple
    assert "Exchange" not in simple
    assert "Join" not in simple
    # the scan lists the blob directory itself and filters names by
    # pathGlobFilter, not a glob expanded to one root path per file
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    assert leaves.size() == 1
    paths = leaves.apply(0).relation().location().rootPaths()
    roots = [paths.apply(i).toUri().getPath() for i in range(paths.size())]
    assert roots == [scratch_dir(sf_dir, "binary_blob")], roots


def test_geo_family_is_single_pruned_scan(spark, sf_dir):
    # scalar family: one scan, no shuffle, pushdown on event_id, and
    # only (event_id, user_id) reach the parquet reader
    simple = plan_of(spark, "q_fn_geo", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "Exchange" not in simple
    plan = plan_of(spark, "q_fn_geo", sf_dir)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "event_id" in pushed and "LessThan" in pushed
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    for l in reads:
        assert "value" not in l and "props" not in l and "event_type" not in l


def test_hybrid_search_lexical_joins_never_broadcast_vocab(spark, sf_dir):
    # the BM25 candidate join keys on term against corpus-vocab-sized
    # count frames (tf/df/dl): all shuffle-hash; the only broadcasts
    # are the 5-row query frames and 1-row stats scalars; the executed
    # plan must reuse the shared tf exchange rather than re-tokenize
    df = REGISTRY["q_sim_hybrid_search"].fn(spark, sf_dir)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString().split(
        "+- == Initial Plan =="
    )[0]
    assert final.count("ShuffledHashJoin") >= 3
    assert final.count("ReusedExchange") >= 2
    # vector side broadcasts only the bounded query frame; the corpus
    # candidate side must not be a broadcast build
    simple = plan_of(spark, "q_sim_hybrid_search", sf_dir, mode="simple")
    assert "CartesianProduct" not in simple


def test_profile_is_three_pruned_passes(spark, sf_dir):
    # r9 rework (supersedes the r8 one-pass-with-Expand pin): three
    # column-pruned scans — plain metrics, bitmap distincts, melt
    # distincts — and never one job per column; the Expand ban itself
    # is test_dq_profile_avoids_expand
    simple = plan_of(spark, "q_dq_profile", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 3
    assert "Expand" not in simple


def test_vocab_build_rank_is_two_phase(spark, sf_dir):
    # the vocab frame must never pass through a single-partition global
    # window: local ranks partition by (cnt, pfx); only the tiny
    # distinct-bucket offsets frame may hit SinglePartition
    simple = plan_of(spark, "q_text_vocab_build", sf_dir, mode="simple")
    assert simple.count("Exchange SinglePartition") <= 1
    assert "windowspecdefinition(cnt" in simple
    assert "partial_count" in simple  # map-side combine on token counts
    assert "BatchEvalPython" not in simple


def test_weighted_percentile_windows_value_domain(spark, sf_dir):
    # raw facts must collapse to per-(group, value) partial sums BEFORE
    # the cumulative window (the domain-bounded frame), and the totals
    # frame joins via broadcast
    simple = plan_of(spark, "q_agg_weighted_percentile", sf_dir, mode="simple")
    assert "partial_sum" in simple  # map-side combine before the shuffle
    assert "windowspecdefinition(grp" in simple
    assert "BroadcastHashJoin" in simple
    assert "SortMergeJoin" not in simple
    assert "BatchEvalPython" not in simple


def test_temperature_is_single_tiny_agg(spark, sf_dir):
    # ONE per-source aggregate over ONE pruned single-column scan; the
    # totals ride a global window over the post-agg sources frame (a
    # second aggregate branch would re-scan the corpus)
    simple = plan_of(spark, "q_pipeline_temperature", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "partial_count" in simple
    assert "Join" not in simple
    plan = plan_of(spark, "q_pipeline_temperature", sf_dir)
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert all("text" not in l and "doc_id" not in l for l in reads)


def test_csv_malformed_read_is_shuffle_free_agg(spark, sf_dir):
    # the measured path is a schema'd CSV scan + one global aggregate:
    # partial agg per task, single-row final merge, no joins
    simple = plan_of(spark, "q_source_csv_malformed", sf_dir, mode="simple")
    assert "FileScan csv" in simple
    assert "Join" not in simple
    assert "partial_count" in simple


def test_kneser_ney_model_frames_shuffle_hash(spark, sf_dir):
    # all three model frames (bigram counts, context stats, continuation
    # counts) are corpus-vocab-sized: shuffle-hash, never broadcast; the
    # only broadcast is the 1-row bigram-type count
    simple = plan_of(spark, "q_text_kneser_ney", sf_dir, mode="simple")
    assert simple.count("ShuffledHashJoin") == 3
    assert "BroadcastHashJoin" not in simple
    assert "SortMergeJoin" not in simple
    assert "BatchEvalPython" not in simple


def test_manifest_prune_actually_skips_files(spark, sf_dir):
    # the manifest plan must keep strictly fewer than half the files on
    # the date-clustered fixture (a no-op manifest would still be
    # oracle-correct — this pins that the SKIPPING is real), and the
    # pruned read is a plain scan + aggregate, no joins
    from pokertracker_cassandra_st_spark.operators.scans import _manifest_frame

    df = REGISTRY["q_scan_manifest_prune"].fn(spark, sf_dir)
    simple = explain_str(df, "simple")
    assert "Join" not in simple
    m = _manifest_frame(spark, sf_dir).toPandas()
    total, kept = len(m), int(m["kept"].sum())
    assert kept >= 1
    assert kept <= total / 2, f"manifest kept {kept}/{total} files — no skipping"


def test_dataset_diff_shuffles_digests_only(spark, sf_dir):
    # both snapshot manifests collapse to (id, source, md5) in the scan
    # projection: no exchange line may carry the text column
    plan = plan_of(spark, "q_pipeline_dataset_diff", sf_dir)
    ex_lines = [l for l in plan.splitlines() if "Exchange" in l]
    assert not any("text#" in l for l in ex_lines)
    simple = plan_of(spark, "q_pipeline_dataset_diff", sf_dir, mode="simple")
    assert "FullOuter" in simple
    assert "BatchEvalPython" not in simple


def test_twa_single_exchange(spark, sf_dir):
    # lead() window and the per-user aggregate share ONE hash exchange
    # on user_id (the q_ts_sessionize shape)
    simple = plan_of(spark, "q_ts_twa", sf_dir, mode="simple")
    assert simple.count("Exchange") == 1
    assert "Window" in simple
    assert "BatchEvalPython" not in simple


def test_basket_pairs_order_local_expansion(spark, sf_dir):
    # the pair self-join keys on the ORDER (bounded baskets -> linear
    # pair volume), part-frequency frames join shuffle-hash, the 1-row
    # order count broadcasts, and the top-20 rides the heap operator
    simple = plan_of(spark, "q_agg_basket_pairs", sf_dir, mode="simple")
    assert simple.count("ShuffledHashJoin") >= 2
    assert "CartesianProduct" not in simple
    assert "TakeOrderedAndProject" in simple
    assert "BatchEvalPython" not in simple


def test_webdataset_reingest_single_exchange(spark, sf_dir):
    # the re-ingest path: binaryFile scan -> Arrow unpack -> ONE shard
    # exchange for the audit aggregate; payloads never shuffle raw
    # (the export side's group exchange is the separate write job)
    df = REGISTRY["q_multimodal_webdataset_roundtrip"].fn(spark, sf_dir)
    simple = explain_str(df, "simple")
    assert "binaryFile" in simple
    assert "MapInPandas" in simple
    assert simple.count("Exchange hashpartitioning") == 1


def test_rate_single_exchange(spark, sf_dir):
    # lag() window and the per-user aggregate share ONE hash exchange
    # on user_id; all arithmetic exact decimal until the final divide
    simple = plan_of(spark, "q_ts_rate", sf_dir, mode="simple")
    assert simple.count("Exchange") == 1
    assert "Window" in simple
    assert "BatchEvalPython" not in simple


def test_decay_sum_broadcasts_highwater(spark, sf_dir):
    # the high-water anchor is a 1-row broadcast aggregate frame, never
    # a driver-side max() roundtrip; the score is one partial-agg
    # groupBy on user_id
    simple = plan_of(spark, "q_agg_decay_sum", sf_dir, mode="simple")
    assert "BroadcastNestedLoopJoin" in simple or "BroadcastExchange" in simple
    assert "partial_count" in simple
    assert "SortMergeJoin" not in simple
    assert "BatchEvalPython" not in simple


def test_reconciliation_detail_collapses_before_join(spark, sf_dir):
    # the detail side must partial-aggregate to one row per order
    # BEFORE the header join (shuffle carries per-order sums, not
    # line items), and both sides hash-join — no broadcast of a
    # fact-sized frame, no nested loop
    simple = plan_of(spark, "q_dq_reconciliation", sf_dir, mode="simple")
    assert "partial_sum" in simple
    assert "BroadcastNestedLoopJoin" not in simple
    assert "BatchEvalPython" not in simple


# ---- round-10 additions -------------------------------------------------- #


def test_tpch_q10_pushdown_shuffle_hash_topk(spark, sf_dir):
    # both selective filters reach their parquet scans; the fact-fact
    # join is SHUFFLE_HASH building on the quarter-filtered orders
    # (never a fact broadcast or sort); customer + nation broadcast;
    # the top-20 is a TakeOrdered, not a global sort
    plan = plan_of(spark, "q_tpch_q10_shape", sf_dir)
    pushed = "\n".join(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "EqualTo(l_returnflag,R)" in pushed
    assert "GreaterThanOrEqual(o_orderdate" in pushed
    simple = plan_of(spark, "q_tpch_q10_shape", sf_dir, mode="simple")
    assert "ShuffledHashJoin" in simple and "BuildLeft" in simple
    assert simple.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in simple
    assert "TakeOrderedAndProject(limit=20" in simple


def test_fn_ip_is_pure_map(spark, sf_dir):
    # scalar family: zero exchanges, two-column pruned scan, no Python
    simple = plan_of(spark, "q_fn_ip", sf_dir, mode="simple")
    assert "Exchange" not in simple
    assert "BatchEvalPython" not in simple
    plan = plan_of(spark, "q_fn_ip", sf_dir)
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "event_id" in read and "user_id" in read
    assert "props" not in read and "value" not in read


def test_join_cidr_is_prefix_equi_not_theta(spark, sf_dir):
    # the containment join must plan as a HASH join on the /16 prefix
    # cell (residual range as join condition) — never a nested-loop
    # theta join, which is the quadratic shape the operator exists to
    # avoid
    simple = plan_of(spark, "q_join_cidr", sf_dir, mode="simple")
    assert "BroadcastHashJoin" in simple
    assert "NestedLoop" not in simple
    assert "SortMergeJoin" not in simple
    assert "partial_count" in simple  # map-side combine after the join


def test_winsorized_mean_broadcasts_bounds(spark, sf_dir):
    # pass 1: partial percentile per group; pass 2: the 5-row bounds
    # frame BROADCASTS back onto the fact scan (no fact-side shuffle
    # for the clamp)
    simple = plan_of(spark, "q_agg_winsorized_mean", sf_dir, mode="simple")
    assert "partial_percentile" in simple
    assert "BroadcastHashJoin" in simple
    assert "SortMergeJoin" not in simple
    assert "BatchEvalPython" not in simple


def test_text_zipf_single_scan_topk(spark, sf_dir):
    # ONE corpus scan feeds the token count; the top-K is a TakeOrdered
    # (no global sort of the vocabulary); the OLS tail runs on K rows
    simple = plan_of(spark, "q_text_zipf", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "TakeOrderedAndProject" in simple
    assert "partial_count" in simple
    assert "BatchEvalPython" not in simple


def test_ts_peaks_single_exchange_fused_window(spark, sf_dir):
    # lag and lead share ONE window node over ONE hash exchange on
    # user_id — one sort, two frame reads
    simple = plan_of(spark, "q_ts_peaks", sf_dir, mode="simple")
    assert simple.count("Exchange") == 1
    assert simple.count("Window") == 1
    assert "BatchEvalPython" not in simple


def test_ts_crossover_single_exchange(spark, sf_dir):
    # both rolling sums + row counter + the lag all ride ONE hash
    # exchange on user_id and ONE sort (same-spec windows fuse)
    simple = plan_of(spark, "q_ts_crossover", sf_dir, mode="simple")
    assert simple.count("Exchange") == 1
    assert simple.count("Sort ") == 1
    assert "BatchEvalPython" not in simple


def test_dq_benford_single_scan_no_join(spark, sf_dir):
    # one corpus scan, the digit groupBy partial-aggregates map-side,
    # and the total comes from a 9-row window — no second scan, no join
    simple = plan_of(spark, "q_dq_benford", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "Join" not in simple
    assert "partial_count" in simple
    assert simple.count("Exchange SinglePartition") == 1  # the 9-row window


def test_loss_mask_counts_without_explode(spark, sf_dir):
    # token counting stays per-row (size of split — no Generate/explode
    # fan-out); one scan, one tiny aggregate, no joins
    simple = plan_of(spark, "q_pipeline_loss_mask", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "Generate" not in simple
    assert "Join" not in simple
    assert "partial_sum" in simple


def test_aspect_bucket_arrow_decode_then_tiny_agg(spark, sf_dir):
    # the stubbed decode is ONE MapInPandas pass; everything after is
    # codegen'd integer bucketing + a 5-group partial aggregate
    simple = plan_of(spark, "q_multimodal_aspect_bucket", sf_dir, mode="simple")
    assert simple.count("MapInPandas") == 1
    assert "partial_count" in simple
    assert simple.count("FileScan parquet") == 1


def test_two_stage_rerank_never_shuffles_vectors(spark, sf_dir):
    # the coarse rank's hash exchanges carry (qid, cid, score) ONLY —
    # embedding arrays must not cross a hash partitioning (at corpus
    # scale that exchange is queries x corpus rows); the coarse pass is
    # the broadcast-probe tier and stage 2 re-attaches vectors via
    # broadcast hash joins
    simple = plan_of(spark, "q_sim_two_stage_rerank", sf_dir, mode="simple")
    emb_ex = [
        l
        for l in simple.splitlines()
        if "Exchange hashpartitioning" in l and "emb" in l
    ]
    assert not emb_ex, f"vector columns cross a hash exchange: {emb_ex}"
    assert simple.count("BroadcastHashJoin") == 2  # stage-2 re-attach
    assert "BatchEvalPython" not in simple


def test_stream_zscore_scores_on_sink(spark, sf_dir):
    # the scoring tail is a window over the materialized sink (windows
    # x types rows) — no join back to anything event-sized
    simple = plan_of(spark, "q_stream_zscore", sf_dir, mode="simple")
    assert "Window" in simple
    assert "Join" not in simple


def test_scd2_pointintime_is_keyed_hash_join(spark, sf_dir):
    # the temporal lookup must plan as a HASH join on the entity key
    # with the validity interval as residual — never a nested-loop
    # range join; version build shares the user_id window shape
    simple = plan_of(spark, "q_join_scd2_pointintime", sf_dir, mode="simple")
    assert "ShuffledHashJoin" in simple
    assert "NestedLoop" not in simple
    assert "SortMergeJoin" not in simple
    assert simple.count("Window") == 1  # one lead() pass builds versions


def test_functional_dep_is_three_grouped_distincts(spark, sf_dir):
    # three independent FD branches (pruned scans), each a two-phase
    # grouped distinct + 1-row rollup, unioned — no joins anywhere
    simple = plan_of(spark, "q_dq_functional_dep", sf_dir, mode="simple")
    assert "Join" not in simple
    assert simple.count("FileScan parquet") == 3
    assert "Union" in simple
    assert "partial_count" in simple


def test_dedup_template_shuffles_fingerprints_only(spark, sf_dir):
    # the mask+hash runs scan-side: no exchange line may carry text
    plan = plan_of(spark, "q_dedup_template", sf_dir)
    ex = [l for l in plan.splitlines() if "Exchange" in l]
    assert ex and not any("text#" in l for l in ex)
    simple = plan_of(spark, "q_dedup_template", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "partial_count" in simple


def test_ts_drawdown_single_exchange(spark, sf_dir):
    # running peak + drawdown + rank all ride ONE hash exchange on
    # user_id (the rank re-sorts within partitions, no re-shuffle)
    simple = plan_of(spark, "q_ts_drawdown", sf_dir, mode="simple")
    assert simple.count("Exchange") == 1
    assert "BatchEvalPython" not in simple


def test_cuped_is_one_rollup_plus_moments(spark, sf_dir):
    # one fact pass rolls BOTH periods per user (CASE sums, no
    # period-join); midpoint bounds ride a 1-row broadcast; moments
    # partial-aggregate
    simple = plan_of(spark, "q_agg_cuped", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 2  # bounds + rollup
    assert simple.count("BroadcastNestedLoopJoin") == 1  # the 1-row bounds
    assert "partial_sum" in simple
    assert "BatchEvalPython" not in simple


def test_adamic_adar_pairs_on_shared_neighbor(spark, sf_dir, monkeypatch):
    # pair generation keys on the shared customer (hash joins only —
    # never supplier x supplier nested loop); degree weights attach
    # BEFORE pair expansion; top-20 is a TakeOrdered
    # r13: edges/w are checkpoint-materialized; inspect pre-barrier
    simple = plan_of_unmaterialized(spark, "q_graph_adamic_adar", sf_dir, monkeypatch, mode="simple")
    assert "NestedLoop" not in simple
    assert "ShuffledHashJoin" in simple
    assert "TakeOrderedAndProject" in simple
    assert "partial_sum" in simple


def test_span_corruption_is_shuffle_free(spark, sf_dir):
    # the whole plan is per-row array arithmetic: no exchange, no
    # explode fan-out, one pruned scan
    simple = plan_of(spark, "q_pipeline_span_corruption", sf_dir, mode="simple")
    assert "Exchange" not in simple
    assert "Generate" not in simple
    assert simple.count("FileScan parquet") == 1
    assert "BatchEvalPython" not in simple


def test_jsonl_nested_reads_with_explicit_schema(spark, sf_dir):
    # the re-read must be a schema'd JSON scan (no inferSchema double
    # pass); the flatten explodes BEFORE a map-side-combined aggregate
    simple = plan_of(spark, "q_source_jsonl_nested", sf_dir, mode="simple")
    assert "FileScan json" in simple
    assert "Generate" in simple  # the tags explode
    assert "partial_count" in simple
    assert "BatchEvalPython" not in simple


def test_text_keywords_topk_pushes_rank_limit(spark, sf_dir):
    # per-doc top-3 gets rank-limit pushdown (per-task 3-heaps, never a
    # full sort of the (doc, term) frame); scoring joins SHUFFLE_HASH
    # on the vocab-sized df frame; corpus doc count is a 1-row broadcast
    simple = plan_of(spark, "q_text_keywords", sf_dir, mode="simple")
    assert "WindowGroupLimit" in simple
    assert "ShuffledHashJoin" in simple
    assert "SortMergeJoin" not in simple
    assert "BatchEvalPython" not in simple


def test_cell_stats_is_two_tiny_aggregates(spark, sf_dir, monkeypatch):
    # cell assignment is a narrow map (ladder choice = 1-row broadcast);
    # then one (label, subcell) count and one label rollup — no joins
    # beyond the 1-row nested-loop broadcast
    # (r13: pre-barrier tree — the subcell frame is checkpointed)
    simple = plan_of_unmaterialized(spark, "q_sim_cell_stats", sf_dir, monkeypatch, mode="simple")
    assert simple.count("BroadcastNestedLoopJoin") == 1  # the ladder row
    assert "ShuffledHashJoin" not in simple
    assert "SortMergeJoin" not in simple
    assert "partial_count" in simple


def test_share_of_total_single_fact_lineage(spark, sf_dir):
    # top-3 and OTHER come from ONE CASE-keyed rollup — exactly one
    # lineitem scan (a union of rank branches would re-scan the fact)
    simple = plan_of(spark, "q_agg_share_of_total", sf_dir, mode="simple")
    li_scans = [
        l for l in simple.splitlines() if "FileScan" in l and "lineitem" in l
    ]
    assert len(li_scans) == 1, f"lineitem scanned {len(li_scans)}x"
    assert "Union" not in simple
    assert "partial_sum" in simple


def test_concurrency_single_scan_single_exchange(spark, sf_dir):
    # markers explode from one scan; running sum + peak rank share one
    # event_type exchange
    simple = plan_of(spark, "q_ts_concurrency", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert simple.count("Exchange") == 1
    assert "WindowGroupLimit" in simple  # the rk=1 peak pick


def test_rolling_median_single_window_pass(spark, sf_dir):
    # bounded 9-row frame: one exchange, one sort, one window node
    simple = plan_of(spark, "q_ts_rolling_median", sf_dir, mode="simple")
    assert simple.count("Exchange") == 1
    assert simple.count("Window") == 1
    assert "Join" not in simple


def test_ts_streaks_one_exchange_end_to_end(spark, sf_dir):
    # lag + boundary prefix sum + run groupBy + per-user argmax all
    # ride ONE user_id exchange (the (user, run_id) re-key is a strict
    # refinement and stays partition-local)
    simple = plan_of(spark, "q_ts_streaks", sf_dir, mode="simple")
    assert simple.count("Exchange") == 1
    assert "WindowGroupLimit" in simple  # the rk=1 argmax
    assert "Join" not in simple


def test_wilson_is_one_aggregate(spark, sf_dir):
    # exact (k, n) from one map-side-combined groupBy; interval math on
    # 5 aggregated rows
    simple = plan_of(spark, "q_agg_wilson", sf_dir, mode="simple")
    assert simple.count("Exchange") == 1
    assert "partial_count" in simple
    assert "Join" not in simple


def test_pareto_ranks_are_bucket_partitioned(spark, sf_dir):
    # the customer rank must run inside dist_rank's _b buckets, never a
    # data-sized single-partition window; decile agg keeps partials
    simple = plan_of(spark, "q_agg_pareto", sf_dir, mode="simple")
    assert "windowspecdefinition(_b" in simple
    assert "partial_sum" in simple
    # partition-less windows are only the BOUNDED frames: dist_rank's
    # <=32-row offset table and the 10-row decile cumulative share
    windows = [
        l for l in simple.splitlines() if "windowspecdefinition" in l
    ]
    partitionless = [l for l in windows if "_b" not in l]
    for l in partitionless:
        assert "decile" in l or "_tot" in l or "_b" in l, l


def test_hhi_broadcasts_dims_and_prunes_orders(spark, sf_dir):
    simple = plan_of(spark, "q_agg_hhi", sf_dir, mode="simple")
    assert simple.count("BroadcastHashJoin") == 3
    assert "partial_sum" in simple
    orders_scan = [
        l for l in simple.splitlines() if "orders.parquet" in l
    ][0]
    assert "o_custkey" in orders_scan and "o_totalprice" in orders_scan
    assert "o_orderdate" not in orders_scan


def test_rfm_ranks_are_bucket_partitioned(spark, sf_dir, monkeypatch):
    # all three quintile ranks ride dist_rank's bucketed windows
    # r13: dist_rank checkpoints its input; inspect pre-barrier
    simple = plan_of_unmaterialized(spark, "q_agg_rfm", sf_dir, monkeypatch, mode="simple")
    assert simple.count("windowspecdefinition(_b") >= 3
    assert "partial_sum" in simple
    # every DATA-sized window rides a _b bucket partition; the
    # partition-less remainder are dist_rank's <=32-row offset tables
    windows = [
        l for l in simple.splitlines() if "windowspecdefinition" in l
    ]
    partitionless = [l for l in windows if "windowspecdefinition(_b" not in l]
    for l in partitionless:
        assert "_tot" in l or "_b#" in l, l


def test_join_fuzzy_blocks_on_prefix_not_allpairs(spark, sf_dir):
    # the fuzzy join must be an EQUI hash join on the prefix block key
    # (levenshtein as residual condition), never a nested-loop cross
    # product; the per-probe argmin is WindowGroupLimit-pruned
    simple = plan_of(spark, "q_join_fuzzy", sf_dir, mode="simple")
    assert "BroadcastHashJoin [substr" in simple or (
        "SortMergeJoin [substr" in simple
    )
    assert "BroadcastNestedLoopJoin" not in simple
    assert "CartesianProduct" not in simple
    assert "WindowGroupLimit" in simple


def test_ratio_ci_is_one_aggregate_no_join(spark, sf_dir):
    # six exact co-moments in ONE map-side-combined groupBy; the CI
    # math is a Project over 3 aggregated rows
    simple = plan_of(spark, "q_agg_ratio_ci", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "partial_sum" in simple
    assert "Join" not in simple
    # shuffle count: one agg exchange + the display sort
    assert simple.count("Exchange") == 2


def test_code_detect_is_scan_local(spark, sf_dir):
    # char-class ppm features are row-local codegen over two pruned
    # scans; the ONLY exchange is the display sort
    simple = plan_of(spark, "q_text_code_detect", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 2
    assert simple.count("Exchange") == 1
    assert "Join" not in simple
    for scan_token in ["documents.parquet", "events.parquet"]:
        assert scan_token in simple


def test_cohort_ltv_windows_by_cohort(spark, sf_dir):
    # the cumulative LTV window partitions by cohort week over
    # calendar-bounded offset rows; cohort sizes ride a broadcast join
    simple = plan_of(spark, "q_ts_cohort_ltv", sf_dir, mode="simple")
    assert "windowspecdefinition(wk0" in simple
    assert "Exchange SinglePartition" not in simple
    assert "BroadcastHashJoin" in simple


def test_growth_single_scan_bounded_windows(spark, sf_dir):
    # one fact scan -> (priority, month) partial agg; both lags share
    # one priority-partitioned window over calendar-bounded rows
    simple = plan_of(spark, "q_ts_growth", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "partial_sum" in simple
    assert simple.count("Window") == 1
    assert "windowspecdefinition(o_orderpriority" in simple
    assert "Join" not in simple


def test_dedup_report_shuffles_digests_by_hash(spark, sf_dir):
    # the keep-first mark partitions by the md5 digest (uniform);
    # the rollup is a map-side-combined source agg — exactly three
    # exchanges: hash window, source agg, display sort
    simple = plan_of(spark, "q_pipeline_dedup_report", sf_dir, mode="simple")
    assert "windowspecdefinition(hash" in simple
    assert "partial_sum" in simple
    assert simple.count("Exchange") == 3
    assert "Join" not in simple


def test_centroid_matrix_bounded_joins(spark, sf_dir):
    # the only data-sized stage is the (label, pos) partial-agg
    # shuffle; every join afterwards is broadcast over label-bounded
    # frames and the pairwise join is pos-equi, never a cross product
    simple = plan_of(spark, "q_sim_centroid_matrix", sf_dir, mode="simple")
    assert "partial_sum" in simple
    assert "CartesianProduct" not in simple
    assert "BroadcastNestedLoopJoin" not in simple
    assert simple.count("BroadcastHashJoin") >= 2
    assert "Generate explode" in simple or "Generate posexplode" in simple


def test_theil_single_pass_no_rank(spark, sf_dir):
    # Theil needs no global rank (unlike gini): one fact shuffle, a
    # broadcast 5-row means frame, a map-side-combined segment agg
    simple = plan_of(spark, "q_agg_theil", sf_dir, mode="simple")
    assert "partial_sum" in simple
    assert "windowspecdefinition" not in simple
    assert "BroadcastHashJoin" in simple


def test_oov_vocab_is_topk_not_global_sort(spark, sf_dir):
    # vocab selection must be TakeOrderedAndProject (per-task k-heaps),
    # and the membership probe a broadcast join
    simple = plan_of(spark, "q_text_oov_rate", sf_dir, mode="simple")
    assert "TakeOrderedAndProject" in simple
    assert "BroadcastHashJoin" in simple
    assert "SortMergeJoin" not in simple


def test_transitions_one_user_exchange(spark, sf_dir):
    # lag rides ONE user_id exchange; the probability window runs over
    # the enum-bounded matrix only
    simple = plan_of(spark, "q_ts_transitions", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "windowspecdefinition(user_id" in simple
    assert "windowspecdefinition(prev_type" in simple
    assert "Join" not in simple


def test_threshold_sweep_blocks_on_adaptive_cells(spark, sf_dir):
    # pair generation is (label, subcell)-equi over the adaptive cell
    # ladder (SHUFFLE_HASH — the frame descends from HOF projections
    # whose size the planner can't estimate), never a cross product;
    # the 1-row ladder-params frame rides a broadcast
    simple = plan_of(spark, "q_sim_threshold_sweep", sf_dir, mode="simple")
    assert "CartesianProduct" not in simple
    assert "ShuffledHashJoin [label" in simple
    assert "subcell" in simple
    assert "partial_sum" in simple


def test_survival_one_user_shuffle(spark, sf_dir):
    # per-user lifetime is one min/max groupBy; the suffix-sum window
    # runs over the calendar-bounded lifetime histogram only
    simple = plan_of(spark, "q_ts_survival", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "partial_min" in simple and "partial_max" in simple
    assert "Join" not in simple  # the total comes from the histogram itself


def test_churn_shares_user_partitioning(spark, sf_dir):
    # both sides of the (user, week+1) anti probe descend from the
    # same distinct activity frame; no nested-loop anywhere
    simple = plan_of(spark, "q_ts_churn", sf_dir, mode="simple")
    assert "CartesianProduct" not in simple
    assert "SortMergeJoin" in simple or "ShuffledHashJoin" in simple or (
        "BroadcastHashJoin" in simple
    )


def test_nearest_join_is_bucket_banded(spark, sf_dir):
    # candidate generation explodes each supplier into its 3 bucket
    # keys and EQUI-joins on the bucket — a hash-partitioned join,
    # never a nested loop evaluating supplier x customer (the raw
    # BETWEEN band form planned as BroadcastNestedLoopJoin; ADVICE
    # r10); per-supplier argmin is a partial min(struct) aggregate,
    # not a window
    simple = plan_of(spark, "q_join_nearest", sf_dir, mode="simple")
    assert "partial_min(struct" in simple
    assert "Window" not in simple
    assert "BroadcastNestedLoopJoin" not in simple
    assert "CartesianProduct" not in simple
    assert "ShuffledHashJoin" in simple or "SortMergeJoin" in simple
    assert "Generate explode" in simple


def test_version_audit_single_aggregate_chain(spark, sf_dir):
    # one user_id groupBy carrying three longs, then a 1-row rollup —
    # no joins, no windows
    simple = plan_of(spark, "q_replay_version_audit", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "partial_count" in simple
    assert "Join" not in simple
    assert "windowspecdefinition" not in simple


def test_time_bucket_is_one_aggregate(spark, sf_dir):
    # the bucket id is row-local integer arithmetic — one map-side-
    # combined groupBy, no window, no join
    simple = plan_of(spark, "q_fn_time_bucket", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "partial_count" in simple
    assert "Join" not in simple
    assert "windowspecdefinition" not in simple


def test_conversion_lag_reuses_user_key(spark, sf_dir):
    # funnel-shaped: two user_id aggregates + one same-key join; the
    # percentile runs over per-user scalars (one final 1-row agg)
    simple = plan_of(spark, "q_ts_conversion_lag", sf_dir, mode="simple")
    assert "partial_min" in simple
    assert "percentile" in simple
    assert "CartesianProduct" not in simple


def test_run_profile_windows_by_orderkey(spark, sf_dir):
    # run detection is partition-local to l_orderkey — never a
    # global-order single-task window
    simple = plan_of(spark, "q_scan_run_profile", sf_dir, mode="simple")
    assert "windowspecdefinition(l_orderkey" in simple
    assert "Exchange SinglePartition" not in simple
    assert "Join" not in simple


def test_dq_rules_single_scan(spark, sf_dir):
    # all rules ride ONE scan as conditional aggregates; the per-rule
    # rows come from an explode of the 1-row aggregate, not a union
    # of scans
    simple = plan_of(spark, "q_dq_rules", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "Union" not in simple
    assert "partial_sum" in simple


def test_parquet_aggregate_pushdown_capability(spark, sf_dir):
    """Ungrouped COUNT/MIN/MAX can be answered from parquet footer
    statistics (PushedAggregation) when the v2 scan path is enabled —
    the 100 TB lever for catalog-style 'how big is this table'
    queries. Pinned in an ISOLATED newSession so the v1/v2 source
    switch never leaks into other queries' plans (the registry keeps
    the v1 default)."""
    ns = spark.newSession()
    ns.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    ns.conf.set("spark.sql.sources.useV1SourceList", "")
    from pyspark.sql import functions as SF

    df = ns.read.parquet(f"{sf_dir}/lineitem.parquet")
    agg = df.agg(
        SF.count("*").alias("n"),
        SF.min("l_quantity").alias("mn"),
        SF.max("l_extendedprice").alias("mx"),
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "PushedAggregation: [COUNT(*), MIN(l_quantity), MAX(l_extendedprice)]" in plan
    row = agg.collect()[0]
    assert row["n"] > 0 and row["mn"] is not None
    # the shared session is untouched: its parquet reads stay v1
    assert spark.conf.get("spark.sql.sources.useV1SourceList", "avro,csv,json,kafka,orc,parquet,text") != ""


def test_key_skew_topk_no_global_sort(spark, sf_dir):
    # hot keys via TakeOrderedAndProject (per-task heaps); stats ride
    # a broadcast 1-row frame
    simple = plan_of(spark, "q_agg_key_skew", sf_dir, mode="simple")
    assert "TakeOrderedAndProject" in simple
    assert "partial_count" in simple
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in simple


def test_bursts_share_one_type_exchange(spark, sf_dir):
    # hourly pre-agg, trailing window, islands rank and episode rollup
    # all ride event_type partitioning over calendar-bounded rows
    simple = plan_of(spark, "q_ts_bursts", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "windowspecdefinition(event_type" in simple
    assert "Exchange SinglePartition" not in simple
    assert "Join" not in simple


# ---- round-11 operators ---------------------------------------------


def test_pattern_var_single_user_exchange(spark, sf_dir):
    # islands window, run aggregation, and run-sequence window all ride
    # ONE hashpartitioning(user_id) exchange (the run groupBy's keys
    # contain user_id, so the existing clustering satisfies it); the
    # only other exchange is the output order's rangepartitioning
    simple = plan_of(spark, "q_win_pattern_var", sf_dir, mode="simple")
    assert simple.count("Exchange hashpartitioning") == 1
    assert "Exchange hashpartitioning(user_id" in simple
    assert "Exchange SinglePartition" not in simple
    assert "Join" not in simple


def test_forecast_rollup_is_mapside_and_fit_broadcasts_origin(spark, sf_dir):
    # daily rollup partial-aggregates before its shuffle; the global
    # min-day origin rides a broadcast 1-row frame (nested loop over 1
    # row), never a second data-sized pass or a global window
    simple = plan_of(spark, "q_ts_forecast", sf_dir, mode="simple")
    assert "partial_count" in simple
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in simple
    assert "Window" not in simple
    assert "Generate explode" in simple


def test_bollinger_single_type_window(spark, sf_dir):
    # one daily-rollup shuffle, then the band window partitioned by
    # event_type over days-sized rows; no joins, no global window
    simple = plan_of(spark, "q_ts_bollinger", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "windowspecdefinition(event_type" in simple
    assert "Exchange SinglePartition" not in simple
    assert "Join" not in simple


def test_null_pattern_mask_groups_mapside(spark, sf_dir):
    # the mask computes row-side and partial-aggregates before the
    # (<= 2^k)-key shuffle; the total enters via a broadcast 1-row frame
    simple = plan_of(spark, "q_dq_null_pattern", sf_dir, mode="simple")
    assert "partial_count" in simple
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in simple
    assert simple.count("FileScan parquet") <= 2
    assert "Window" not in simple


def test_cross_source_audit_moves_digests_only(spark, sf_dir):
    # one shuffle keyed on the fingerprint; text dies at the map side
    # (the scan projects only the audited columns)
    plan = plan_of(spark, "q_dedup_cross_source", sf_dir)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" in read_schema and "doc_id" in read_schema
    simple = plan_of(spark, "q_dedup_cross_source", sf_dir, mode="simple")
    assert "Join" not in simple
    assert "Exchange SinglePartition" not in simple


def test_lorenz_rank_is_distributed_two_phase(spark, sf_dir):
    # the global spend rank is dist_rank's bucket-partitioned window —
    # the only partition-less window sits over the <=32-row bucket
    # totals (same contract as q_agg_gini); deciles group 10 keys
    plan = plan_of(spark, "q_agg_lorenz", sf_dir, mode="simple")
    windows = [
        l for l in plan.splitlines()
        if "Window [" in l or l.strip().startswith("Window")
    ]
    assert windows, "expected Window operators in the lorenz plan"
    partitionless = [l for l in windows if "_b" not in l]
    # the bucket-offset window and the 10-row cumulative-decile window
    # may be partition-less; nothing data-sized may be
    assert len(partitionless) <= 2, partitionless


def test_lexical_diversity_zero_exchange(spark, sf_dir):
    # all array work is row-local; the only exchange is the output sort
    simple = plan_of(spark, "q_text_lexical_diversity", sf_dir, mode="simple")
    assert "Exchange hashpartitioning" not in simple
    assert "Exchange SinglePartition" not in simple
    assert "Join" not in simple
    assert "Generate explode" not in simple


def test_shard_plan_prefix_sum_is_two_phase(spark, sf_dir):
    # byte offsets via dist_rank.range_prefix: per-bucket windows plus
    # one bounded bucket-totals pass — no global single-task window
    plan = plan_of(spark, "q_pipeline_shard_plan", sf_dir, mode="simple")
    windows = [
        l for l in plan.splitlines()
        if "Window [" in l or l.strip().startswith("Window")
    ]
    assert windows
    partitionless = [l for l in windows if "_b" not in l]
    assert len(partitionless) <= 1, partitionless


def test_neighbor_overlap_joins_are_hash_never_nested(spark, sf_dir):
    # edge build inherits knn's cell-bounded SHUFFLE_HASH; mutuality is
    # a left-semi hash join of the edge list with itself; label attach
    # is a shuffle-hash join — nothing nested-loop, nothing broadcast
    # of a data-sized frame
    simple = plan_of(spark, "q_sim_neighbor_overlap", sf_dir, mode="simple")
    assert "CartesianProduct" not in simple
    assert "BroadcastNestedLoopJoin" not in simple
    assert "ShuffledHashJoin" in simple
    assert "LeftSemi" in simple
    # the knn edge build runs EXACTLY ONCE: the edge frame is
    # localCheckpointed before the rev/mutual/label fan-out, so the
    # final plan reads the materialized RDD from its three branches
    # and the only parquet scan left is the label attach (VERDICT r11
    # 'What's wrong #1' — the pre-fix plan re-executed the whole knn
    # subtree, incl. its embeddings scans, from every branch)
    assert simple.count("FileScan parquet") == 1
    assert simple.count("ExistingRDD") >= 3


def test_q1_shape_pushdown_and_mapside_combine(spark, sf_dir):
    # the shipdate filter and 6-column projection reach the scan;
    # partial aggregation collapses everything map-side; no joins
    plan = plan_of(spark, "q_tpch_q1_shape", sf_dir)
    assert "PushedFilters" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "l_shipdate" in pushed
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    for col in ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"]:
        assert col not in read_schema
    simple = plan_of(spark, "q_tpch_q1_shape", sf_dir, mode="simple")
    assert "partial_sum" in simple
    assert "Join" not in simple
    assert "Exchange SinglePartition" not in simple


def test_pad_waste_moves_dims_only(spark, sf_dir):
    # decode runs in Arrow batches partition-side; only (w, h) longs
    # survive to the 5-group rollup — payload bytes never shuffle
    simple = plan_of(spark, "q_multimodal_pad_waste", sf_dir, mode="simple")
    assert "MapInPandas" in simple
    assert "partial_count" in simple
    assert "Join" not in simple


def test_clustering_coeff_joins_are_equi(spark, sf_dir):
    # the oriented triangle join is three equi-joins on narrow pairs;
    # never a nested loop or cartesian anywhere
    simple = plan_of(spark, "q_graph_clustering_coeff", sf_dir, mode="simple")
    assert "CartesianProduct" not in simple
    assert "BroadcastNestedLoopJoin" not in simple
    assert "TakeOrderedAndProject" in simple


def test_contribution_prunes_to_two_weeks_and_shares_type_window(spark, sf_dir):
    # the broadcast max-week frame prunes the scan to two weeks; the
    # per-type total and top-3 rank share one type partitioning
    simple = plan_of(spark, "q_agg_contribution", sf_dir, mode="simple")
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in simple
    assert "windowspecdefinition(event_type" in simple
    # the top-3 rank prunes per-type heaps before the full sort
    assert "WindowGroupLimit" in simple
    # the only SinglePartition is the bounded 1-row max-week aggregate
    # feeding the broadcast — never a data-sized funnel
    assert simple.count("Exchange SinglePartition") <= 1


def test_stickiness_joins_week_sized_frames(spark, sf_dir):
    # both distinct rollups partial-aggregate; the join carries
    # weeks-sized rows only
    simple = plan_of(spark, "q_ts_stickiness", sf_dir, mode="simple")
    assert "partial_count(distinct" in simple or "partial_count" in simple
    assert "CartesianProduct" not in simple
    assert "BroadcastNestedLoopJoin" not in simple


def test_interarrival_single_type_exchange(spark, sf_dir):
    # lag window and per-type aggregate share the event_type exchange
    simple = plan_of(spark, "q_ts_interarrival", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "windowspecdefinition(event_type" in simple
    assert "Exchange SinglePartition" not in simple
    assert "Join" not in simple


def test_systematic_sample_rank_is_distributed(spark, sf_dir):
    # the global rank is dist_rank's bucket-partitioned window; only
    # the bounded bucket-totals window may be partition-less
    plan = plan_of(spark, "q_sample_systematic", sf_dir, mode="simple")
    windows = [
        l for l in plan.splitlines()
        if "Window [" in l or l.strip().startswith("Window")
    ]
    assert windows
    partitionless = [l for l in windows if "_b" not in l]
    assert len(partitionless) <= 1, partitionless


def test_q6_all_filters_push_to_scan(spark, sf_dir):
    # the pure-pushdown benchmark: date band, discount band, quantity
    # cap all reach the parquet reader; 3-column ReadSchema; no join
    plan = plan_of(spark, "q_tpch_q6_shape", sf_dir)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    for col in ["l_shipdate", "l_discount", "l_quantity"]:
        assert col in pushed
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read_schema
    assert "l_extendedprice" in read_schema
    simple = plan_of(spark, "q_tpch_q6_shape", sf_dir, mode="simple")
    assert "Join" not in simple
    assert "partial_sum" in simple


def test_q4_exists_is_semi_join_never_expands(spark, sf_dir):
    # the EXISTS plans as ONE left-semi hash/merge join (residual date
    # compare attached), never a nested loop and never an inner join
    # that would double-count multi-lineitem orders
    simple = plan_of(spark, "q_tpch_q4_shape", sf_dir, mode="simple")
    assert "LeftSemi" in simple
    assert "BroadcastNestedLoopJoin" not in simple
    assert "CartesianProduct" not in simple
    assert simple.count("FileScan parquet") == 2
    assert "partial_count" in simple


def test_q12_single_fact_join_partial_agg(spark, sf_dir):
    # year filter pushes into the lineitem scan; one equi join on the
    # order key; conditional counts partial-aggregate before the final
    plan = plan_of(spark, "q_tpch_q12_shape", sf_dir)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_shipdate" in l for l in pushed)
    simple = plan_of(spark, "q_tpch_q12_shape", sf_dir, mode="simple")
    assert "CartesianProduct" not in simple
    assert "BroadcastNestedLoopJoin" not in simple
    assert "partial_sum" in simple


def test_q13_left_join_keeps_zero_order_customers(spark, sf_dir):
    # LEFT OUTER survives to the physical plan (an inner join here is
    # the classic Q13 wrong answer — zero-order customers vanish);
    # both aggregations partial-aggregate
    simple = plan_of(spark, "q_tpch_q13_shape", sf_dir, mode="simple")
    assert "LeftOuter" in simple
    assert "partial_count" in simple
    assert simple.count("HashAggregate") >= 4  # two partial+final pairs


def test_q14_part_dim_broadcasts(spark, sf_dir):
    # part is dim-sized at any scale: BroadcastHashJoin, never a fact
    # shuffle; the month filter reaches the lineitem scan
    plan = plan_of(spark, "q_tpch_q14_shape", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_shipdate" in l for l in pushed)


def test_q22_anti_join_and_single_stats_broadcast(spark, sf_dir):
    # the NOT EXISTS is a hash LeftAnti on the customer key; the only
    # nested-loop is the 1-row balance-stats broadcast attach; the
    # recent-orders date filter reaches the orders scan
    simple = plan_of(spark, "q_tpch_q22_shape", sf_dir, mode="simple")
    assert "LeftAnti" in simple
    assert simple.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in simple
    plan = plan_of(spark, "q_tpch_q22_shape", sf_dir)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("o_orderdate" in l for l in pushed)


def test_q15_single_fact_scan_with_broadcast_max(spark, sf_dir):
    # the revenue view materializes once: ONE lineitem FileScan; the
    # scalar max is a window over the supplier-sized post-aggregate
    # (a separate max branch would re-reference and RESCAN the fact);
    # supplier name attaches by broadcast
    plan = plan_of(spark, "q_tpch_q15_shape", sf_dir, mode="simple")
    li_scans = [
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "lineitem" in l
    ]
    assert len(li_scans) == 1, li_scans
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the single-partition exchange feeds the bounded post-agg window
    assert plan.count("Exchange SinglePartition") <= 1


def test_q17_window_replaces_fact_self_join(spark, sf_dir):
    # the per-part average is a window over l_partkey — one fact scan,
    # one exchange; the textbook self-join would scan lineitem twice
    plan = plan_of(spark, "q_tpch_q17_shape", sf_dir, mode="simple")
    li_scans = [
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "lineitem" in l
    ]
    assert len(li_scans) == 1, li_scans
    assert "windowspecdefinition(l_partkey" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q19_disjunction_derives_pushed_predicates(spark, sf_dir):
    # Catalyst derives the implied per-side predicates from the OR:
    # the brand IN-list reaches the part scan and the quantity
    # envelope reaches the lineitem scan
    plan = plan_of(spark, "q_tpch_q19_shape", sf_dir)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("p_brand" in l for l in pushed), pushed
    assert any("l_quantity" in l for l in pushed), pushed
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q21_one_fact_scan_no_self_joins(spark, sf_dir):
    # the EXISTS / NOT-EXISTS pair is ONE per-order aggregate, not two
    # extra lineitem probes: exactly one lineitem FileScan; top-10 is
    # TakeOrdered, never a global sort
    plan = plan_of(spark, "q_tpch_q21_shape", sf_dir, mode="simple")
    li_scans = [
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "lineitem" in l
    ]
    assert len(li_scans) == 1, li_scans
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q8_star_broadcasts_dims_never_facts(spark, sf_dir):
    # the 8-table star: part/nation/region/supplier broadcast; the two
    # fact joins shuffle-hash on their keys; no sort-merge, no fact
    # broadcast (lineitem/orders never appear under a BroadcastExchange)
    plan = plan_of(spark, "q_tpch_q8_shape", sf_dir, mode="formatted")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("p_type" in l for l in pushed)
    assert any("r_name" in l for l in pushed)


def test_jackknife_one_scan_array_form(spark, sf_dir):
    # ONE fact scan, one (type, block) partial-aggregated exchange;
    # the block partials collect to arrays so no subtree re-reference
    # rescans the fact; no joins, nothing funnels to one partition
    simple = plan_of(spark, "q_agg_jackknife_ci", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "partial_sum" in simple
    assert "Exchange SinglePartition" not in simple
    assert "Join" not in simple
    assert "collect_list" in simple


def test_quality_curve_rank_is_distributed(spark, sf_dir):
    # the corpus-sized rank rides dist_rank's bucketed windows; only
    # windows keyed on the bounded decile frame may be partition-less
    # (dist_rank's own extrema/total passes re-scan the pruned
    # single-column input — the documented helper trade)
    plan = plan_of(spark, "q_pipeline_quality_curve", sf_dir, mode="simple")
    # at most dist_rank's own 4 scans (window branch + bucket-totals
    # branch, each re-deriving the pruned single-column extrema — the
    # documented helper trade): the corpus total n rides the rank's
    # bucket-totals frame via total_col — a 5th scan means someone
    # re-aggregated the scored frame (ADVICE r11's re-reference rescan,
    # the trap actually observed here; upper bound, not ==, so a plan
    # refactor that SHEDS a scan doesn't fail with a misleading message)
    assert plan.count("FileScan parquet") <= 4
    windows = [
        l for l in plan.splitlines()
        if "Window [" in l or l.strip().startswith("Window")
    ]
    assert windows
    # every partition-less window sits above the decile rollup (its
    # ordering key is the bounded `decile` or dist_rank's bucket id),
    # never over corpus rows
    partitionless = [l for l in windows if "_b" not in l]
    for l in partitionless:
        # decile-frame columns only (the unordered total-tokens window
        # has no decile key in its spec but reads the same 10-row frame)
        assert "decile" in l or "n_tokens" in l, l


def test_power_mde_single_scan_single_agg(spark, sf_dir):
    # one scan, one map-side-combined (type) aggregate; the MDE math
    # runs on the types-sized frame — no joins, no windows, no funnel
    simple = plan_of(spark, "q_agg_power_mde", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "partial_sum" in simple
    assert "Join" not in simple
    assert "Exchange SinglePartition" not in simple


def test_hour_of_week_windows_ride_bounded_rollup(spark, sf_dir):
    # the (type, hour-of-week) rollup partial-aggregates first; the
    # share and peak windows partition by event_type over the
    # calendar-bounded frame — never over raw events
    simple = plan_of(spark, "q_ts_hour_of_week", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "partial_count" in simple
    assert "windowspecdefinition(event_type" in simple
    assert "Exchange SinglePartition" not in simple
    assert "Join" not in simple


def test_ngram_novelty_digest_window_no_join(spark, sf_dir):
    # first-occurrence is min() OVER the digest partition — one corpus
    # scan, no groupBy+join-back (which would rescan); the shuffle
    # carries 16-char digests, never gram text
    simple = plan_of(spark, "q_text_ngram_novelty", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "Join" not in simple
    assert "windowspecdefinition(d#" in simple
    assert "Exchange SinglePartition" not in simple


def test_cusum_closed_form_one_exchange(spark, sf_dir):
    # the CUSUM recursion runs as stacked windows (prefix sum +
    # running min) on ONE event_type partitioning of the calendar-
    # bounded daily rollup — no fold, no Python, no join
    simple = plan_of(spark, "q_ts_cusum", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "partial_count" in simple
    assert "windowspecdefinition(event_type" in simple
    assert "Join" not in simple
    assert "Exchange SinglePartition" not in simple
    assert "mapInPandas" not in simple and "FlatMapGroupsInPandas" not in simple


def test_completeness_trend_bounded_windows(spark, sf_dir):
    # (type, day) rollup partial-aggregates map-side; the trailing
    # window rides the same event_type partitioning; no joins
    simple = plan_of(spark, "q_dq_completeness_trend", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "partial_count" in simple or "partial_sum" in simple
    assert "windowspecdefinition(event_type" in simple
    assert "Join" not in simple
    assert "Exchange SinglePartition" not in simple


def test_cluster_sizes_shuffles_digests_only(spark, sf_dir):
    # the cluster frame groups on the 32-byte sha2 — text never
    # shuffles; the bucket rollup carries 4 rows
    plan = plan_of(spark, "q_dedup_cluster_sizes", sf_dir, mode="simple")
    assert "partial_count" in plan
    assert "Join" not in plan
    assert "Exchange SinglePartition" not in plan
    # grouping key is the hash, not text
    agg_exchanges = [
        l for l in plan.splitlines() if "Exchange hashpartitioning" in l
    ]
    assert agg_exchanges
    assert not any("text#" in l for l in agg_exchanges), agg_exchanges


def test_new_users_bounded_windows(spark, sf_dir):
    # one user_id-keyed min aggregate, one period rollup; partition-
    # less windows only over the calendar-bounded period frame
    simple = plan_of(spark, "q_ts_new_users", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "partial_min" in simple
    assert "Join" not in simple
    windows = [
        l for l in simple.splitlines()
        if "Window [" in l or l.strip().startswith("Window")
    ]
    for l in windows:
        assert "new_users" in l or "h#" in l, l


def test_partsupp_derivation_distinct_and_shuffle_free(spark):
    # the derived partsupp must give every part 4 DISTINCT suppliers
    # at every fixture supplier count (stride = S div 4 + 1 must have
    # k*stride % S != 0 for k in 1..3), and must build without any
    # data-sized exchange: one part scan + a broadcast 1-row count
    from pokertracker_cassandra_st_spark.operators.tpch import (
        derived_partsupp,
    )

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        d = f"/root/testdata/{sf}"
        ps = derived_partsupp(spark, d)
        bad = (
            ps.groupBy("ps_partkey")
            .agg(
                F.countDistinct("ps_suppkey").alias("k"),
                F.count("*").alias("n"),
            )
            .filter((F.col("k") != 4) | (F.col("n") != 4))
            .count()
        )
        assert bad == 0, f"{sf}: partsupp rows not 4-distinct per part"
    plan = explain_str(
        derived_partsupp(spark, "/root/testdata/sf0.01"), "simple"
    )
    # the only join is the broadcast 1-row supplier count; the
    # expansion itself never hash-shuffles
    assert plan.count("Exchange hashpartitioning") == 0
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in plan


def test_tpch_q2_min_cost_window_not_self_join(spark, sf_dir):
    # the correlated scalar-min subquery is a window over the regional
    # partsupp frame — partsupp builds once, no second derivation; the
    # supplier/nation/region dims broadcast
    simple = plan_of(spark, "q_tpch_q2_shape", sf_dir, mode="simple")
    # at most six dim-sized scans: part twice (partsupp derivation +
    # the p_type filter), supplier twice (count + dims), nation,
    # region — a second partsupp branch (self-join min) would add a
    # 7th (upper bound: the rescan trap adds scans, refactors may shed)
    assert simple.count("FileScan parquet") <= 6
    assert "Window" in simple
    assert "SortMergeJoin" not in simple


def test_tpch_q9_facts_hash_dims_broadcast(spark, sf_dir):
    # 6-way star: lineitem never broadcasts; orders meets it in a
    # shuffle-hash join; part/supplier/nation broadcast
    simple = plan_of(spark, "q_tpch_q9_shape", sf_dir, mode="simple")
    assert "SortMergeJoin" not in simple
    assert "ShuffledHashJoin" in simple
    # lineitem (the only fact with l_ columns) never sits under a
    # broadcast exchange
    for i, l in enumerate(simple.splitlines()):
        if "BroadcastExchange" in l:
            assert "l_orderkey" not in l
    plan = plan_of(spark, "q_tpch_q9_shape", sf_dir, mode="formatted")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("p_name" in l for l in pushed), "'%red%' must push down"


def test_tpch_q11_total_rides_window_not_rescan(spark, sf_dir):
    # the grand total attaches via an empty-frame window over the
    # parts-sized post-aggregate (q_tpch_q15 doctrine) — the textbook
    # second scalar-subquery pass over partsupp would show extra scans
    simple = plan_of(spark, "q_tpch_q11_shape", sf_dir, mode="simple")
    # part once (partsupp) + supplier twice (count + nation attach)
    assert simple.count("FileScan parquet") <= 4
    assert "Window" in simple
    assert "SortMergeJoin" not in simple


def test_tpch_q16_denylist_is_broadcast_anti(spark, sf_dir):
    simple = plan_of(spark, "q_tpch_q16_shape", sf_dir, mode="simple")
    assert "LeftAnti, BuildRight" in simple or (
        "BroadcastHashJoin" in simple and "LeftAnti" in simple
    )
    assert "SortMergeJoin" not in simple


def test_tpch_q20_one_fact_exchange(spark, sf_dir):
    # lineitem shuffles ONCE on the compound (partkey, suppkey) key
    # with map-side combine; everything downstream is bounded
    simple = plan_of(spark, "q_tpch_q20_shape", sf_dir, mode="simple")
    assert "partial_sum" in simple
    assert "SortMergeJoin" not in simple
    li_scans = [
        l for l in simple.splitlines()
        if "FileScan parquet" in l and "lineitem" in l
    ]
    assert len(li_scans) == 1, "lineitem must scan exactly once"


def test_srm_single_distinct_exchange(spark, sf_dir):
    # one exact-distinct exchange on (type, user, arm) with map-side
    # partial dedup; the chi-square math runs on the types-sized frame
    simple = plan_of(spark, "q_agg_srm", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "Join" not in simple
    assert "Exchange SinglePartition" not in simple


def test_assortativity_moments_collapse_mapside(spark, sf_dir):
    # edge/degree joins are hash joins on node keys; the four moments
    # collapse map-side to one row — no data-sized broadcast, no SMJ
    simple = plan_of(spark, "q_graph_assortativity", sf_dir, mode="simple")
    assert "SortMergeJoin" not in simple
    assert "ShuffledHashJoin" in simple
    assert "partial_count" in simple or "partial_sum" in simple


def test_mad_anomaly_one_scan_array_form(spark, sf_dir):
    # ONE fact scan + the (type, day) rollup; medians/MAD/flags are
    # row-local HOF arithmetic on the types-sized collected frame —
    # the join-back textbook form would show 3 scans
    simple = plan_of(spark, "q_ts_mad_anomaly", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "Join" not in simple
    assert "collect_list" in simple


def test_key_audit_four_scans_footer_friendly(spark, sf_dir):
    # at most one scan per audited table, nothing else (upper bound —
    # a rescan regression adds scans; version/refactor drift may shed)
    simple = plan_of(spark, "q_dq_key_audit", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") <= 4
    assert "Join" not in simple


def test_balanced_sample_pruned_count_branch(spark, sf_dir):
    # the ranked branch carries the only window; the k branch reads
    # event_type alone (pruned scan, no window)
    plan = plan_of(spark, "q_sample_balanced", sf_dir, mode="formatted")
    schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert any("event_id" not in l for l in schemas), (
        "the minority-size branch must not read event_id"
    )
    simple = plan_of(spark, "q_sample_balanced", sf_dir, mode="simple")
    assert simple.count("Window") == 1


def test_hapax_single_token_exchange(spark, sf_dir):
    # one (source, token) exchange with partial counts; the source
    # rollup rides the same shuffle — no joins, no second scan
    simple = plan_of(spark, "q_text_hapax", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "Join" not in simple
    assert "partial_count" in simple


def test_threshold_curve_one_pair_build(spark, sf_dir):
    # the shingle self-join builds ONE pair frame; both outputs
    # aggregate from the same exploded subtree — a second shingle join
    # would double the corpus-side scans
    simple = plan_of(spark, "q_dedup_threshold_curve", sf_dir, mode="simple")
    assert "CartesianProduct" not in simple
    # the q_dedup_ngram_jaccard machinery's footprint, asserted
    # RELATIVE to that baseline (not an absolute count, which is
    # brittle to Spark-version plan drift): a second sweep subtree
    # (e.g. a separate docs-flagged branch off the pairs frame) would
    # re-execute the pair build and exceed the baseline's scan count.
    base = plan_of(spark, "q_dedup_ngram_jaccard", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == base.count("FileScan parquet")


def test_delta_ratio_one_scan_two_stage_agg(spark, sf_dir):
    # one fact scan, (type, user) partial-combined exchange, then the
    # types-sized moment rollup; the delta tail is row-local
    simple = plan_of(spark, "q_agg_delta_ratio_var", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "Join" not in simple
    assert "partial_sum" in simple
    assert "Exchange SinglePartition" not in simple


def test_delta_ratio_shared_expression_text(spark, sf_dir):
    # the float tail must be the SAME expression string in both
    # engines — the strongest association pin (ADVICE r11).  If the
    # Spark side ever rewrites the expression inline, this canary
    # fails before a boundary fixture ever could.
    from pokertracker_cassandra_st_spark.operators.statistics import (
        _DELTA_RATIO_EXPR,
        _DELTA_SE_EXPR,
    )
    from pokertracker_cassandra_st_spark.registry import REGISTRY

    oracle = REGISTRY["q_agg_delta_ratio_var"].oracle
    assert _DELTA_RATIO_EXPR in oracle
    assert _DELTA_SE_EXPR in oracle


# ---- round-13 additions ------------------------------------------- #


def test_schema_drift_single_scan_inline_unpivot(spark, sf_dir):
    # ONE conditional-aggregate scan of orders; the per-column unpivot
    # is an inline() of the 1-row aggregate — a per-column UNION would
    # show 4 scans (the re-reference-rescan trap)
    simple = plan_of(spark, "q_dq_schema_drift", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "Join" not in simple


def test_seasonal_naive_one_scan_range_window(spark, sf_dir):
    # the lag-168 forecast is a RANGE window on the rollup, not a
    # self-join — one scan, no join
    simple = plan_of(spark, "q_ts_seasonal_naive_error", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "Join" not in simple
    assert "partial_count" in simple or "partial_sum" in simple


def test_dup_ngram_coverage_window_not_joinback(spark, sf_dir):
    # shingle frequency via count window on the exploded frame — the
    # groupBy+join-back form would scan documents twice
    simple = plan_of(spark, "q_text_dup_ngram_coverage", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "Join" not in simple
    assert "Window" in simple


def test_effect_size_single_exchange_bounded_window(spark, sf_dir):
    # one (event_type) exchange; the rest-of-corpus complement rides
    # an empty-frame window on the types-sized rollup, never a second
    # fact scan
    simple = plan_of(spark, "q_agg_effect_size", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "Join" not in simple
    assert "partial_sum" in simple


def test_fdr_bh_single_scan_types_frame(spark, sf_dir):
    simple = plan_of(spark, "q_agg_fdr_bh", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "Join" not in simple


def test_dim_profile_partial_agg_on_exploded_pairs(spark, sf_dir):
    # narrow (dim, q) pairs partial-aggregate map-side; energy total
    # rides the dim-bounded frame
    simple = plan_of(spark, "q_sim_dim_profile", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "Join" not in simple
    assert "partial_sum" in simple
    assert "Generate explode" in simple or "Generate posexplode" in simple


def test_percentile_band_bounded_collect_window(spark, sf_dir):
    # the collect_list window frame is RANGE-bounded (7 days) on the
    # calendar rollup — one scan, no join, no corpus-sized array
    simple = plan_of(spark, "q_ts_percentile_band", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "Join" not in simple
    assert "collect_list" in simple


def test_gap_projection_size_no_pairs(spark, sf_dir):
    # the projection pre-flight must never materialize a pair join —
    # one fact scan, two rollup exchanges, a bounded-frame window
    simple = plan_of(spark, "q_graph_projection_size", sf_dir, mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert "Join" not in simple


def test_contamination_gate_broadcasts_eval_and_hits(spark, sf_dir):
    # eval side (benchmark-sized) and the hit frame broadcast; the
    # train corpus streams — no corpus-sized sort anywhere
    simple = plan_of(spark, "q_pipeline_contamination_gate", sf_dir, mode="simple")
    assert "BroadcastHashJoin" in simple
    assert "SortMergeJoin" not in simple
    assert "CartesianProduct" not in simple


def test_effect_size_and_bh_shared_expression_text(spark, sf_dir):
    # the float tails must be the SAME expression strings in both
    # engines (the delta_ratio_var canary pattern)
    from pokertracker_cassandra_st_spark.operators.statistics import (
        _BH_P,
        _BH_Z2,
        _ES_D,
        _ES_G,
        _ES_MEANDIFF,
    )
    from pokertracker_cassandra_st_spark.registry import REGISTRY

    es = REGISTRY["q_agg_effect_size"].oracle
    for e in (_ES_D, _ES_G, _ES_MEANDIFF):
        assert e in es
    bh = REGISTRY["q_agg_fdr_bh"].oracle
    for e in (_BH_Z2, _BH_P):
        assert e in bh


def test_near_minhash_verify_never_moves_arrays(spark, sf_dir):
    # round-13 rework lock: the verify tier counts shared shingles in
    # exploded form — no shingle ARRAY may cross an exchange, the
    # banded self-join must not regress to cartesian shapes, and the
    # exploded shingle self-join is pinned SORT-MERGE (hash builds on
    # the corpus-x-shingles frame OOM at the 100x rung; merge keeps
    # per-task memory O(1))
    simple = plan_of(spark, "q_dedup_near_minhash", sf_dir, mode="simple")
    assert "CartesianProduct" not in simple
    assert "BroadcastNestedLoopJoin" not in simple
    assert "SortMergeJoin" in simple
    assert "ShuffledHashJoin" in simple
