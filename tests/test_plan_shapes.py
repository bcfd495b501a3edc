"""Physical-plan regression tests: the optimizer properties the engine
relies on at scale must actually appear in the plans.  A refactor that
silently loses predicate pushdown, a broadcast, or the window group
limit would still pass value tests at sf0.01 — and fall over at 100 TB.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from curw_mike_data_handler_spark import catalog

SF = "/root/testdata/sf0.01"


def _plan(spark, name: str, mode: str = "simple") -> str:
    df = catalog.QUERIES[name](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode == "extended")
    return buf.getvalue()


def test_filtered_scan_pushes_predicates_and_prunes_columns(spark):
    plan = _plan(spark, "s4_filtered_scan")
    assert "PushedFilters: [IsNotNull(o_orderstatus)" in plan or "PushedFilters: [" in plan
    # projection reaches the scan: only the 4 referenced columns are read
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "o_orderkey" in read_schema and "o_comment" not in read_schema
    assert read_schema.count(":") <= 5


def test_partitioned_layout_prunes_directories(spark, tmp_path):
    """Hive-style partition pruning: a filter on the partition column
    must become a PartitionFilter (directory skip at planning time),
    not a PushedFilter evaluated inside every file — at 100 TB the
    difference is reading one day vs scanning the whole lake."""
    from curw_mike_data_handler_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events")
    part_dir = str(tmp_path / "events_by_type")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(part_dir)

    df = spark.read.parquet(part_dir).filter("event_type = 'click'").select("event_id")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters: [" in plan and "event_type" in plan.split("PartitionFilters: ")[1].splitlines()[0], (
        "partition-column filter must prune directories"
    )
    pushed = plan.split("PushedFilters: ")[1].splitlines()[0]
    assert "event_type" not in pushed, (
        "partition filter must not degrade to a row-level pushed filter"
    )


def test_flagship_agg_is_partial_then_final_single_exchange(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "partial_sum" in plan, "map-side combine missing"
    assert plan.count("Exchange") == 1, "flagship agg must shuffle exactly once"


def test_dim_lookup_is_broadcast_not_shuffle(spark):
    plan = _plan(spark, "j4_dim_broadcast_lookup")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semi_join_stays_semi_and_broadcast(spark):
    plan = _plan(spark, "s5_active_stations")
    assert "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_topk_window_gets_group_limit(spark):
    plan = _plan(spark, "w2_topk_per_group")
    assert "WindowGroupLimit" in plan, (
        "rank<=k must push a partial top-k below the exchange"
    )


def test_multi_join_broadcasts_every_dim(spark):
    plan = _plan(spark, "q5_regional_revenue")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "no dim in q5 is big enough to shuffle the fact"


def test_no_forced_broadcast_on_sf_scaling_relations(spark):
    """customer/orders/lineitem/part/supplier ALL grow with SF — a hard
    broadcast hint on any of them (or anything derived from them) OOMs
    the build side at cluster scale.  Hints are reserved for dims whose
    size is fixed by the schema (nation 25 rows, region 5, the station
    registry); AQE handles the scaling relations.  Checked at the
    analyzed-plan level: no ResolvedHint may sit above a scan of a
    scaling relation."""
    import re

    for name in ("q3_top_revenue_orders", "q5_regional_revenue", "q8_market_share",
             "q14_promo_share", "q9_product_profit", "q17_small_qty_revenue",
             "p6_membership_semi_join", "q19_disjunctive", "q16_supplier_part_counts",
             "q2_min_cost_supplier", "q7_volume_shipping", "q11_important_parts",
             "q15_top_supplier", "q20_heavy_shippers", "q21_sole_late_shipper",
             "w7_ratio_to_report", "mad_anomalies", "j4_dim_broadcast_lookup"):
        df = catalog.QUERIES[name](spark, SF)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        # each ResolvedHint node governs the subtree printed under it at
        # deeper indentation; the first Relation at deeper indent is the
        # hinted scan
        lines = analyzed.splitlines()
        for i, line in enumerate(lines):
            if "ResolvedHint" not in line:
                continue
            for nxt in lines[i + 1 :]:
                if "Relation" not in nxt:
                    continue
                m = re.search(r"(customer|orders|lineitem|part|supplier)\.parquet", nxt)
                assert m is None, (
                    f"{name}: forced broadcast above scaling relation "
                    f"{m.group(1) if m else ''}:\n{line}\n{nxt}"
                )
                break
    # and the behavior at test scale is unchanged: AQE/stats still
    # broadcast the small sides (no sort-merge join appears)
    plan = _plan(spark, "q5_regional_revenue")
    assert "SortMergeJoin" not in plan


def test_resample_reads_only_needed_columns(spark):
    plan = _plan(spark, "a1_resample_right_closed")
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "props" not in read_schema, "unused wide column must be pruned from the scan"


def test_asof_join_is_single_window_no_join_explosion(spark):
    plan = _plan(spark, "j6_asof_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Window") >= 1


def test_range_join_runs_as_hash_join_not_nested_loop(spark):
    plan = _plan(spark, "j7_range_join")
    assert "BroadcastNestedLoopJoin" not in plan, (
        "bucketed range join must hash, not nested-loop"
    )


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Facts bucketed by the join key on both sides join with ZERO
    exchanges — the write-once shuffle replaces the per-query one."""
    from curw_mike_data_handler_spark.sources.bucketed import (
        read_bucketed,
        write_bucketed,
    )

    a = spark.range(0, 10_000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(0, 10_000).selectExpr("id AS k", "id * 3 AS vb")
    write_bucketed(a, "bk_a", bucket_cols="k", num_buckets=8, sort_cols="k")
    write_bucketed(b, "bk_b", bucket_cols="k", num_buckets=8, sort_cols="k")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the non-broadcast path: that's the case bucketing serves
        # (two FACT-sized sides; a dim side would broadcast anyway)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = read_bucketed(spark, "bk_a").join(read_bucketed(spark, "bk_b"), "k")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain()
        plan = buf.getvalue()
        assert "Exchange hashpartitioning" not in plan, (
            f"bucketed join must not shuffle either side:\n{plan}"
        )
        assert "Bucketed: true" in plan
        assert joined.count() == 10_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_q6_is_scan_plus_scalar_agg_all_predicates_pushed(spark):
    """Q6 shape: the whole query is one scan stage — every predicate
    reaches the parquet reader and the only exchange is the 1-row
    final-aggregate merge."""
    plan = _plan(spark, "q6_revenue_delta")
    pushed = plan.split("PushedFilters: ")[1].splitlines()[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    assert plan.count("Exchange") == 1
    assert "partial_sum" in plan


def test_q18_aggregates_fact_before_join(spark):
    """The HAVING aggregate must run below the orders join — joining
    the raw fact first would shuffle 4× the rows."""
    plan = _plan(spark, "q18_large_orders")
    join_pos = max(plan.find("SortMergeJoin"), plan.find("ShuffledHashJoin"),
                   plan.find("BroadcastHashJoin"))
    agg_pos = plan.rfind("HashAggregate")
    assert join_pos != -1 and agg_pos > join_pos, (
        "lineitem aggregate must appear below (after, in explain text) the join"
    )


def test_q19_prefilters_both_sides_and_broadcasts_part(spark):
    plan = _plan(spark, "q19_disjunctive")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    pushed = plan.split("PushedFilters: ")[1]
    assert "l_quantity" in pushed.splitlines()[0] or "l_quantity" in plan.split(
        "PushedFilters: "
    )[2].splitlines()[0], "implied quantity range must reach the lineitem scan"


def test_decontam_broadcasts_test_grams_no_fact_shuffle_for_join(spark):
    plan = _plan(spark, "decontam_ngram")
    assert "BroadcastHashJoin" in plan, "test-side gram set must broadcast"


def test_quota_cap_gets_window_group_limit(spark):
    plan = _plan(spark, "quota_cap_per_source")
    assert "WindowGroupLimit" in plan


def test_stratified_sample_is_pure_narrow_filter(spark):
    plan = _plan(spark, "sample_stratified_hash")
    assert "Exchange" not in plan, "deterministic sampling must not shuffle"


def test_q22_anti_join_broadcasts_filtered_orders(spark):
    plan = _plan(spark, "q22_idle_rich_customers")
    assert "LeftAnti" in plan
    pushed = [
        seg.splitlines()[0] for seg in plan.split("PushedFilters: ")[1:]
    ]
    assert any("o_orderdate" in p for p in pushed), (
        "recent-order window must reach the orders scan"
    )


def test_q17_is_single_fact_shuffle_window_decorrelation(spark):
    plan = _plan(spark, "q17_small_qty_revenue")
    assert "BroadcastHashJoin" in plan, "brand partkeys must broadcast"
    assert "SortMergeJoin" not in plan
    assert plan.count("Window") >= 1, "per-part avg must be a window, not a self-join"
    # exactly two exchanges: the l_partkey window shuffle + 1-row final agg
    assert plan.count("Exchange") <= 3


def test_a11_cube_expands_once_single_exchange(spark):
    plan = _plan(spark, "a11_cube")
    assert "Expand" in plan, "CUBE must be a grouping-sets Expand, not a union of aggs"
    assert plan.count("Exchange") == 1


def test_pack_sequences_running_sum_is_bucket_partitioned(spark):
    """r7: the packing prefix sum runs through bucketed_running_agg —
    the fact-scale window partitions on (source, bucket), never on the
    enum source key alone (whole-source single-task funnel)."""
    plan = _plan(spark, "pack_sequences")
    assert "Window" in plan
    spec = plan.split("Window")[1][:400]
    assert "source" in spec and "__b" in spec
    assert "SortMergeJoin" not in plan


def test_tfidf_ranks_with_group_limit_no_vocab_broadcast_join(spark):
    plan = _plan(spark, "tfidf_top_terms")
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan
    # df comes from a window over tf, not a vocabulary-sized join side
    assert plan.count("Window") >= 2


def test_zscore_moments_are_grouped_and_broadcast_no_enum_window(spark):
    """r7: group moments come from a map-side-combined groupBy
    broadcast back onto the fact — no unordered window partitioned by
    the enum event_type key (whole-type single-task funnel)."""
    plan = _plan(spark, "zscore_outliers")
    assert "Window" not in plan.split("== Physical Plan ==")[-1]
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan or "partial" in plan.lower()


def test_pii_redaction_is_map_only_no_shuffle(spark):
    plan = _plan(spark, "text_pii_redaction")
    assert "Exchange hashpartitioning" not in plan, (
        "regex extract/redact must stay a narrow map stage"
    )
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "lang" not in read_schema, "unused columns must be pruned from the scan"


def test_quantize_is_map_only_no_shuffle(spark):
    plan = _plan(spark, "embedding_quantize_int8")
    assert "Exchange hashpartitioning" not in plan, (
        "scalar quantization must stay a narrow map stage"
    )


def test_chunking_is_map_only_no_shuffle(spark):
    plan = _plan(spark, "text_chunking")
    assert "Exchange hashpartitioning" not in plan, (
        "tokenize+sequence+slice+explode must stay a narrow map stage"
    )


def test_media_sample_decode_is_map_only_no_shuffle(spark):
    """The pixel/PCM decode paths (synthesize → inflate/unpack stats)
    must stay pure map stages: at corpus scale their cost is scan
    bandwidth, and any exchange here would shuffle raw media bytes."""
    for name in (
        "multimodal_pixel_stats",
        "multimodal_audio_stats",
        "multimodal_jpeg_pixel_stats",
        "multimodal_jpeg_progressive_pixels",
        "multimodal_video_frame_pixels",
        "multimodal_video_rgb_frames",
        "multimodal_audio_float_stats",
        "multimodal_gif_pixels",
        "multimodal_gif_anim_frames",
        "multimodal_bmp_pixels",
        "multimodal_tiff_pixels",
        "multimodal_tiff_packbits",
        "multimodal_tiff_multipage",
        "media_mixed_pixel_stats",
    ):
        plan = _plan(spark, name)
        assert "Exchange hashpartitioning" not in plan, (
            f"{name} must not shuffle payload bytes"
        )
        assert plan.count("ArrowEvalPython") + plan.count("MapInPandas") >= 1


def test_latest_version_read_single_exchange(spark):
    """The summary aggregate must reuse the latest-fgt window's
    hash(series) partitioning — one exchange total."""
    plan = _plan(spark, "s14_latest_version_read")
    assert plan.count("Exchange") == 1


def test_grouping_sets_expand_once_single_exchange(spark):
    plan = _plan(spark, "a12_grouping_sets")
    assert "Expand" in plan, "GROUPING SETS must be one Expand, not a union of aggs"
    assert plan.count("Exchange") == 1


def test_ntile_summary_reuses_window_partitioning(spark):
    """decile groupBy keys (event_type, decile) ⊇ window key
    (event_type) — no second exchange."""
    plan = _plan(spark, "w8_ntile_deciles")
    assert plan.count("Exchange") == 1


def test_corr_moments_single_exchange_partial_agg(spark):
    plan = _plan(spark, "a13_corr_exact_moments")
    assert plan.count("Exchange") == 1
    assert "partial_sum" in plan, "moment sums must combine map-side"


def test_aqe_splits_skewed_join_partition(spark):
    """Skew survival at scale, demonstrated: a join whose left side is
    90% one key, both sides fact-sized (no broadcast), must come out
    of AQE with the hot partition split (SortMergeJoin(skew=true) /
    'AQEShuffleRead … skewed') instead of one straggler task.  This is
    the engine's runtime answer to skew wherever the static salting
    option isn't used."""
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    )
    prev = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        a = spark.range(0, 300_000).selectExpr(
            "CASE WHEN id % 10 < 9 THEN CAST(0 AS BIGINT) ELSE id END AS k",
            "id AS va",
        )
        b = spark.range(0, 300_000).selectExpr("id % 1000 AS k", "id AS vb")
        j = a.join(b, "k")
        qe = j._jdf.queryExecution()
        qe.toRdd().count()  # execute THIS query execution so its
        # adaptive plan is final
        plan = qe.executedPlan().toString()
        assert "skew=true" in plan, f"AQE did not split the hot partition:\n{plan[:2000]}"
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_line_dedup_is_linear_no_allpairs(spark):
    """Line dedup must stay linear in line count: hash exchanges for
    the df count and the reassembly only — never a cartesian/all-pairs
    step, never a sort-merge join of the full exploded relation against
    itself without the df reduction in between."""
    plan = _plan(spark, "line_dedup")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_scd2_entire_pipeline_reuses_one_fact_exchange(spark):
    """The whole SCD2 build — change-flag lag, running version number,
    run-collapse aggregate, AND the lead(valid_to) stitch — runs on a
    single hash(user_id) exchange: every downstream clustering
    requirement ({user_id, ver} ⊇ {user_id}, then {user_id} again) is
    satisfied by the fact's one shuffle.  A regression to two or three
    exchanges would triple the shuffled bytes of a CDC-history job."""
    plan = _plan(spark, "scd2_user_state", "extended")
    physical = plan.split("== Physical Plan ==")[1]
    assert physical.count("Exchange hashpartitioning") == 1
    assert physical.count("Window") >= 2


def test_gopher_census_is_map_only_plus_one_exchange(spark):
    """All four quality rules are codegen'd column expressions; the
    only shuffle is the final hash(source) rollup."""
    plan = _plan(spark, "gopher_rules_census")
    assert plan.count("Exchange hashpartitioning") == 1


def test_curation_pipeline_composes_without_extra_shuffles(spark):
    """The composed pipeline may shuffle only where the line dedup
    inherently must (line-df, reassembly) plus the doc re-join and the
    final source rollup — four hash exchanges; the quality gate and
    the md5 sample must fuse into scans/joins, never add exchanges,
    and nothing may degrade to a cartesian plan."""
    plan = _plan(spark, "curation_pipeline_e2e")
    assert plan.count("Exchange hashpartitioning") <= 4
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_forecast_revision_runs_on_one_exchange(spark):
    """dense_rank, the rk≤2 version prefilter, and both rollups all
    reuse the single hash(user_id) exchange; older versions are
    discarded before any aggregate touches them."""
    plan = _plan(spark, "s15_forecast_revision_delta")
    assert plan.count("Exchange hashpartitioning") == 1


def test_interpolate_and_ewma_ride_one_window_exchange(spark):
    """Both IGNORE-NULLS neighbor frames (w9) and the 16-term lag chain
    (w10) must share a single hash(user_id) exchange and a single sort —
    the windows all use the same partition+order key, so Catalyst plans
    one Window pipeline, not one shuffle per frame."""
    for name in ("w9_linear_interpolate", "w10_ewma_lag16"):
        plan = _plan(spark, name)
        assert plan.count("Exchange hashpartitioning") == 1, name
        assert plan.count("Sort ") <= 1, name


def test_pivot_wide_is_fixed_width_aggregate_no_join_chain(spark):
    """The long→wide pivot must plan as grouped aggregation (the pinned
    value list keeps it to the standard two-step pivot agg), never as
    the reference's per-column merge chain — no joins at all."""
    plan = _plan(spark, "p10_pivot_wide")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Join" not in plan


def test_winsorize_broadcasts_scalar_thresholds(spark):
    """The p01/p99 scalar row joins the fact via broadcast — a shuffled
    scalar join here would re-partition the whole fact at 100 TB — and
    the exact thresholds come from the two-pass sketch-bracketed
    selection, so no holistic percentile appears anywhere.  The
    pre-r13 "≤2 hash exchanges" pin is gone: the selection adds
    exchanges, but every one of them carries per-group counts,
    sketches or bracket candidates, never the fact."""
    plan = _plan(spark, "a14_winsorized_mean")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "percentile(" not in plan.replace("percentile_approx", "PA")


def test_robust_default_path_has_no_holistic_percentile(spark):
    """The 100-TB contract for operators/robust.py: the DEFAULT
    (exact=False) quantile path must plan the mergeable
    approx_percentile sketch, never the holistic percentile that
    buffers every group value into the final merge.  exact=True exists
    only for gate-scale oracle attestation (a9/a14 pin it)."""
    from pyspark.sql import functions as F

    from curw_mike_data_handler_spark.operators.robust import (
        grouped_quantiles,
        winsorized_mean,
    )
    from curw_mike_data_handler_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("v")
    )
    for df in (
        grouped_quantiles(ev, "v", [0.5, 0.95], by=["event_type"]),
        winsorized_mean(ev, "v", by=["event_type"]),
    ):
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert "percentile_approx" in analyzed
        # the holistic aggregate must not appear: every 'percentile'
        # occurrence must be part of 'percentile_approx'
        assert analyzed.count("percentile") == analyzed.count("percentile_approx")


def test_funnel_stages_share_one_user_exchange(spark):
    """The three staged min() windows (signup → view-after → purchase-
    after) must all plan over a single hash(user_id) exchange — the
    naive funnel is three self-joins; the window form is why this
    survives 100 TB of events."""
    plan = _plan(spark, "events_funnel")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_cohort_retention_two_exchanges_no_self_join(spark):
    """Cohort key via window min (reuses the user partitioning), then
    the (cohort, offset) distinct-count rollup: two exchanges total and
    no join against a first-events subquery."""
    plan = _plan(spark, "events_cohort_retention")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Join" not in plan


def test_semdedup_pairs_only_within_clusters(spark):
    """SemDeDup's pair join must be an equi join on the cluster key —
    the only nested-loop joins allowed are the 1-row broadcast centroid
    attachments from the kmeans rounds, never a data×data cartesian."""
    plan = _plan(spark, "semdedup_clusters")
    assert "CartesianProduct" not in plan


def test_distribution_ranks_share_one_window_exchange(spark):
    """percent_rank, cume_dist, and the derived flag all use one window
    spec — one hash(event_type) exchange, one sort."""
    plan = _plan(spark, "w11_distribution_ranks")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Sort ") <= 1


def test_regression_moments_partial_aggregate_single_exchange(spark):
    """The DECIMAL moment sums must map-side combine: one exchange, and
    the closed-form algebra runs above the final aggregate only."""
    plan = _plan(spark, "a15_linear_regression")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan


def test_triangle_join_is_hashed_not_cartesian(spark):
    """Triangle enumeration must stay equi-join on node keys — a
    cartesian/nested-loop here is |E|² and dead at any scale."""
    plan = _plan(spark, "graph_triangles")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dq_suite_one_aggregate_per_table(spark):
    """Each table's checks must fuse into one conditional-sum scan —
    at most one aggregate pair per table plus the anti join; never one
    scan per check."""
    plan = _plan(spark, "dq_expectations")
    assert "LeftAnti" in plan
    # 6 aggregate branches (orphans, lineitem-fused, orders, events x2
    # fused separately is NOT allowed... events has two separate aggs
    # in the union but they fuse at scan level; bound the exchanges:
    assert plan.count("Exchange hashpartitioning") == 0, (
        "global aggregates shuffle to a single partition, not by hash"
    )


def test_session_window_native_single_exchange(spark):
    """The native session-window aggregate must merge sessions inside
    the aggregation operator: one hash(user_id) exchange, no self-join,
    no window-then-groupBy pair."""
    plan = _plan(spark, "events_session_window_native")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_split_census_is_scan_fused(spark):
    """The split assignment is a narrow map fused into the scan; the
    census is one grouped count — a single hash exchange."""
    plan = _plan(spark, "split_assignment_census")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_bm25_topk_is_take_ordered_not_global_window(spark):
    """The global top-15 must be TakeOrderedAndProject (partial top-k
    per partition) — an all-docs single-partition rank window would be
    the scale bug; the only row_number runs over the 15 survivors."""
    plan = _plan(spark, "bm25_topdocs")
    assert "TakeOrderedAndProject" in plan


def test_zorder_key_is_codegen_no_join(spark):
    """The Morton key is a compile-time-unrolled bit expression: the
    whole query is scan → project → one hash rollup.  No join, no UDF
    (BatchEvalPython/ArrowEvalPython), one exchange."""
    plan = _plan(spark, "zorder_cell_stats")
    assert "Join" not in plan
    assert "EvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_skyline_membership_join_is_broadcast(spark):
    """The frontier (reduced to one row per distinct price) must come
    back to the full table as a broadcast hash join — a shuffle join
    keyed on price would move the whole table for a tiny build side."""
    plan = _plan(spark, "skyline_pareto_parts")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_nearest_grid_candidate_join_is_hash_on_cells(spark):
    """The grid NN's candidate join must be a broadcast HASH join on
    the (cx, cy) cell key; the only nested loop allowed is the 9-row
    offsets broadcast — never a station×station cartesian."""
    plan = _plan(spark, "j8_nearest_grid")
    assert "BroadcastHashJoin [cx" in plan.replace("#", " #").replace("[cx", "[cx") or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the station-side self-pairing must not be a nested loop: at most
    # one BNLJ (the 9-row offsets), the candidate join is hashed
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_edit1_join_is_hashed_on_variants_no_cartesian(spark):
    """The deletion-variant index must make the fuzzy join a hash
    join on the variant key — a CartesianProduct/BNLJ here is the
    O(n²) plan the blocking exists to avoid."""
    plan = _plan(spark, "fuzzy_join_edit1")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "variant" in plan


def test_ohlc_is_one_aggregate_no_window(spark):
    """open/close come from min_by/max_by inside the SAME partial+
    final hash aggregate as high/low — a Window (per-bucket sort)
    or a second Exchange would be the scale regression."""
    plan = _plan(spark, "events_ohlc_bars")
    assert "Window" not in plan
    assert plan.count("Exchange") == 1
    assert "min_by" in plan and "max_by" in plan


def test_weighted_median_windows_value_distinct_set(spark):
    """r13: the cumulative-weight walk runs through the distributed
    count-then-select — bucket histogram + bounded sorted arrays — so
    the plan has NO window at all (the pre-r13 shape windowed the
    whole value-distinct set in one task per group), and the (group,
    value) pre-aggregation is still the only pass over the fact."""
    plan = _plan(spark, "weighted_median_price")
    assert "Window" not in plan
    assert "percentile(" not in plan
    assert "HashAggregate" in plan


def test_incremental_dedup_probes_corpus_no_full_rescan_join(spark):
    """Batch-vs-corpus classification: the corpus side enters only as
    a distinct fingerprint index on a hash join — no cartesian, no
    second pass over the documents scan per class."""
    plan = _plan(spark, "dedup_incremental_batch")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_compaction_bins_running_sum_is_bucket_partitioned(spark):
    """r7: the compaction prefix sum runs through bucketed_running_agg
    — the fact-scale window partitions on (source, bucket), never on
    the enum source key alone (whole-source single-task funnel); the
    bucket edges and offsets arrive by broadcast."""
    plan = _plan(spark, "compaction_bins")
    assert "Window" in plan
    spec = plan.split("Window")[1][:400]
    assert "source" in spec and "__b" in spec
    assert "SortMergeJoin" not in plan


def test_prefix_family_fact_windows_carry_bucket_key(spark):
    """r7 enum-key window audit (SCALE.md "Enum-key windows"): every
    fact-scale running aggregate in the prefix family partitions its
    window on (series, bucket); the only series-only windows left are
    the WindowGroupLimit-pruned top-1 picks."""
    for name in ("cusum_changepoint", "max_concurrency_sweep"):
        plan = _plan(spark, name)
        assert "__b" in plan, name
        assert "WindowGroupLimit" in plan, name
    plan = _plan(spark, "running_records_census")
    assert "__b" in plan
    # no window partitioned by event_type alone anywhere in the
    # physical plan: every windowspec mentioning event_type also
    # carries the bucket key
    phys = plan.split("== Physical Plan ==")[-1]
    for frag in phys.split("Window")[1:]:
        head = frag[:300]
        if "event_type" in head and "windowspecdefinition" in head:
            assert "__b" in head, head


def test_equidepth_default_path_is_map_only_binning_no_ntile(spark):
    """The 100-TB contract for operators/robust.equidepth_bins (the
    device behind w8_ntile_deciles and calibration_bins): the DEFAULT
    (exact=False) path must plan approx-quantile bin EDGES broadcast
    into a map-only binning pass — no Window/ntile anywhere (a global
    ntile is one task sorting the whole fact; a per-type ntile is a
    straggler per hot key).  exact=True exists only for gate-scale
    oracle attestation (the two catalog queries pin it)."""
    import contextlib as _ctx
    import io as _io

    from pyspark.sql import functions as F

    from curw_mike_data_handler_spark.operators.robust import equidepth_bins
    from curw_mike_data_handler_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events").select(
        "event_type", "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("v100"),
    )
    for df in (
        equidepth_bins(ev, "v100", k=10, by=["event_type"]),   # grouped
        equidepth_bins(ev, "v100", k=10),                      # global
    ):
        buf = _io.StringIO()
        with _ctx.redirect_stdout(buf):
            df.explain(True)
        plan = buf.getvalue()
        # \bntile( — bare word, not the tail of (approx_)percentile
        import re as _re

        assert not _re.search(r"\bntile\(", plan)
        phys = plan.split("== Physical Plan ==")[1]
        assert "Window" not in phys
        assert "BroadcastHashJoin" in phys or "BroadcastNestedLoopJoin" in phys
        assert "SortMergeJoin" not in phys


def test_equidepth_approx_buckets_are_near_equal_depth(spark):
    """Value check for the default path: at high sketch accuracy the
    bucket populations are near-equal and bucket ids span 1..k with
    value ranges non-overlapping in order."""
    from pyspark.sql import functions as F

    from curw_mike_data_handler_spark.operators.robust import equidepth_bins
    from curw_mike_data_handler_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events").select(
        F.round(F.col("value") * 100).cast("bigint").alias("v100")
    )
    n = ev.count()
    rows = (
        equidepth_bins(ev, "v100", k=10, accuracy=100_000)
        .groupBy("decile")
        .agg(F.count("*").alias("n"), F.min("v100").alias("lo"), F.max("v100").alias("hi"))
        .orderBy("decile")
        .collect()
    )
    assert [r["decile"] for r in rows] == list(range(1, 11))
    assert sum(r["n"] for r in rows) == n
    for r in rows:
        assert abs(r["n"] - n / 10) <= max(10, 0.03 * n), rows
    for a, b in zip(rows, rows[1:]):
        assert a["hi"] <= b["lo"]


def test_distribution_ranks_default_path_is_map_only_no_window(spark):
    """The 100-TB contract for operators/robust.distribution_ranks
    (the device behind w11_distribution_ranks): the DEFAULT
    (exact=False) path must plan a per-group quantile sketch broadcast
    into a map-only interpolated-CDF assignment — no percent_rank/
    cume_dist, no Window anywhere (a per-event_type window over the
    fact is ONE task sorting its whole type's slice — the w8 straggler
    class).  exact=True exists only for gate-scale oracle attestation
    (the catalog query pins it)."""
    import re

    from pyspark.sql import functions as F

    from curw_mike_data_handler_spark.operators.robust import distribution_ranks
    from curw_mike_data_handler_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events").select(
        "event_type", "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("v100"),
    )
    for df in (
        distribution_ranks(ev, "v100", by=["event_type"]),   # grouped
        distribution_ranks(ev, "v100"),                      # global
    ):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(True)
        plan = buf.getvalue()
        assert not re.search(r"\bpercent_rank\(", plan)
        assert not re.search(r"\bcume_dist\(", plan)
        phys = plan.split("== Physical Plan ==")[1]
        assert "Window" not in phys
        assert "BroadcastHashJoin" in phys or "BroadcastNestedLoopJoin" in phys
        assert "SortMergeJoin" not in phys


def test_distribution_ranks_approx_tracks_exact_cdf(spark):
    """Value check for the default path: at high sketch accuracy the
    interpolated CDF tracks the exact percent_rank/cume_dist within
    interpolation + tie error, and both columns are properly bounded
    and monotone in the value."""
    from pyspark.sql import functions as F

    from curw_mike_data_handler_spark.operators.robust import distribution_ranks
    from curw_mike_data_handler_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events").select(
        "event_type", "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("v100"),
    )
    approx = distribution_ranks(
        ev, "v100", by=["event_type"], resolution=1_000, accuracy=100_000
    ).select("event_type", "event_id", "pct_rank", "cume")
    exact = distribution_ranks(
        ev, "v100", by=["event_type"], tie_cols=["event_id"], exact=True,
        pct_col="pct_e", cume_col="cume_e",
    ).select("event_type", "event_id", "pct_e", "cume_e")
    j = approx.join(exact, ["event_type", "event_id"]).select(
        F.max(F.abs(F.col("pct_rank") - F.col("pct_e"))).alias("d_pct"),
        F.max(F.abs(F.col("cume") - F.col("cume_e"))).alias("d_cume"),
        F.min("pct_rank").alias("lo"),
        F.max("pct_rank").alias("hi"),
        F.min("cume").alias("clo"),
    ).collect()[0]
    assert j["d_pct"] <= 0.02, j
    assert j["d_cume"] <= 0.02, j
    assert 0.0 <= j["lo"] and j["hi"] <= 1.0 and j["clo"] > 0.0


def test_w13_trailing_range_frame_is_bucket_partitioned(spark):
    """r7: the trailing-30-min frame runs through bucketed_range_agg —
    the fact-scale range window partitions on (event_type, bucket)
    with broadcast sketch edges, never on the enum key alone."""
    plan = _plan(spark, "w13_trailing_range_frame")
    assert "Window" in plan
    spec = plan.split("Window")[1][:400]
    assert "event_type" in spec and "__b" in spec
    assert "SortMergeJoin" not in plan


def test_anomaly_episodes_lag_and_cumsum_are_bucket_partitioned(spark):
    """r7: the episode chain's lag and cumulative break count both run
    through the bucketed operators — every fact-scale windowspec over
    event_type carries the bucket key (the filtered-sliver defense no
    longer carries the scale argument alone)."""
    plan = _plan(spark, "events_anomaly_episodes")
    phys = plan.split("== Physical Plan ==")[-1]
    assert "__b" in phys
    for frag in phys.split("Window")[1:]:
        head = frag[:300]
        if "event_type" in head and "windowspecdefinition" in head:
            assert "__b" in head, head


def test_w16_point_mass_range_frame_is_bucket_partitioned(spark):
    """r8: the coarse-domain trailing frame shares w13's rewrite — the
    fact-scale range window partitions on (event_type, bucket) even
    when the order domain is a handful of point masses."""
    plan = _plan(spark, "w16_trailing_range_point_mass")
    assert "Window" in plan
    spec = plan.split("Window")[1][:400]
    assert "event_type" in spec and "__b" in spec
    assert "SortMergeJoin" not in plan


def test_opq_rotation_fuses_into_broadcast_join_plan(spark):
    """ann_topk_opq must inherit ann_topk_bucketed's shape: rotation
    and PQ reconstruction are map-side expressions (no exchange of
    their own), the query side broadcasts, and the only wide ops are
    the bucket join's inputs and the per-query top-k window — a plan
    where a 100 TB corpus is scanned once as codes, never shuffled as
    raw floats."""
    plan = _plan(spark, "ann_topk_opq")
    phys = plan.split("== Physical Plan ==")[-1]
    assert "BroadcastHashJoin" in phys, "query side must broadcast"
    assert "CartesianProduct" not in phys and "SortMergeJoin" not in phys
    assert "WindowGroupLimit" in phys, "top-k must prune before the full sort"
    # the ONLY wide hash exchange is the per-query top-k window; the
    # rotation/reconstruction fuse into map-side projections
    assert phys.count("Exchange hashpartitioning") == 1, phys


def test_sql_tvf_windows_expand_without_grid_join(spark):
    """The pure-SQL window()/session_window() queries must plan as
    map-side expands + hash aggregates: no grid join, no self-join —
    the property that makes the same text viable under readStream."""
    plan = _plan(spark, "sql_window_tvf_tumble_hop")
    phys = plan.split("== Physical Plan ==")[-1]
    assert "Join" not in phys, "window grids must come from expand, not a join"
    assert "Expand" in phys or "explode" in phys  # the hop branch
    sess = _plan(spark, "sql_session_window_tvf").split("== Physical Plan ==")[-1]
    assert "Join" not in sess
    assert sess.count("Exchange hashpartitioning") == 1, (
        "session merge + HAVING must ride ONE user_id exchange"
    )


def test_heavy_hitters_candidates_broadcast_and_partial_agg(spark):
    """The two-pass heavy-hitters plan: candidate generation is a
    map-only Python stage (no shuffle of its own), the candidate set
    broadcasts into a semi filter, and the verification count partial-
    aggregates — the raw key domain never shuffles."""
    plan = _plan(spark, "heavy_hitters_mg")
    phys = plan.split("== Physical Plan ==")[-1]
    # the candidate pass (MapInPandas) is localCheckpoint-ed — two
    # consumers (candidates, total) reuse its ≤(k+1)·P rows instead of
    # rescanning the fact — so the final plan sees the materialized
    # summary, not the Python stage
    assert "Scan ExistingRDD" in phys, "summary must be checkpointed, not recomputed"
    assert "BroadcastHashJoin" in phys and "LeftSemi" in phys
    assert "partial_count" in phys, "verification must combine map-side"
    assert "SortMergeJoin" not in phys


def test_quantile_sketch_partials_are_map_side_single_exchange(spark):
    """The mergeable-summary quantile (round 10): partial summaries
    build MAP-SIDE (mapInPandas before any exchange — the raw value
    stream must never shuffle) and only the summary rows take the one
    hash(key) exchange into the merge stage."""
    plan = _plan(spark, "quantile_sketch_merge_batch")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # explain prints root-first: merge (FlatMapGroupsInPandas) above
    # the exchange, partial build (MapInPandas) below it — i.e. the
    # exchange carries summaries, not raw values
    i_merge = plan.index("FlatMapGroupsInPandas")
    i_ex = plan.index("Exchange hashpartitioning")
    i_partial = plan.index("MapInPandas")
    assert i_merge < i_ex < i_partial, plan
