"""Plan-shape regression tests (SURVEY §4, the 100 TB posture):
pushdown reaches the scan, dims broadcast, aggregates combine map-side,
row-level pipelines stay inside WholeStageCodegen."""

from __future__ import annotations

from helium_etl_lite_spark import registry
from helium_etl_lite_spark.plans.explain_tools import (
    assert_broadcast_join,
    assert_partial_aggregate,
    assert_pushed_filter,
    assert_read_schema_only,
    assert_whole_stage_codegen,
    count_key_shuffles,
    count_shuffles,
)

registry.load_all()


def q(name, spark, sf_dir):
    return registry.QUERIES[name](spark, sf_dir)


def test_predicate_reaches_parquet_scan(spark, sf_dir):
    df = q("scan_predicate_pushdown", spark, sf_dir)
    assert_pushed_filter(df, "l_shipdate")


def test_projection_prunes_scan(spark, sf_dir):
    df = q("scan_projection_pushdown", spark, sf_dir)
    assert_read_schema_only(df, {"l_orderkey", "l_extendedprice"})


def test_filter_query_prunes_and_pushes(spark, sf_dir):
    df = q("filter_equality", spark, sf_dir)
    assert_pushed_filter(df, "event_type")
    assert_read_schema_only(df, {"event_id", "user_id", "event_type"})


def test_dim_join_broadcasts(spark, sf_dir):
    assert_broadcast_join(q("join_broadcast_dim", spark, sf_dir))


def test_star_join_broadcasts_dims(spark, sf_dir):
    df = q("join_multiway_star", spark, sf_dir)
    assert_broadcast_join(df)
    # the star shuffles once per partial-agg level (orderkey → custkey →
    # nationkey → final agg), each strictly smaller than the last, and
    # never once-per-dimension
    assert count_shuffles(df) <= 4


def test_groupby_has_map_side_combine(spark, sf_dir):
    df = q("agg_groupby_hash", spark, sf_dir)
    assert_partial_aggregate(df)
    assert_whole_stage_codegen(df)


def test_semi_join_filters_is_broadcast(spark, sf_dir):
    from helium_etl_lite_spark.etl import fixtures, transforms

    blocks, txns = fixtures.make_chain(spark, n_blocks=30)
    filters = fixtures.make_filters(spark)
    out = transforms.build_outputs("filters", blocks, txns, filters)["rewards"]
    assert_broadcast_join(out)


def test_scalar_pipeline_is_codegen(spark, sf_dir):
    # row-level function suites must stay in one codegen stage: no
    # exchanges at all
    df = q("str_funcs", spark, sf_dir)
    assert_whole_stage_codegen(df)
    assert count_shuffles(df) == 0


def test_binned_range_join_avoids_nested_loop(spark, sf_dir):
    # The whole point of the bin trick: the interval predicate must ride
    # an equi-join on __bin, not a BroadcastNestedLoopJoin.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("join_range_binned", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_vec_dedup_cosine_avoids_nested_loop(spark, sf_dir):
    # Exact all-pairs cosine must ride the balanced block-pair equi-join
    # (operators/knn.py cosine_pairs_blocked), never a nested-loop theta
    # join: at 100 TB a BNLJ is a single-task cartesian scale-killer.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("vec_dedup_cosine", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_vec_dedup_cosine_matches_all_pairs(spark, sf_dir):
    # The blocked equi-join form is exact: identical pair set + scores
    # to the reference all-pairs theta join at the declared threshold.
    import pyspark.sql.functions as F

    from helium_etl_lite_spark.operators import knn
    from helium_etl_lite_spark.tables import Tables

    emb = Tables(spark, sf_dir).embeddings
    blocked = q("vec_dedup_cosine", spark, sf_dir)
    v = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    a = v.select(F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"))
    b = v.select(F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"))
    all_pairs = (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(knn.cosine(F.col("ea"), F.col("eb")), 6).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= 0.3)
    )
    assert blocked.exceptAll(all_pairs).count() == 0
    assert all_pairs.exceptAll(blocked).count() == 0


def test_balance_buckets_has_no_global_sort(spark, sf_dir):
    # Exact ntile without the single-task global sort: every Exchange in
    # the plan must be hash/range-partitioned, never SinglePartition.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("sample_balance_buckets", spark, sf_dir))
    assert "SinglePartition" not in plan, plan


def test_salted_join_keys_include_salt(spark, sf_dir):
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("join_skew_salted", spark, sf_dir))
    assert "__salt" in plan  # the join runs on (key, salt)


def test_pack_sequence_bins_no_single_partition(spark, sf_dir):
    # The whole point of the control-plane prefix sum: replacing
    # SUM() OVER (ORDER BY ...) removes the SinglePartition Exchange
    # that serializes a 100 TB corpus through one task.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("pack_sequence_bins", spark, sf_dir))
    assert "SinglePartition" not in plan, plan


def test_ts_gapfill_window_rides_user_shuffle(spark, sf_dir):
    # Grid generation (sequence+explode after the spans agg) and the
    # LOCF window both key on user_id: the window must reuse the spans
    # aggregation's Exchange, not add its own. Two shuffles total —
    # hourly agg on (user_id, hr) + spans agg on user_id — and never a
    # SinglePartition anywhere.
    from helium_etl_lite_spark.plans.explain_tools import (
        count_shuffles,
        formatted_plan,
    )

    df = q("ts_gapfill_locf", spark, sf_dir)
    assert "SinglePartition" not in formatted_plan(df)
    assert count_shuffles(df) <= 2


def test_ts_interpolate_windows_share_shuffle(spark, sf_dir):
    # Backward and forward context windows are both user_id-partitioned
    # and must share one Exchange with the grid join — same budget as
    # gapfill even though there are two window passes.
    from helium_etl_lite_spark.plans.explain_tools import (
        count_shuffles,
        formatted_plan,
    )

    df = q("ts_interpolate_linear", spark, sf_dir)
    assert "SinglePartition" not in formatted_plan(df)
    assert count_shuffles(df) <= 2


def test_contamination_single_shingle_join(spark, sf_dir):
    # Train/bench 8-gram overlap must be one equi-join on the shingle
    # hash — never a nested-loop over document pairs.
    from helium_etl_lite_spark.plans.explain_tools import (
        count_shuffles,
        formatted_plan,
    )

    df = q("text_contamination_ngram", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert count_shuffles(df) <= 3


def test_sink_partitioned_prune_reads_one_partition(spark, sf_dir):
    # The partition-column predicate must prune at planning time:
    # PartitionFilters on event_type, and no pushed data-filter doing
    # the work after reading every directory.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("sink_partitioned_prune", spark, sf_dir))
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and any("event_type" in l for l in pf), plan[:2000]


def test_file_skipping_index_prunes_files(spark, sf_dir):
    # The min/max index must actually SKIP files: the 1996 ship-year
    # read touches a strict subset of the 8 range-clustered files, and
    # the skipped files provably held no qualifying rows (the pruned
    # aggregate equals the full-scan aggregate).
    df = q("sink_file_skipping_index", spark, sf_dir)
    n_read = len(df.inputFiles())
    assert 0 < n_read < 8, df.inputFiles()

    from helium_etl_lite_spark.tables import load_table
    from pyspark.sql import functions as F

    full = (
        load_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("l_quantity").cast("long").alias("sum_qty"),
        )
    )
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, full.collect()))


def test_token_budget_no_single_partition(spark, sf_dir):
    # The point of select_token_budget: no SUM() OVER (ORDER BY score)
    # single-task sort anywhere in the selection plan.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("sample_token_budget", spark, sf_dir))
    assert "SinglePartition" not in plan, plan


def test_ohlc_agg_rides_window_shuffle(spark, sf_dir):
    # row_number window partitions by (user_id, hr) and the OHLC agg
    # groups by the same keys: ONE exchange total, no SinglePartition.
    from helium_etl_lite_spark.plans.explain_tools import (
        count_shuffles,
        formatted_plan,
    )

    df = q("ts_resample_ohlc", spark, sf_dir)
    assert count_shuffles(df) == 1
    assert "SinglePartition" not in formatted_plan(df)


def test_minhash_no_token_stream_shuffle(spark, sf_dir):
    # Signatures are row-local (array_min over transform) — the only
    # exchanges left move band rows (8/doc): the (band, bucket) window
    # and the per-doc keeper agg. A third exchange means the token
    # stream is being shuffled again.
    from helium_etl_lite_spark.plans.explain_tools import count_shuffles

    assert count_shuffles(q("text_dedup_minhash", spark, sf_dir)) <= 2


def test_retention_funnel_no_forced_broadcast(spark, sf_dir):
    # r4 verdict: these force-broadcast one-row-per-user tables, which
    # OOMs at corpus scale. The analyzed plan must carry no broadcast
    # hint — size-based/AQE broadcast of genuinely small runs is fine
    # and not asserted against.
    for name in ("retention_cohort", "funnel_conversion"):
        analyzed = (
            q(name, spark, sf_dir)._jdf.queryExecution().analyzed().toString()
        )
        assert "ResolvedHint" not in analyzed, name


def test_theta_range_join_is_binned_not_bnlj(spark, sf_dir):
    # r5 verdict: the theta band join must not force-broadcast `part`
    # (sf-scaled — OOMs at 100x). The band rides the __bin equi-key.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("join_theta_range", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    analyzed = (
        q("join_theta_range", spark, sf_dir)._jdf.queryExecution().analyzed().toString()
    )
    assert "ResolvedHint" not in analyzed


def test_fuzzy_levenshtein_no_forced_broadcast(spark, sf_dir):
    # r5 verdict: the vocabulary self-join is corpus-derived and
    # unbounded at web scale — same forced-broadcast class as
    # retention/funnel (r4). The block key must ride an equi-join with
    # no hint; AQE may still broadcast a measured-small vocab.
    df = q("text_fuzzy_levenshtein", spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed
    # and the blocking predicate is an equi-key, not a nested-loop theta
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    assert "BroadcastNestedLoopJoin" not in formatted_plan(df)


def test_partition_pruning_static_and_dynamic(spark, sf_dir, tmp_path):
    # The at-scale layout: facts partitioned by a coarse key. A literal
    # predicate must prune partitions at planning time; a selective dim
    # filter must prune them at runtime (DPP), not after the scan.
    import pyspark.sql.functions as F

    from helium_etl_lite_spark.plans.explain_tools import formatted_plan
    from helium_etl_lite_spark.tables import load_table

    part_dir = str(tmp_path / "orders_by_status")
    orders = load_table(spark, sf_dir, "orders")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(part_dir)
    part = spark.read.parquet(part_dir)

    static = part.where(F.col("o_orderstatus") == "F").select("o_orderkey")
    plan = formatted_plan(static)
    assert "PartitionFilters" in plan and "o_orderstatus" in plan

    dim = spark.createDataFrame([("F", "final")], "o_orderstatus string, label string")
    dyn = part.join(dim.where(F.col("label") == "final"), "o_orderstatus")
    dplan = formatted_plan(dyn)
    assert "dynamicpruning" in dplan.lower(), dplan


def test_runtime_bloom_filter_join_fires_at_scale(spark, sf_dir):
    # Spark's runtime Bloom-filter join injection (a semi-join
    # reduction: the selective build side's keys pre-filter the big
    # probe scan before the shuffle) is size-gated — the probe side
    # must exceed ~10 GB, so sf0.01 never triggers it in anger. Lower
    # the gate to prove the engine's join shapes qualify: a selective
    # dim filter joined to a fact injects might_contain on the fact
    # scan. At 100 TB this fires with the default thresholds and spares
    # the shuffle most of the fact table.
    import pyspark.sql.functions as F

    from helium_etl_lite_spark.tables import Tables

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        t = Tables(spark, sf_dir)
        sel = t.orders.where(F.col("o_orderpriority") == "1-URGENT").select(
            "o_orderkey"
        )
        j = t.lineitem.join(sel, t.lineitem.l_orderkey == sel.o_orderkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)


def test_importance_sampling_is_shuffle_free(spark, sf_dir):
    # A Bernoulli keep/drop must be a pure filter: no exchange, one
    # codegen span — anything else would mean the "sampler" secretly
    # reshuffles 100 TB.
    df = q("sample_importance_weighted", spark, sf_dir)
    assert count_shuffles(df) == 0
    assert_whole_stage_codegen(df)


def test_paragraph_dedup_two_exchanges_no_token_explode_shuffle(spark, sf_dir):
    # Span construction is row-local (split + transform/slice); the
    # only exchanges are the first-occurrence window on span and the
    # per-doc reassembly — a token-level explode+groupBy would add a
    # third corpus-sized shuffle.
    df = q("text_paragraph_dedup", spark, sf_dir)
    assert count_shuffles(df) <= 2
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_merge_upsert_no_forced_broadcast(spark, sf_dir):
    # MERGE sides both scale with the fact table — no hint allowed;
    # AQE may broadcast a measured-small side.
    df = q("merge_upsert_scd1", spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed


def test_no_low_cardinality_window_partitions(spark, sf_dir):
    # r6 verdict item 1: a window partitioned on a ~5-100-value key
    # (lang, c_mktsegment) sorts the dominant group through ONE task at
    # corpus scale. The rebuilt queries ride grouped_row_number /
    # grouped_ntile, whose window partitions are (group, order-bucket)
    # — so every windowspecdefinition that mentions the low-cardinality
    # key must also mention the __gb bucket column (either as partition
    # key in the corpus-sized rank window, or as sort key in the
    # bounded counts-table offset window; a corpus-sized window
    # partitioned on the bare key alone mentions no __gb anywhere).
    import re

    for name, lowcard in [
        ("win_ntile", "c_mktsegment"),
        ("sample_mixture_interleave", "lang"),
        ("sample_reservoir_per_group", "lang"),
        ("text_ccnet_perplexity_buckets", "lang"),
    ]:
        df = q(name, spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        specs = re.findall(
            r"windowspecdefinition\((.*?)specifiedwindowframe", plan
        )
        assert specs, f"{name}: no window in plan?"
        for spec in specs:
            if lowcard in spec:
                assert "__gb" in spec, (
                    f"{name}: window partitioned on low-cardinality "
                    f"'{lowcard}' without an order bucket: {spec}"
                )


def test_scd2_point_in_time_shares_user_exchange(spark, sf_dir):
    # Both window passes and the point-in-time filter ride one user_id
    # exchange (same shape as scd2_intervals).
    df = q("scd2_point_in_time", spark, sf_dir)
    assert count_shuffles(df) == 1


def test_bucketed_colocated_join_is_shuffle_free(spark, sf_dir):
    # The whole point of the bucketed layout: join AND the per-order
    # agg ride the bucket distribution — zero Exchange in the plan.
    df = q("sink_bucketed_colocated_join", spark, sf_dir)
    assert count_shuffles(df) == 0


def test_gopher_filter_is_shuffle_free(spark, sf_dir):
    # All four quality signals are row-local array fns: zero Exchange.
    df = q("text_gopher_quality_filter", spark, sf_dir)
    assert count_shuffles(df) == 0
    assert_whole_stage_codegen(df)


def test_containment_join_is_hash_not_nested_loop(spark, sf_dir):
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("dedup_containment", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_asof_tolerance_rides_equi_key(spark, sf_dir):
    # The band predicate must ride the user_id equi-join, not a BNLJ.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("join_asof_tolerance", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pricing_summary_pushdown_and_partial_agg(spark, sf_dir):
    # Q1 shape: shipdate filter at the scan, two-phase agg, codegen'd.
    df = q("report_pricing_summary", spark, sf_dir)
    assert_pushed_filter(df, "l_shipdate")
    assert_partial_aggregate(df)
    # count before collecting: the codegen assert finalizes the AQE plan,
    # after which explain renders initial+final sections and the single
    # Exchange is listed twice.
    assert count_shuffles(df) <= 1
    assert_whole_stage_codegen(df)


def test_shipping_priority_pushdown_and_topk(spark, sf_dir):
    # Q3 shape: all three selective filters reach their scans; the
    # top-10 is TakeOrderedAndProject, never a global sort exchange.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    df = q("report_shipping_priority", spark, sf_dir)
    assert_pushed_filter(df, "c_mktsegment")
    assert_pushed_filter(df, "o_orderdate")
    assert_pushed_filter(df, "l_shipdate")
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_local_supplier_volume_broadcasts_fixed_dims_only(spark, sf_dir):
    # Q5 shape: nation/region broadcast (fixed 25/5 rows at any sf); no
    # nested-loop anywhere; the c_nationkey=s_nationkey residual rides
    # the equi-joins.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    df = q("report_local_supplier_volume", spark, sf_dir)
    plan = formatted_plan(df)
    assert_broadcast_join(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_large_orders_shares_orderkey_exchange(spark, sf_dir):
    # Q18 shape: the HAVING pre-agg and the semi-join probe both key on
    # l_orderkey — no BNLJ, bounded shuffle count (key chain orderkey →
    # custkey → final grouping).
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    df = q("report_large_orders", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert_partial_aggregate(df)


def test_returned_items_filters_push_and_nation_broadcasts(spark, sf_dir):
    df = q("report_returned_items", spark, sf_dir)
    assert_pushed_filter(df, "l_returnflag")
    assert_pushed_filter(df, "o_orderdate")
    assert_broadcast_join(df)


def test_chunk_split_is_narrow_map(spark, sf_dir):
    # Explode multiplies rows but must not introduce an exchange.
    df = q("text_chunk_split", spark, sf_dir)
    assert count_shuffles(df) == 0


def test_quality_classifier_is_shuffle_free_codegen(spark, sf_dir):
    # The hashing-trick classifier is one row-local projection.
    df = q("text_quality_classifier_hashed", spark, sf_dir)
    assert count_shuffles(df) == 0
    assert_whole_stage_codegen(df)


def test_market_share_single_agg_pass(spark, sf_dir):
    # The share ratio is conditional sums inside ONE aggregate — no
    # second join pass, no BNLJ; nation/region broadcast.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    df = q("report_market_share", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert_broadcast_join(df)
    assert_partial_aggregate(df)


def test_top_supplier_max_filter_pushes_to_both_scans(spark, sf_dir):
    # The scalar max is a broadcast 1-row agg over a second rev branch.
    # Catalyst does not materialize CTEs, so lineitem scans twice — but
    # BOTH scans must carry the pushed shipdate window (each reads only
    # the filtered slice, fully parallel), which beats the alternative
    # single-task supplier-wide window at scale.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    df = q("report_top_supplier", spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("PushedFilters: [IsNotNull(l_shipdate)") >= 2, plan


def test_customer_distribution_left_join_keeps_zero_orders(spark, sf_dir):
    # Q13: two shuffles (custkey, then c_count); the priority filter on
    # orders pushes to its scan.
    df = q("report_customer_distribution", spark, sf_dir)
    assert_pushed_filter(df, "o_orderpriority")
    assert count_shuffles(df) <= 3


def test_promo_revenue_single_agg_pass(spark, sf_dir):
    # Q14: the percentage is conditional sums in ONE aggregate.
    df = q("report_promo_revenue", spark, sf_dir)
    assert_pushed_filter(df, "l_shipdate")
    assert_partial_aggregate(df)


def test_small_quantity_threshold_rides_partkey_key(spark, sf_dir):
    # Q17: the correlated AVG is a pre-agg joined on l_partkey — no
    # nested loop, no per-row rescan.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    df = q("report_small_quantity_revenue", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_discounted_revenue_derives_single_side_filters(spark, sf_dir):
    # Q19: Catalyst must derive the pushable single-side implications
    # of the OR-of-ANDs (quantity/size bounds) below the join.
    df = q("report_discounted_revenue", spark, sf_dir)
    assert_pushed_filter(df, "l_quantity")
    assert_pushed_filter(df, "p_size")


def test_pretraining_pipeline_no_single_partition_no_bnlj(spark, sf_dir):
    # The five-stage composition must inherit every stage's posture:
    # no single-task global sort, no doc-pair nested loop.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    df = q("pipeline_pretraining_select", spark, sf_dir)
    plan = formatted_plan(df)
    assert "SinglePartition" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_volume_shipping_double_nation_broadcast(spark, sf_dir):
    # Q7: nation joins twice under different roles — both broadcast;
    # the two-direction disjunction stays a residual, no BNLJ.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    df = q("report_volume_shipping", spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" not in plan
    assert_pushed_filter(df, "l_shipdate")


def test_dormant_accounts_anti_join_and_scalar_avg(spark, sf_dir):
    # Q22: NOT EXISTS must be a left-anti hash join; the scalar AVG is
    # a broadcast 1-row aggregate, not a rescan per row.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    df = q("report_dormant_accounts", spark, sf_dir)
    plan = formatted_plan(df)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert_pushed_filter(df, "o_orderdate")


def test_top_supplier_no_single_partition_window(spark, sf_dir):
    # Q15's scalar max must not serialize all suppliers through one
    # task: the only SinglePartition allowed is the 1-row max aggregate.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    df = q("report_top_supplier", spark, sf_dir)
    plan = formatted_plan(df)
    assert "Window" not in plan, plan


def test_product_profit_filters_push_and_nation_broadcasts(spark, sf_dir):
    # Q9 shape: the p_name contains-filter reaches the part scan, the
    # fixed nation dim broadcasts, profit aggregates two-phase; the
    # scaling joins carry no forced hint.
    df = q("report_product_profit", spark, sf_dir)
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert_pushed_filter(df, "p_name")
    assert_partial_aggregate(df)


def test_priority_shipping_date_window_pushed(spark, sf_dir):
    df = q("report_priority_shipping", spark, sf_dir)
    assert_pushed_filter(df, "l_shipdate")
    assert_partial_aggregate(df)


def test_waiting_suppliers_semi_anti_ride_equi_keys(spark, sf_dir):
    # Q21 shape: both correlated subqueries must compile to semi/anti
    # joins on the l_orderkey equi-key (suppkey inequality as residual
    # condition) — a BroadcastNestedLoopJoin would mean the equi part
    # was lost and the self-join went quadratic.
    df = q("report_waiting_suppliers", spark, sf_dir)
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(df)
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_parts_supplier_count_no_forced_broadcast(spark, sf_dir):
    # The blacklist side is corpus-derived (scales with sf) — no hint;
    # COUNT(DISTINCT) runs the two-phase expand plan.
    df = q("report_parts_supplier_count", spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed
    assert_partial_aggregate(df)
    assert_pushed_filter(df, "p_size")


def test_interval_overlap_join_is_binned_not_bnlj(spark, sf_dir):
    # The double-inequality overlap predicate must ride the __bin
    # equi-join; a BroadcastNestedLoopJoin means the bin trick was lost.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("join_interval_overlap", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dq_expectations_single_scan_per_table(spark, sf_dir):
    # Adding a per-row rule must cost a COLUMN, not a pass: exactly one
    # lineitem scan and one orders scan in the whole report.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("dq_expectations_report", spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1, plan.count("lineitem.parquet")
    assert plan.count("orders.parquet") == 1
    assert_partial_aggregate(q("dq_expectations_report", spark, sf_dir))


# r8 queries


def test_forecast_revenue_all_predicates_pushed(spark, sf_dir):
    # Q6: the whole query is one pushed-filter scan + a 1-row agg.
    df = q("report_forecast_revenue", spark, sf_dir)
    assert_pushed_filter(df, "l_shipdate")
    assert_pushed_filter(df, "l_discount")
    assert_pushed_filter(df, "l_quantity")
    assert_partial_aggregate(df)


def test_min_cost_supplier_window_not_rescan(spark, sf_dir):
    # Q2: the correlated MIN must be a p_partkey window over the
    # filtered candidates — one Window node, no BNLJ, dims broadcast.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    df = q("report_min_cost_supplier", spark, sf_dir)
    plan = formatted_plan(df)
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert_broadcast_join(df)
    assert_pushed_filter(df, "p_size")
    # lineitem feeds the derived cost pairs exactly once
    assert plan.count("lineitem.parquet") == 1


def test_important_stock_scalar_total_broadcast(spark, sf_dir):
    # Q11: the share threshold joins as a broadcast 1-row aggregate;
    # the share comparison stays integer (no double sum anywhere).
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    df = q("report_important_stock", spark, sf_dir)
    assert_broadcast_join(df)
    assert_partial_aggregate(df)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan


def test_excess_inventory_semi_join_chain(spark, sf_dir):
    # Q20: both INs compile to LeftSemi; no BNLJ anywhere.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("report_excess_inventory", spark, sf_dir))
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_span_dedup_overlap_two_exchanges_no_token_shuffle(spark, sf_dir):
    # span hashes are built row-locally; the only exchanges are the
    # span-hash window and the per-doc dup-start fold (+1 for the final
    # doc join). A token-level explode-shuffle would blow this bound.
    df = q("text_span_dedup_overlap", spark, sf_dir)
    assert count_shuffles(df) <= 3


def test_winnow_single_doc_exchange(spark, sf_dir):
    # gram keys row-local; rolling-min window and final agg share the
    # doc_id Exchange.
    df = q("text_fingerprint_winnow", spark, sf_dir)
    assert count_shuffles(df) <= 2


def test_winnow_dedup_no_cross_product(spark, sf_dir):
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("text_dedup_winnow", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bloom_probe_broadcasts_sketch(spark, sf_dir):
    # the 8-word sketch must broadcast into the probe join; the build
    # agg is two-phase (per-partition blooms OR map-side).
    df = q("agg_bloom_filter_probe", spark, sf_dir)
    assert_broadcast_join(df)
    assert_partial_aggregate(df)


def test_phash_neardup_no_pair_materialization(spark, sf_dir):
    # the band screen folds to per-bucket/per-doc MIN aggs; any join in
    # the plan is equi (verify join on the candidate keeper) — no BNLJ,
    # no cross product, no within-bucket pair join.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("multimodal_phash_neardup", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_asof_nearest_equi_join_top1_window(spark, sf_dir):
    # nearest-direction as-of must ride the user_id equi-key with the
    # tolerance as residual — no BNLJ — and end in one probe-keyed
    # window.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    df = q("join_asof_nearest", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_triangle_count_all_equi_joins(spark, sf_dir):
    # compact-forward triangle enumeration: wedge + closure are equi
    # joins with residuals — a BNLJ or cartesian here means the
    # orientation trick regressed and hub nodes explode at scale.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("graph_triangle_count", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_er_sorted_neighborhood_is_join_free(spark, sf_dir):
    # sorted-neighborhood ER generates candidates from lead() columns:
    # ONE sort, zero joins. Any Join node means it regressed to the
    # quadratic block self-join it exists to avoid.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    df = q("er_sorted_neighborhood", spark, sf_dir)
    plan = formatted_plan(df)
    assert "Window" in plan
    assert "Join" not in plan


def test_bloom_pruned_join_broadcasts_sketch(spark, sf_dir):
    # the one-row bloom map must broadcast to the fact scan (never
    # shuffle the fact to meet the sketch), and the sketch build agg
    # must combine map-side (per-partition blooms OR together).
    df = q("join_bloom_pruned", spark, sf_dir)
    assert_broadcast_join(df)
    assert_partial_aggregate(df)
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(df)
    # the 1-row sketch rides the declared broadcast-cross glue
    # (BuildRight, bounded side); what must never appear is an
    # unbounded cartesian
    assert "CartesianProduct" not in plan
    if "BroadcastNestedLoopJoin" in plan:
        assert "BroadcastNestedLoopJoin Cross BuildRight" in plan
        assert "BroadcastNestedLoopJoin Cross BuildLeft" not in plan


def test_bitsample_band_join_no_cartesian(spark, sf_dir):
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("vec_ann_bitsample_portable", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_zorder_layout_bounds_both_dimensions(spark, sf_dir):
    # the claim sink_zorder_cluster makes: after the Morton-clustered
    # write, EVERY file covers a bounded min/max box on BOTH keys
    # (footer-stats skipping works for predicates on either), whereas a
    # single-key sort leaves the second key spanning its full range in
    # every file.
    import glob

    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from helium_etl_lite_spark.scratch import scratch_path
    from helium_etl_lite_spark.tables import load_table

    q("sink_zorder_cluster", spark, sf_dir).collect()
    zfiles = sorted(glob.glob(scratch_path("sink_zorder") + "/t/*.parquet"))
    assert len(zfiles) >= 4

    def extents(files):
        out = []
        for f in files:
            md = pq.read_metadata(f)
            mm = {}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    st = col.statistics
                    if st is None or col.path_in_schema not in (
                        "l_partkey",
                        "l_suppkey",
                    ):
                        continue
                    k = col.path_in_schema
                    lo, hi = mm.get(k, (st.min, st.max))
                    mm[k] = (min(lo, st.min), max(hi, st.max))
            out.append(
                (
                    mm["l_partkey"][1] - mm["l_partkey"][0],
                    mm["l_suppkey"][1] - mm["l_suppkey"][0],
                )
            )
        return out

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    bounds = li.agg(
        F.min("l_partkey"), F.max("l_partkey"),
        F.min("l_suppkey"), F.max("l_suppkey"),
    ).collect()[0]
    p_range = bounds[1] - bounds[0]
    s_range = bounds[3] - bounds[2]

    single = scratch_path("sink_zorder") + "/single_key"
    (
        li.repartitionByRange(8, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite")
        .parquet(single)
    )
    sfiles = sorted(glob.glob(single + "/*.parquet"))

    ze = extents(zfiles)
    se = extents(sfiles)
    # Z layout: both dims bounded (measured at sf0.001: supp extents
    # 2-4 of range 9, mean part extent ~0.57 of range)
    assert max(s for _, s in ze) <= 0.6 * s_range, ze
    assert sum(p for p, _ in ze) / len(ze) <= 0.75 * p_range, ze
    # single-key layout: leading key tightly bounded, second key spans
    # the FULL range in every file — the blindspot Z-order removes
    assert all(s == s_range for _, s in se), se


def test_kcore_rounds_are_equi_joins(spark, sf_dir):
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("graph_kcore_peel", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bm25_topk_no_global_sort(spark, sf_dir):
    # ranked retrieval must end in TakeOrderedAndProject (bounded
    # top-k), never a full global Sort; the 1-row stats ride the
    # declared broadcast-cross glue.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    df = q("text_bm25_topk", spark, sf_dir)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    if "BroadcastNestedLoopJoin" in plan:
        assert "BroadcastNestedLoopJoin Cross BuildRight" in plan


def test_wav_decode_shuffle_free(spark, sf_dir):
    # encode + decode are two narrow Arrow kernels over the scan: no
    # KEY shuffle anywhere (the r11 fan-out round-robin of the tiny
    # scan is deliberate and vanishes at production split counts).
    df = q("multimodal_wav_decode", spark, sf_dir)
    assert count_key_shuffles(df) == 0


def test_lateral_topk_decorrelates_to_window_group_limit(spark, sf_dir):
    # the LATERAL ORDER BY+LIMIT must decorrelate into a join + ranked
    # window with map-side WindowGroupLimit pruning — never a per-outer-
    # row subquery re-scan (which would show as BNLJ/CartesianProduct).
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("join_lateral_topk", spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bitmap_distinct_two_phase(spark, sf_dir):
    # bitmap_construct_agg must combine map-side (partial bitmaps OR
    # together) — that merge-by-OR is the whole reason to prefer it
    # over COUNT(DISTINCT)'s raw-pair reshuffle.
    df = q("agg_bitmap_distinct", spark, sf_dir)
    assert_partial_aggregate(df)


def test_bloom_skipping_index_prunes_files(spark, sf_dir):
    # The per-file bloom must prune where min/max CANNOT: orders land
    # hash-clustered on o_custkey, so each file's o_orderkey range
    # spans the whole table. Present keys (unique) should resolve to
    # ~1 candidate file each; absent keys should prune to (almost)
    # nothing — a false positive or two out of 5 keys x 8 files is the
    # bloom's contract, and md5 positions are deterministic so the
    # observed count is stable, not flaky.
    from pyspark.sql import functions as F

    from helium_etl_lite_spark.etl.skipping import (
        bloom_bits_for,
        bloom_candidate_files,
        build_bloom_index,
    )
    from helium_etl_lite_spark.scratch import scratch_dir
    from helium_etl_lite_spark.tables import load_table

    out = scratch_dir("test_bloom_skip") + "/t"
    load_table(spark, sf_dir, "orders").select("o_orderkey").repartition(
        8, F.col("o_orderkey") % 997  # scatter keys across files
    ).write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    n_files = back.select(F.input_file_name()).distinct().count()
    m_bits = bloom_bits_for(back.count(), n_files)
    index = build_bloom_index(back, "o_orderkey", m_bits)

    present = back.orderBy("o_orderkey").limit(5)
    mx = back.agg(F.max("o_orderkey")).first()[0]
    absent = spark.range(1, 6).select(
        (F.lit(mx) + F.col("id")).alias("o_orderkey")
    )

    cand_present = bloom_candidate_files(index, present, "o_orderkey", m_bits)
    cand_absent = bloom_candidate_files(index, absent, "o_orderkey", m_bits)

    # every present key found somewhere, with strong pruning: fewer
    # candidate files in total than a no-index scan of all files for
    # each of the 5 keys would touch.
    per_key = {
        r["o_orderkey"]: r["n"]
        for r in cand_present.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert len(per_key) == 5
    assert all(1 <= n < n_files for n in per_key.values()), per_key
    # 5 absent keys x 8 files = 40 bloom cells; deterministic FP count
    # observed at this sf is 1 — assert the PRUNING claim (>=95% of
    # cells rejected), not impossibly zero FPs.
    assert cand_absent.count() <= 2


def test_spatial_grid_join_is_equijoin_not_bnlj(spark, sf_dir):
    # The radius predicate must ride the (cx, cy) cell equi-join; a
    # BroadcastNestedLoopJoin/Cartesian means the grid reshape was lost
    # and the plan is O(N^2) at scale.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("join_spatial_grid", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ewma_fold_is_jvm_side_single_agg(spark, sf_dir):
    # The recurrence folds inside the collect_list agg + a row-local
    # higher-order function: ObjectHashAggregate (partial-combinable
    # collect) and NO Python evaluation node anywhere.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("ts_ewma_portable", spark, sf_dir))
    assert "ObjectHashAggregate" in plan
    assert "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_recursive_reachability_plans_as_union_loop(spark, sf_dir):
    # WITH RECURSIVE must reach the engine's fixpoint operator
    # (UnionLoop), not silently flatten; and each level is an
    # equi-join — no BNLJ/Cartesian frontier expansion.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("graph_reachability_recursive", spark, sf_dir))
    assert "UnionLoop" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_grid_hotspot_is_scatter_gather_not_self_join_explosion(spark, sf_dir):
    # The stencil must be the scatter-gather: two hash aggs (raster +
    # gather) and an equi-join back to density — never a band-condition
    # self-join (BNLJ) over cells.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("agg_grid_hotspot", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_scd2_merge_is_one_join_two_scans(spark, sf_dir):
    # The four action arms (close/open/insert/keep) must ride ONE
    # full-outer join + row-local explode — 2 scans of the dimension
    # (join inputs), never the oracle's 4-scan union restatement.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("merge_upsert_scd2", spark, sf_dir))
    assert plan.count("customer.parquet") == 2, plan.count("customer.parquet")
    # exactly one join operator, full-outer (formatted output mentions
    # the keyword once in the tree and once in the operator detail)
    assert "FullOuter" in plan
    assert plan.count("SortMergeJoin") <= 2  # one node + its detail line
    assert "Generate" in plan  # the explode arm emitter


def test_referential_audit_scans_each_child_once(spark, sf_dir):
    # Three FK edges leave lineitem; the audit must still scan it ONCE
    # (fused left joins + one agg), and parent key sets broadcast.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("dq_referential_integrity", spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1, plan.count("lineitem.parquet")
    assert plan.count("orders.parquet") == 2  # key side + o_custkey edge child
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_portable_band_join_no_cartesian(spark, sf_dir):
    # Candidates must come from the (band_idx, band_val) equi-join;
    # the integer rerank joins a broadcast NQ-row query side.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("vec_ann_lsh_portable", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_portable_pairs_only_within_cluster(spark, sf_dir):
    # Pair generation must be the centroid_id equi-join (cluster-
    # bounded), never an unkeyed product of the corpus with itself.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("vec_dedup_semantic_portable", spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the ONE allowed nested-loop is the K-row codebook broadcast for
    # assignment (kmeans_portable's designed shape); pairs themselves
    # must ride the centroid_id equi-join
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan.count(
        "BroadcastNestedLoopJoin"
    )


def test_pca_portable_no_single_partition_on_data(spark, sf_dir):
    # Scalars (max|C|, max|w|) ride 1-row broadcast crossJoins; the
    # only SinglePartition exchanges allowed are those 1-row aggs.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("vec_pca_portable", spark, sf_dir))
    assert "CartesianProduct" not in plan
    # Gram agg must carry map-side partials
    assert "partial" in plan.lower()


def test_bpe_train_scans_corpus_once(spark, sf_dir):
    # The trainer touches documents ONCE (word counts); all six rounds
    # run on the checkpointed 200-row shortlist.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("text_bpe_train_portable", spark, sf_dir))
    assert plan.count("documents.parquet") <= 1, plan.count("documents.parquet")


def test_screened_portable_same_shape_as_production(spark, sf_dir):
    # Screen pairs come from band equi-joins; no nested-loop anywhere.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("dedup_containment_screened_portable", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_waterfill_control_plane_is_broadcast(spark, sf_dir):
    # All level math rides #buckets-row frames; the fact stream sees
    # only the two scans (counts + ranking window).
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("sample_quota_waterfill", spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the bucket-counts table is checkpointed, so the corpus appears
    # exactly once (the ranking-window scan) in the final plan
    assert plan.count("documents.parquet") == 1, plan.count("documents.parquet")


def test_spatial_knn_grid_is_equijoin_not_bnlj(spark, sf_dir):
    # Candidates must come from the 9-cell equi-join; no BNLJ even
    # though the underlying predicate is a distance theta.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("join_spatial_knn_grid", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rrf_hybrid_arms_are_bounded_topk(spark, sf_dir):
    # both fusion arms must end in a bounded top-k: BM25 via
    # orderBy+limit (TakeOrderedAndProject), the dense arm via the
    # per-q_id ranked window. The only BNLJs allowed are the two
    # declared bounded-build shapes: the 1-row stats broadcast-cross
    # (same allowance as text_bm25_topk) and cosine_topk's scoring
    # join whose build side is the broadcast 1-query vector — never a
    # corpus x corpus nested loop (which would be CartesianProduct:
    # both corpus sides are too big to broadcast).
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("retrieval_rrf_hybrid", spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # tree lines carry the join type + build side; detail lines repeat
    # the bare node name and are skipped
    for line in plan.splitlines():
        if "- BroadcastNestedLoopJoin" in line:
            assert "Cross BuildRight" in line or "Inner BuildRight" in line


def test_substring_anchor_dedup_no_pair_blowup(spark, sf_dir):
    # anchored span dedup: every join is an equi-join (doc_id or span
    # hash) — no nested-loop pair materialization anywhere; the span
    # build must not re-explode text (grams/spans are built row-locally
    # inside transforms).
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("text_dedup_substring_anchor", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_contamination_substring_semi_join_probe(spark, sf_dir):
    # the probe must be a semi-join on the span hash — never a pair
    # materialization or nested loop; the span build shares one plan.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("text_contamination_substring", spark, sf_dir))
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_kmv_sketch_builds_with_map_side_topk(spark, sf_dir):
    # the per-set k-smallest selection must prune map-side
    # (WindowGroupLimit) — each task forwards at most k rows per set,
    # never the full distinct-hash stream; the algebra after is 1-row
    # broadcast-scalar territory (no fact-side cartesian).
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("agg_kmv_theta_sketch_portable", spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_weighted_reservoir_is_take_ordered(spark, sf_dir):
    # E-S weighted sampling distributes as a plain top-k: the selection
    # must be TakeOrderedAndProject, never a global Sort; the rank
    # window runs on the bounded 50-row result.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    plan = formatted_plan(q("sample_weighted_reservoir", spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_classifier_trainer_broadcasts_weights_no_driver_matrix(spark, sf_dir):
    # The trainer's final plan: weight/score joins BROADCAST the
    # O(buckets) weight table, the feature table enters as a
    # checkpointed scan (the cached-design-matrix pattern), and no
    # cartesian/BNLJ anywhere — the feature matrix never concentrates
    # on the driver or a single partition.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    df = q("text_quality_classifier_train", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert_broadcast_join(df)
    assert "SinglePartition" not in plan


def test_audio_spectrogram_is_narrow(spark, sf_dir):
    # encode + decode+DFT are two chained Arrow kernels — no KEY
    # exchange (fan-out round-robin excepted, see count_key_shuffles).
    df = q("multimodal_audio_spectrogram", spark, sf_dir)
    assert count_key_shuffles(df) == 0


def test_unigram_tokenize_final_plan_is_narrow(spark, sf_dir):
    # training happens at plan-construction (bounded control plane);
    # the RETURNED plan is docs -> two narrow mapInPandas encoders ->
    # row-local projection. Zero exchanges.
    df = q("text_tokenize_unigram_lm", spark, sf_dir)
    assert count_shuffles(df) == 0


def test_keyed_cdc_feed_no_cartesian(spark, sf_dir):
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    df = q("sink_snapshot_changes_updates", spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_html_extract_is_shuffle_free(spark, sf_dir):
    # wrap + extract is ONE row-local projection (r10 verdict item 3's
    # DONE criterion): no Exchange at any corpus size.
    df = q("text_html_extract", spark, sf_dir)
    assert count_shuffles(df) == 0


def test_video_frames_is_shuffle_free(spark, sf_dir):
    # encode + decode are two narrow Arrow kernels: no KEY Exchange
    # (fan-out round-robin excepted, see count_key_shuffles).
    df = q("multimodal_video_frames", spark, sf_dir)
    assert count_key_shuffles(df) == 0


def test_video_keyframes_is_shuffle_free(spark, sf_dir):
    # temporal adjacency is intra-payload: no lag window, no KEY
    # Exchange (fan-out round-robin excepted).
    df = q("multimodal_video_keyframes", spark, sf_dir)
    assert count_key_shuffles(df) == 0


def test_bigram_perplexity_no_bnlj_no_pair_shuffle(spark, sf_dir):
    # bigrams are extracted ROW-LOCALLY (transform over the split
    # array): the plan must contain no lag window and no self-join of
    # the token stream against itself — just equi-joins on word keys.
    # The ONE allowed nested-loop is the broadcast cross join of the
    # 1-row (N, V) totals (the oracle's own CROSS JOIN tot shape).
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    df = q("text_perplexity_bigram", spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    if "BroadcastNestedLoopJoin" in plan:
        assert "BroadcastNestedLoopJoin Cross BuildRight" in plan
    assert "Window" not in plan  # no lag-window pair construction


def test_wordpiece_no_single_partition(spark, sf_dir):
    # the greedy walk is row-local (higher-order aggregate over the
    # per-word step map) — no recursion node, no SinglePartition stage;
    # every exchange is hash-partitioned on a word/piece key.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    df = q("text_tokenize_wordpiece", spark, sf_dir)
    plan = formatted_plan(df)
    assert "SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan


def test_shard_manifest_no_global_sort(spark, sf_dir):
    # the classic write-out mistake is one global sort by random key;
    # this plan's only window partitions BY shard, so there must be no
    # SinglePartition exchange anywhere.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    df = q("corpus_shard_manifest", spark, sf_dir)
    plan = formatted_plan(df)
    assert "SinglePartition" not in plan, plan


def test_vec_contamination_bnlj_is_deliberate_and_agg_is_partial(spark, sf_dir):
    # the ONE place BroadcastNestedLoopJoin is the correct 100 TB shape:
    # bounded eval side broadcast (BuildRight), corpus side streamed;
    # the per-vector max must combine map-side (partial_max before the
    # exchange) so the shuffle carries one row per training vector.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    df = q("vec_contamination_semantic", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin Cross BuildRight" in plan
    assert "partial_max" in plan, plan[:3000]


def test_blocklist_filter_is_pure_projection(spark, sf_dir):
    # the C4 step-1 gate must never cost more than the scan: zero
    # Exchange, no join node (the list is a literal / broadcast).
    df = q("text_blocklist_filter", spark, sf_dir)
    assert count_shuffles(df) == 0


def test_semantic_incremental_probe_no_bnlj(spark, sf_dir):
    # the state probe must be an equi-join on (band, bucket) with
    # true-cosine verification — never a nested-loop against the state.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    df = q("vec_dedup_semantic_incremental", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_repetition_scrub_is_pure_projection(spark, sf_dir):
    # run-length token dedup is row-local: zero Exchange.
    df = q("text_repetition_scrub", spark, sf_dir)
    assert count_shuffles(df) == 0


def test_url_canonicalize_is_shuffle_free(spark, sf_dir):
    # r11 verdict item 3's DONE criterion: the row-local URL legs carry
    # ZERO Exchange — canonicalization is a narrow regex/string map.
    df = q("url_canonicalize", spark, sf_dir)
    assert count_shuffles(df) == 0


def test_url_blocklist_filter_is_shuffle_free_and_joinless(spark, sf_dir):
    # the literal blocklist compiles to a row-local boolean: no join
    # node of any kind, no Exchange.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    df = q("url_blocklist_filter", spark, sf_dir)
    assert count_shuffles(df) == 0
    assert "Join" not in formatted_plan(df)


def test_url_host_stats_single_agg_shuffle(spark, sf_dir):
    # ONE two-phase hash agg on the host (the count-distinct expand
    # rides the same key): partial aggregation present, and no more
    # than the agg's own exchanges (host, host+canon distinct = 2).
    df = q("url_host_stats", spark, sf_dir)
    assert_partial_aggregate(df)
    assert count_shuffles(df) <= 2


def test_url_dedup_single_agg_shuffle(spark, sf_dir):
    df = q("url_dedup_canonical", spark, sf_dir)
    assert_partial_aggregate(df)
    assert count_shuffles(df) == 1


def test_pair_dedup_no_cartesian_no_bnlj(spark, sf_dir):
    # cross-modal pair dedup: banding runs over distinct-hash
    # representatives; every join is an equi-join.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    df = q("multimodal_pair_dedup", spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pii_redact_is_shuffle_free(spark, sf_dir):
    # plant + count + redact is ONE row-local projection.
    df = q("text_pii_redact", spark, sf_dir)
    assert count_shuffles(df) == 0


def test_web_curation_single_shuffle(spark, sf_dir):
    # the whole front-end fuses into one row-local span; the ONLY
    # Exchange is the content-identity hash agg (16-byte md5 keys).
    df = q("pipeline_web_curation", spark, sf_dir)
    assert_partial_aggregate(df)
    assert count_shuffles(df) == 1


def test_perplexity_scorers_single_tokenize_no_eager(spark, sf_dir):
    # r12 verdict item 3: the corpus token total must come from the
    # PERSISTED vocab (1-row broadcast crossJoin), not an eager
    # tok.count() second scan. Evidence: both branches that need the
    # vocab read InMemoryTableScan, and the only nested-loop is the
    # 1-row totals cross join.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    for name in ("text_perplexity_unigram", "text_ccnet_perplexity_buckets"):
        df = q(name, spark, sf_dir)
        df.count()  # materialize so the cache shows in the final plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("InMemoryTableScan") >= 2, name
        assert "CartesianProduct" not in plan, name
        if "BroadcastNestedLoopJoin" in plan:
            # executedPlan renders as "BroadcastNestedLoopJoin BuildRight, Cross"
            assert "BuildRight, Cross" in plan, name


def test_dsir_ratio_join_is_broadcast_single_corpus_agg(spark, sf_dir):
    # the log-ratio table is bounded at 65536 buckets BY CONSTRUCTION,
    # so the join back to the feature stream must be a broadcast hash
    # join (never sort-merge — the corpus side must not key-shuffle on
    # the bucket), and raw+target counts ride ONE hash agg (no second
    # corpus scan for the target slice).
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    df = q("text_dsir_importance", spark, sf_dir)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    if "BroadcastNestedLoopJoin" in plan:  # the 1-row totals crossJoin
        assert "BroadcastNestedLoopJoin Cross BuildRight" in plan


def test_pair_dedup_portable_policy_shape(spark, sf_dir):
    # the policy twin is ONE hash agg + a bounded window: no joins of
    # any kind, no SinglePartition exchange.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    df = q("multimodal_pair_dedup_portable", spark, sf_dir)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_url_dedup_incremental_state_never_shuffles(spark, sf_dir):
    # the batch-2 probe against the persisted canonical-URL state must
    # be the broadcast fingerprint semi-join (state parquet scan feeds
    # a BroadcastHashJoin LeftSemi) — a shuffled anti-join would move
    # O(corpus) state bytes per ingest batch.
    df = q("url_dedup_canonical_incremental", spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


def test_modified_kn_single_tokenize_no_cartesian(spark, sf_dir):
    # r14: the modified-KN trigram scorer derives ALL statistics from
    # the persisted trigram table (and the continuation table derived
    # from it) — after materialization the plan must read the caches
    # in multiple branches (no branch re-tokenizes the corpus), and
    # the only nested-loop joins are the 1-row discount-triple
    # broadcasts (BuildRight, Cross) — never a CartesianProduct.
    df = q("text_perplexity_modified_kn", spark, sf_dir)
    df.count()  # materialize so the cache shows in the final plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 3, plan
    assert "CartesianProduct" not in plan, plan
    if "BroadcastNestedLoopJoin" in plan:
        assert "BuildRight, Cross" in plan, plan


def test_cluster_balanced_select_rides_grouped_plane(spark, sf_dir):
    # r14: the per-cluster top-Q must NOT be a bare window partitioned
    # on centroid_id (K=8 values -> one task per cluster at 100 TB);
    # it rides grouped_row_number, so any window PARTITIONED on
    # centroid_id must also partition (or offset-sort) on the __gb
    # bucket. The Lloyd-loop windows legitimately ORDER on centroid_id
    # inside a vec_id partition, so the check parses the partition
    # part (everything before the first ASC/DESC-marked order key)
    # rather than grepping the whole spec.
    import re

    df = q("pipeline_cluster_balanced_select", spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    specs = re.findall(r"windowspecdefinition\((.*?)specifiedwindowframe", plan)
    assert specs, "no window in plan?"
    saw_grouped = False
    for spec in specs:
        parts = spec.split(", ")
        partition = []
        for p in parts:
            if " ASC" in p or " DESC" in p:
                break
            partition.append(p)
        part_str = ", ".join(partition)
        if "centroid_id" in part_str:
            assert "__gb" in spec, (
                f"window partitioned on bare centroid_id: {spec}"
            )
            saw_grouped = True
    assert saw_grouped, "expected a (centroid_id, __gb) grouped window"


def test_dsir_incremental_state_arithmetic_is_broadcast(spark, sf_dir):
    # r14: the incremental DSIR scorer rebuilds the log-ratio table
    # from persisted bucket-count state (bounded at 65536 rows) — the
    # join back to the new batch's feature stream must stay a
    # broadcast hash join (the corpus side never key-shuffles on the
    # bucket), exactly like the one-shot scorer's plan gate.
    df = q("text_dsir_importance_incremental", spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_minhash_hash_family_stays_with_its_caller(spark, sf_dir):
    # The MinHash pipelines take the hash family as a parameter; a
    # family leaking into the wrong registration would change the
    # production hash (and SIG_VERSION semantics) or break the portable
    # twin's DuckDB oracle. Native plans hash with xxhash64 only, the
    # portable twins with md5 only.
    from helium_etl_lite_spark.plans.explain_tools import formatted_plan

    for name, present, absent in (
        ("text_dedup_minhash", "xxhash64(", "md5("),
        ("dedup_containment_screened", "xxhash64(", "md5("),
        ("text_dedup_minhash_portable", "md5(", "xxhash64("),
        ("dedup_containment_screened_portable", "md5(", "xxhash64("),
    ):
        plan = formatted_plan(q(name, spark, sf_dir))
        assert present in plan, (name, present)
        assert absent not in plan, (name, absent)
