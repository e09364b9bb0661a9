"""Physical-plan regression tests: the properties the 100-TB design
depends on, pinned so a refactor cannot silently regress them.

Each assertion reads .explain() output (the AQE initial plan) - cheap,
no job runs."""

from __future__ import annotations

from txf_continuous_data_pipeline_spark.queries import REGISTRY


def _plan(spark, sf_dir, name):
    fn, _ = REGISTRY[name]
    return fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_bar_pipeline_range_join_is_broadcast(spark, sf_dir):
    # J1: the settle-config range join must broadcast the dim, never
    # sort-merge or shuffle the bar side for it.
    plan = _plan(spark, sf_dir, "bar_pipeline_5m")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_bar_pipeline_runs_no_python(spark, sf_dir):
    # The batch cron path is JVM-only: no Python-built DataFrame (an
    # ExistingRDD scan runs a Python-worker job per run).
    from txf_continuous_data_pipeline_spark.plans.pipeline import bar_pipeline_5m

    plan = bar_pipeline_5m(spark, sf_dir)._jdf.queryExecution().executedPlan()
    assert "ExistingRDD" not in plan.toString()


def test_star_join_broadcasts_every_dimension(spark, sf_dir):
    # q5: lineitem joins orders/customer/supplier/nation/region; the
    # small dims must arrive as broadcasts, not fact-side shuffles.
    plan = _plan(spark, sf_dir, "q5_region_revenue")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_scan_filter_pushdown_and_column_pruning(spark, sf_dir):
    # q6 touches 4 lineitem columns; the parquet scan must carry the
    # predicates (PushedFilters) and read ONLY those columns.
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    assert "PushedFilters: [" in plan
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {
        "l_quantity", "l_extendedprice", "l_discount", "l_shipdate"
    }


def test_text_stats_is_shuffle_free(spark, sf_dir):
    # Pure per-row derivation: any Exchange here is a regression.
    plan = _plan(spark, sf_dir, "text_stats")
    assert "Exchange" not in plan


def test_stratified_sample_is_shuffle_free(spark, sf_dir):
    plan = _plan(spark, sf_dir, "stratified_sample_docs")
    assert "Exchange" not in plan


def test_inverted_index_self_join_reuses_exchange(spark, sf_dir):
    # The shared Jaccard pairs build: both self-join sides share one
    # repartition subplan; the index must be built once. Under AQE the
    # reuse only shows in the FINAL plan (ReusedExchange / reused query
    # stage), so execute the query first. Built directly (not via the
    # registry query, which serves from the _shared_pairs checkpoint).
    from txf_continuous_data_pipeline_spark.queries.text import (
        _jaccard_pair_frame,
    )
    from txf_continuous_data_pipeline_spark.sources import read_table

    df = _jaccard_pair_frame(read_table(spark, sf_dir, "documents"), 0.2)
    df.collect()  # a write would spawn a NEW QueryExecution; collect
    # finalizes THIS one, so the adaptive plan below is the final plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan or "ReusedQueryStage" in plan, plan


def test_ohlcv_is_single_aggregation_pass(spark, sf_dir):
    # A1: one hash aggregate with a map-side partial - exactly one
    # shuffle; min_by/max_by, never first/last.
    plan = _plan(spark, sf_dir, "ohlcv_5m")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "min_by" in plan and "max_by" in plan
    assert "first(" not in plan and "last(" not in plan


def test_asof_join_small_dim_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "asof_join_config")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_repetition_stats_is_shuffle_free(spark, sf_dir):
    # Sorted-run fold per row: any Exchange is a regression toward the
    # explode->groupBy double shuffle this operator exists to avoid.
    plan = _plan(spark, sf_dir, "repetition_stats")
    assert "Exchange" not in plan


def test_gopher_filter_is_shuffle_free(spark, sf_dir):
    plan = _plan(spark, sf_dir, "gopher_filter")
    assert "Exchange" not in plan


def test_kmeans_assign_is_shuffle_free(spark, sf_dir):
    # Literal centroids ride inside the plan; assignment is a pure
    # projection - no join, no broadcast variable, no exchange.
    plan = _plan(spark, sf_dir, "kmeans_assign")
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_semantic_dedup_no_cartesian(spark, sf_dir):
    # Pair enumeration must stay an equi-join on cluster_id and the
    # drop set a broadcast anti-join - never an n^2 product.
    plan = _plan(spark, sf_dir, "semantic_dedup_keep")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_funnel_single_fact_shuffle(spark, sf_dir):
    # The per-user fold costs ONE fact-scale shuffle; later exchanges
    # operate on user-sized frames. No join at all.
    plan = _plan(spark, sf_dir, "funnel_counts")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_cohort_retention_reuses_distinct(spark, sf_dir):
    # The distinct (user, week) frame is checkpointed: the cohort
    # aggregate and the retention join must both read the materialized
    # RDD (Scan ExistingRDD x2), not re-derive the fact-scale distinct
    # twice from the source.
    plan = _plan(spark, sf_dir, "cohort_retention")
    assert plan.count("Scan ExistingRDD") == 2, plan
    assert "CartesianProduct" not in plan


def test_no_cartesian_products_registry_wide(spark, sf_dir):
    """Every registry query's physical plan must be free of (a)
    CartesianProduct except the explicitly-labeled exact baseline and
    (b) row-at-a-time Python UDFs (BatchEvalPython) anywhere - Arrow
    stages (ArrowEvalPython / MapInPandas) are the only sanctioned
    Python surface. The automatic net that keeps future queries from
    silently regressing into all-pairs plans or the slow Python path."""
    from txf_continuous_data_pipeline_spark.queries import REGISTRY

    ALLOW = {"knn_join_bruteforce"}  # the labeled exact oracle
    cartesian, row_python = [], []
    for name, (fn, _) in REGISTRY.items():
        plan = (
            fn(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        if "CartesianProduct" in plan and name not in ALLOW:
            cartesian.append(name)
        if "BatchEvalPython" in plan:
            row_python.append(name)
    assert not cartesian, cartesian
    assert not row_python, row_python


def test_value_outliers_broadcasts_stats(spark, sf_dir):
    # group stats must come back as a broadcast; the fact side never
    # shuffles for the join (window formulation would).
    plan = _plan(spark, sf_dir, "value_outliers")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_orders_profile_single_scan(spark, sf_dir):
    # all column metrics from ONE aggregate over ONE scan: exactly one
    # parquet scan node, no join.
    plan = _plan(spark, sf_dir, "orders_profile")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_snapshot_diff_single_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "orders_snapshot_diff")
    assert plan.count("SortMergeJoin") == 1
    assert "CartesianProduct" not in plan


def test_int8_quantize_shuffle_free(spark, sf_dir):
    plan = _plan(spark, sf_dir, "embedding_int8_quantize")
    assert "Exchange" not in plan.replace("ReusedExchange", "")


def test_fuzzy_pairs_no_cartesian_blocked_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "fuzzy_part_name_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_overlap_join_is_equi_join(spark, sf_dir):
    # the binned range join must plan as an equi-join (SMJ/BHJ on the
    # bucket key), never a nested-loop over the inequality
    plan = _plan(spark, sf_dir, "session_overlap_stats")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_triangle_count_lineage_is_cut(spark, sf_dir):
    # r5 audit: overlap_triangle_count re-ran its edge-building lineage
    # ~3x (71 exchanges, zero reuse). The fix eagerly checkpoints the
    # canonical edges and the oriented `fwd` frame, so the final plan
    # must read checkpointed RDDs and stay single-digit on exchanges.
    plan = _plan(spark, sf_dir, "overlap_triangle_count")
    assert "Scan ExistingRDD" in plan, plan
    assert plan.count("Exchange") <= 9, plan.count("Exchange")
    assert "CartesianProduct" not in plan


def test_pq_codes_shuffle_free(spark, sf_dir):
    # Encoding is one Arrow projection over the scan; the k*dim
    # codebook rides in the UDF closure - any Exchange is a regression.
    plan = _plan(spark, sf_dir, "pq_codes")
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_pq_adc_single_exchange(spark, sf_dir):
    # ADC scoring is a zero-shuffle Arrow pass; the only exchange is
    # the per-query top-k window.
    plan = _plan(spark, sf_dir, "pq_adc_topk")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan


def test_leakage_safe_split_shuffle_free(spark, sf_dir):
    plan = _plan(spark, sf_dir, "leakage_safe_split")
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_pq_rescored_no_cartesian(spark, sf_dir):
    # shortlist join back to raw vectors must be an id equi-join (plus
    # the tiny broadcast of the query block) - never a product
    plan = _plan(spark, sf_dir, "pq_topk_rescored")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pq_adc_qtable_broadcasts_lut_table(spark, sf_dir):
    # The query-side LUT table must arrive as a broadcast; ADC itself
    # is JVM-side, so the only shuffle is the per-query top-k window.
    plan = _plan(spark, sf_dir, "pq_adc_topk_qtable")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "CartesianProduct" not in plan


def test_ivfpq_candidates_are_equi_join(spark, sf_dir):
    # The cell-probe candidate join and the shortlist rescore join must
    # be equi/broadcast joins - candidate count ~ nprobe*n/n_cells per
    # query, never the n*n_q product.
    plan = _plan(spark, sf_dir, "ivfpq_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_dup_span_removal_no_pairwise_work(spark, sf_dir):
    # Removal cost must track corpus + span collisions: the hot-span
    # probe is a hash semi-join and starts come back keyed on the doc
    # id; 3 hash exchanges max (distinct, hot agg+semi, starts agg/join).
    plan = _plan(spark, sf_dir, "dup_span_removal")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 4, plan


def test_curation_pipeline_digest_keyed_only(spark, sf_dir):
    # The composed pipeline may not introduce any shuffle class its
    # stages don't have: no products, and every join is hash-keyed.
    plan = _plan(spark, sf_dir, "curation_pipeline")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivfpq_residual_plan_shape(spark, sf_dir):
    # Faithful IVFADC: residual encode is a zero-shuffle projection and
    # the per-(query, cell) LUTs ride broadcasts - the only hash
    # exchange left is the shortlist/top-k window; no product may ever
    # appear (the n_q*n all-pairs failure mode).
    plan = _plan(spark, sf_dir, "ivfpq_residual_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_curation_pipeline_shuffle_budget(spark, sf_dir):
    # The composed pipeline's shuffle count must stay the sum of its
    # stages' digest/hash-keyed exchanges (gate is zero-shuffle; dedup
    # 1; span removal 2-3; split 0; rollup 1) - a regression that
    # re-shuffles the fact table on a non-key column would show here.
    plan = _plan(spark, sf_dir, "curation_pipeline")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 5, plan


def test_ivfpq_append_serving_plan_matches_full_index(spark, sf_dir):
    # Serving from the incrementally-appended index must keep the
    # from-index plan shape: candidates via broadcast equi-joins, one
    # hash exchange (top-k windows), no products.
    plan = _plan(spark, sf_dir, "ivfpq_append_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_dsir_topk_is_take_ordered_not_global_window(spark, sf_dir):
    # The Gumbel top-k must be TakeOrderedAndProject (per-partition
    # partial top-k + driver merge), never a single-task global
    # row_number window; model joins stay hash/broadcast-keyed. The
    # one BroadcastNestedLoopJoin is the 1-row vocab-size broadcast
    # (a scalar, not a table product).
    plan = _plan(spark, sf_dir, "dsir_resample")
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert "Window" not in plan, plan


def test_decontamination_benchmark_broadcasts(spark, sf_dir):
    # The eval-suite gram set must arrive as a broadcast: the corpus
    # side pays a zero-shuffle gram projection + broadcast join + one
    # doc-keyed aggregate; corpus text never shuffles.
    plan = _plan(spark, sf_dir, "decontamination_report")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_video_neardup_slot_band_join_is_equi(spark, sf_dir):
    # Candidates must come from the (slot, band, key) hash equi-join -
    # never a product over video pairs - and the vote is one
    # (id_a, id_b)-keyed aggregate. The only Python surfaces are the
    # Arrow synthesis/sample/hash stages.
    plan = _plan(spark, sf_dir, "video_phash_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    ), plan
    assert "BatchEvalPython" not in plan


def test_shard_assign_window_is_band_bounded(spark, sf_dir):
    # The layout must never plan a global (empty-partition) window -
    # the sort is partitioned by the md5 band - and the manifest adds
    # only the shard groupBy exchange on top.
    plan = _plan(spark, sf_dir, "shard_manifest")
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_embedding_curation_pipeline_plan_shape(spark, sf_dir):
    # Composed embeddings flagship: the only nested-loop is the TINY
    # broadcast anchor product of the triplet tail (n_anchors rows);
    # the one sort-merge is the cluster_id pair equi-join (both sides
    # corpus-sized - the correct scale join); drops apply as broadcast
    # anti-joins, so no unkeyed product and a bounded exchange budget.
    plan = _plan(spark, sf_dir, "embedding_curation_pipeline")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert plan.count("SortMergeJoin") <= 1
    assert plan.count("Exchange hashpartitioning") <= 6, plan


def test_line_dedup_hash_shuffle_carries_no_text(spark, sf_dir):
    # Keep-first line dedup: the hash-keyed stages (first-occurrence
    # aggregate, duplicated-hash join) move only (id, pos, 8-byte h) -
    # the full _lines arrays must ride exactly the ONE doc-keyed
    # rebuild join, and nothing is a product.
    plan = _plan(spark, sf_dir, "line_dedup")
    assert "CartesianProduct" not in plan
    h_exchanges = [
        seg
        for seg in plan.split("Exchange hashpartitioning(")[1:]
        if seg.startswith("_h")
    ]
    assert h_exchanges, plan
    assert all("_lines" not in seg[:200] for seg in h_exchanges), plan
    assert plan.count("Exchange hashpartitioning") <= 4, plan


def test_bm25_from_index_plan_matches_inline_tail(spark, sf_dir):
    # The persisted-index serving path must keep the inline tail's
    # shape: query terms and dfreq broadcast, no corpus-wide term
    # aggregate, no product; the only sort-merge-eligible join is the
    # doc-keyed dl enrich.
    for name in ("bm25_topk", "bm25_index_topk"):
        plan = _plan(spark, sf_dir, name)
        assert plan.count("BroadcastHashJoin") >= 2, (name, plan)
        assert "CartesianProduct" not in plan
        assert plan.count("SortMergeJoin") <= 1, (name, plan)


def test_adaptive_cutoff_broadcasts_per_source_bar(spark, sf_dir):
    # The p25-per-source cutoff frame is one row per source; it must
    # come back as a broadcast, never a corpus-side shuffle join.
    plan = _plan(spark, sf_dir, "adaptive_quality_cutoff")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tfidf_idf_table_broadcasts(spark, sf_dir):
    # Hashing to dim buckets makes the idf table a constant-sized
    # frame: it must broadcast, and the doc-count scalar must ride a
    # broadcast nested-loop one-row cross join (the bm25 stats shape),
    # never a real cartesian.
    plan = _plan(spark, sf_dir, "tfidf_hash_embeddings")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_phrase_search_posting_prune_is_broadcast(spark, sf_dir):
    # Phrase terms + offsets broadcast onto the positional postings;
    # the corpus side shuffles only for the two doc-keyed aggregates.
    plan = _plan(spark, sf_dir, "phrase_search")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_fuzzy_decontamination_eval_side_broadcasts(spark, sf_dir):
    # Both the band join and the shingle-set verify join must carry
    # the EVAL side as a broadcast - no corpus self-join ever forms.
    plan = _plan(spark, sf_dir, "fuzzy_decontamination")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_semantic_decontamination_is_scan_only(spark, sf_dir):
    # One Arrow pass over the corpus with the eval matrix captured as
    # a task constant: no join of any kind, no shuffle - the plan is
    # scan -> mapInPandas, full stop.
    plan = _plan(spark, sf_dir, "semantic_decontamination")
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_sampling_family_is_take_ordered_not_global_sort(spark, sf_dir):
    # The dsir discipline: deterministic samples select with
    # TakeOrderedAndProject (per-partition partial top-k), never a
    # single-task global Sort or window.
    for name in ("bottomk_sample", "es_weighted_sample"):
        plan = _plan(spark, sf_dir, name)
        assert "TakeOrderedAndProject" in plan, name
        assert "Window" not in plan, name


def test_source_overlap_join_moves_hashes_only(spark, sf_dir):
    # The shingle-hash equi-join must be a real hash/merge join (no
    # cartesian), and the vocab-size dims must broadcast back.
    plan = _plan(spark, sf_dir, "source_overlap_matrix")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_knn_label_propagation_no_corpus_broadcast(spark, sf_dir):
    # VERDICT r9 #1: the default plan must carry no corpus-proportional
    # broadcast - candidates come from a KEYED cluster_id equi-join
    # (ivf_knn_join), never a broadcast nested-loop cross join of the
    # query frame against the corpus. (A BroadcastHashJoin is fine:
    # it is keyed, and AQE may pick it at test scale.)
    plan = _plan(spark, sf_dir, "knn_label_propagation")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_orc_roundtrip_read_is_partition_pruned(spark, sf_dir):
    # The ORC source twin: the bucket filter must reach the scan as a
    # PartitionFilter (directory pruning - 2 of 8 bucket dirs), never a
    # post-scan Filter over the whole dataset.
    plan = _plan(spark, sf_dir, "orc_roundtrip")
    assert "Format: ORC" in plan
    assert "PartitionFilters: [bucket" in plan
    assert "IN (2,5)" in plan
