"""Physical-plan regression guards.

Correctness tests pin WHAT the queries compute; these pin HOW — the
plan properties that make them scale (SCALE.md). A refactor that
silently drops a broadcast hint, breaks filter pushdown, or introduces
a cartesian product fails here, not in a 100 TB run.
"""

from __future__ import annotations

import pytest

from codex_data_products_spark import registry

registry.load_all()


def _plan(spark, sf_dir, name: str) -> str:
    df = registry.QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_pushes_filter_and_prunes_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # projection pruning: the scan must not read the join keys
    scan = plan[plan.index("FileScan") :]
    assert "l_orderkey" not in scan.split("PushedFilters")[0]
    assert "partial_sum" in plan  # map-side combine


@pytest.mark.parametrize("name", ["q3_shipping_priority", "q5_region_revenue"])
def test_join_queries_broadcast_dims(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_top_k_plans_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "top_k_orders")
    assert "TakeOrderedAndProject" in plan  # no global sort


@pytest.mark.parametrize(
    "name",
    ["dedup_simhash", "dedup_minhash_lsh", "knn_lsh", "knn_ivf"],
)
def test_lsh_family_has_no_cartesian_product(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_brute_force_broadcasts_queries(spark, sf_dir):
    # brute force IS the linear scan — but the query side must be the
    # broadcast side, never a shuffle of the corpus against it
    plan = _plan(spark, sf_dir, "knn_brute_force")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_simhash_is_codegen_aggregate_no_extra_exchange(spark, sf_dir):
    # Round 11: signatures are an explode → bit-sum hash aggregate —
    # all WholeStageCodegen (the former 32 size(filter(...)) passes
    # were interpreted CodegenFallback HOFs) — and the aggregate rides
    # spread()'s doc_id partitioning: the ONLY exchange in the plan is
    # that one repartition, never an aggregation shuffle of token rows.
    from codex_data_products_spark.queries.dedup import simhash_frame
    from codex_data_products_spark.tables import table as T

    plan = (
        simhash_frame(T(spark, sf_dir, "documents"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Generate" in plan  # explode, codegen
    assert "HashAggregate" in plan
    assert plan.count("Exchange") <= 1  # spread() only
    assert "ArrayFilter" not in plan  # no interpreted HOF majority


def test_range_join_broadcasts_band_dim(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_range")
    assert "BroadcastNestedLoopJoin" in plan  # non-equi over tiny dim
    assert "SortMergeJoin" not in plan


def test_q6_pushes_every_predicate(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "IsNotNull(l_discount)" in plan and "IsNotNull(l_quantity)" in plan
    assert "partial_sum" in plan  # map-side combine before the single exchange
    scan = plan[plan.index("FileScan") :]
    assert "l_orderkey" not in scan.split("PushedFilters")[0]  # pruned


def test_q4_exists_plans_left_semi(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q4_order_priority")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q21_plans_semi_and_anti_self_joins(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q21_waiting_supplier")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    # the supplier dim stays broadcast
    assert "BroadcastHashJoin" in plan


def test_q22_anti_join_and_broadcast_scalar(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q22_global_sales")
    assert "LeftAnti" in plan
    # the 1-row global-average subquery must broadcast, not shuffle
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_q17_decorrelated_avg_broadcasts_back(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q17_small_quantity")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q19_pushes_quantity_envelope_to_lineitem_scan(spark, sf_dir):
    # the OR-of-ANDs keeps the equi-join; brand/size reach the part scan
    plan = _plan(spark, sf_dir, "q19_discounted_revenue")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    scan = plan[plan.index("FileScan parquet") :]
    assert "PushedFilters" in scan


def test_pack_sequences_single_window_partition_by_source(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pack_sequences")
    # one window over source → exactly one hashpartitioning on source
    assert plan.count("Window") >= 1
    assert "hashpartitioning(source" in plan


def test_split_train_test_is_single_agg_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "split_train_test")
    assert "partial_count" in plan or "partial_sum" in plan  # map-side combine
    assert plan.count("Exchange") <= 2  # partial→final agg only


def test_q2_argmin_broadcasts_dims_and_single_window(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q2_min_cost_supplier")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Window [") == 1
    # rank<=1 is pushed below the window as a partial+final group limit,
    # so each partition keeps one candidate row before the final sort
    assert "WindowGroupLimit" in plan


def test_q11_scans_lineitem_once(spark, sf_dir):
    # the per-part agg is persisted and reused for the global total —
    # the fact table must appear in exactly one scan
    plan = _plan(spark, sf_dir, "q11_important_parts")
    assert plan.count("FileScan parquet") <= 1 or "InMemoryTableScan" in plan


def test_curation_summary_two_exchanges(spark, sf_dir):
    # quality gate fuses into the scan; dedup window + final agg are the
    # only shuffles
    plan = _plan(spark, sf_dir, "curation_summary")
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "Window" in plan


def test_events_retention_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "events_retention")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_q16_excludes_suppliers_with_broadcast_anti_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q16_supplier_part_count")
    # tiny exclusion list and part dim both broadcast; pair-extraction
    # distinct is the only lineitem shuffle
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q20_semi_join_chain_broadcasts_all_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q20_excess_stock")
    # part list, nation dim, and the qualified-supplier set all
    # broadcast; the (suppkey, partkey) groupBy is the only fact shuffle
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_vocab_top5_pushes_window_group_limit(spark, sf_dir):
    plan = _plan(spark, sf_dir, "vocab_top_terms")
    # rank <= 5 over row_number must become a partial+final
    # WindowGroupLimit so no task materializes a full vocabulary
    assert plan.count("WindowGroupLimit") == 2
    assert "CartesianProduct" not in plan


def test_contamination_is_single_scan_skew_safe(spark, sf_dir):
    # one corpus scan/explode feeding distinct (shingle, doc_id, split)
    # pairs, then a per-shingle window max — no join, and no unbounded
    # per-shingle collect_set array (the old single-pass shape
    # concentrated hot boilerplate shingles in one in-memory array; the
    # window's sort-based runner spills instead)
    plan = _plan(spark, sf_dir, "split_contamination")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    assert "collect_set" not in plan  # no unbounded array agg
    assert "Window" in plan  # the per-shingle train flag


def test_fuzzy_symdel_is_equi_join_not_quadratic(spark, sf_dir):
    # the whole point of the deletion-neighborhood keys: an equi hash
    # join on the blocking key, never a quadratic similarity join
    plan = _plan(spark, sf_dir, "fuzzy_join_symdel")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cluster_write_produces_disjoint_file_ranges(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from codex_data_products_spark.plans.layout import cluster_write, file_stats
    from codex_data_products_spark.tables import table as T

    docs = T(spark, sf_dir, "documents")
    out = str(tmp_path / "clustered")
    cluster_write(docs, out, ["doc_id"], 4)
    stats = file_stats(spark, out, "doc_id")
    assert len(stats) == 4
    # disjoint, non-overlapping doc_id ranges → footer-stats skipping works
    ranges = sorted((s["min_val"], s["max_val"]) for s in stats)
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2
    # content unchanged
    assert (
        spark.read.parquet(out).orderBy("doc_id").select("doc_id", "text").collect()
        == docs.orderBy("doc_id").select("doc_id", "text").collect()
    )


def test_compact_merges_fragments_without_changing_rows(spark, sf_dir, tmp_path):
    from codex_data_products_spark.plans.layout import compact
    from codex_data_products_spark.tables import table as T

    docs = T(spark, sf_dir, "documents")
    frag = str(tmp_path / "fragmented")
    docs.repartition(16).write.parquet(frag)
    out = str(tmp_path / "compacted")
    compact(spark, frag, out, 2)
    import glob

    assert len(glob.glob(out + "/part-*.parquet")) == 2
    assert (
        spark.read.parquet(out).orderBy("doc_id").collect()
        == docs.orderBy("doc_id").collect()
    )
    # coalesce path: the compaction plan must not contain a shuffle
    sdf = spark.read.parquet(frag).coalesce(2)
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_clustered_layout_confines_range_filters_to_one_file(spark, sf_dir, tmp_path):
    """Range clustering = locality: all rows for a key range live in
    one file (readers with footer-stats skipping — DuckDB, Trino,
    Spark's rowgroup pruning — touch only it). The same filter on a
    hash-fragmented copy draws rows from every file."""
    from pyspark.sql import functions as F

    from codex_data_products_spark.plans.layout import cluster_write
    from codex_data_products_spark.tables import table as T

    docs = T(spark, sf_dir, "documents")
    lo, hi = 10, 60  # narrow doc_id band

    clustered = str(tmp_path / "clustered")
    cluster_write(docs, clustered, ["doc_id"], 8)
    n_files_hit = (
        spark.read.parquet(clustered)
        .filter(F.col("doc_id").between(lo, hi))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    assert n_files_hit == 1

    fragmented = str(tmp_path / "fragmented")
    docs.repartition(8).write.parquet(fragmented)
    n_files_hit_frag = (
        spark.read.parquet(fragmented)
        .filter(F.col("doc_id").between(lo, hi))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    assert n_files_hit_frag > 1


def test_zorder_clustering_gives_two_dimensional_locality(spark, sf_dir, tmp_path):
    """Morton-key clustering: a filter selective in BOTH dimensions
    touches a small fraction of files; single-column clustering has no
    locality for the second dimension."""
    from pyspark.sql import functions as F

    from codex_data_products_spark.plans.layout import cluster_write, zorder_key
    from codex_data_products_spark.tables import table as T

    ev = (
        T(spark, sf_dir, "events")
        .withColumn("ubucket", (F.col("user_id") % 16).cast("int"))
        .withColumn("vbucket", (F.col("value") / 8).cast("int"))
    )
    zed = ev.withColumn("z", zorder_key("ubucket", "vbucket", bits=8))
    out = str(tmp_path / "zorder")
    cluster_write(zed, out, ["z"], 8)

    # x<4 AND y<4 ⟺ z < 16: a contiguous Morton range → one file
    both_dims = (F.col("ubucket") < 4) & (F.col("vbucket") < 4)
    n_hit = (
        spark.read.parquet(out)
        .filter(both_dims)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    assert n_hit == 1

    # contrast: cluster on ubucket only — the vbucket filter has no
    # locality, so the same predicate touches strictly more files
    flat = str(tmp_path / "single")
    cluster_write(ev, flat, ["ubucket"], 8)
    n_hit_single = (
        spark.read.parquet(flat)
        .filter(both_dims)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    assert n_hit < n_hit_single


def test_merge_and_diff_have_no_cartesian_and_one_join(spark, sf_dir):
    for name in ("merge_upsert", "table_diff"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_mad_broadcasts_group_medians_back(spark, sf_dir):
    plan = _plan(spark, sf_dir, "agg_mad")
    # |groups|-row median table must broadcast, not shuffle the fact side
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_concurrency_is_union_window_no_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "events_concurrency")
    # sweep-line: union + one partitioned window; no self-join at all
    assert "Join" not in plan
    assert plan.count("Window") >= 1


def test_bucketed_fact_join_has_no_exchange(spark, sf_dir, tmp_path):
    """SCALE.md's biggest cluster-scale claim, verified: two fact
    tables bucketed on the join key with equal bucket counts join with
    ZERO Exchange nodes — the shuffle is pre-paid at write time. The
    same join over plain parquet (broadcast disabled) must shuffle
    both sides, proving the bucketing (not AQE luck) removed it."""
    from pyspark.sql import functions as F

    from codex_data_products_spark.plans.layout import bucketed_write
    from codex_data_products_spark.tables import table as T

    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    bucketed_write(li, "li_bucketed", ["l_orderkey"], 8,
                   path=str(tmp_path / "li_b"))
    bucketed_write(orders, "orders_bucketed", ["o_orderkey"], 8,
                   path=str(tmp_path / "o_b"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("li_bucketed").join(
            spark.table("orders_bucketed"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: no shuffle either side
        assert "SelectedBucketsCount: 8 out of 8" in plan

        flat = li.join(
            orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        flat_plan = flat._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in flat_plan  # the shuffle bucketing removes

        # layout changes plans, never results
        assert joined.count() == flat.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS orders_bucketed")


def test_tfidf_broadcasts_df_and_group_limits_topk(spark, sf_dir):
    plan = _plan(spark, sf_dir, "text_tfidf_top_terms")
    # |vocab|-sized df and the 1-row N both broadcast; rnk <= 3 becomes
    # a WindowGroupLimit, never a full per-doc sort spill
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("WindowGroupLimit") >= 1


def test_zipf_window_input_is_vocab_sized(spark, sf_dir):
    plan = _plan(spark, sf_dir, "text_zipf")
    # the single-partition rank window must sit ABOVE the term agg:
    # its input is |vocab| rows, so exactly one agg feeds the window
    assert plan.index("HashAggregate") < plan.index("Window") or (
        "partial_count" in plan[: plan.index("Window")]
    )
    assert "Join" not in plan


def test_scd2_single_shuffle_for_windows_and_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "events_scd2")
    # the lag window, island sum, (user, island) agg, and lead window
    # all reuse the user_id hash partitioning → exactly one exchange
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_embedding_outliers_no_vector_shuffle_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "embedding_outliers")
    # centroid and moment frames come back as broadcasts; the corpus
    # never sort-merge-joins or cartesians
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", ["embedding_pq_encode", "knn_pq_adc"])
def test_pq_family_broadcasts_codebooks_no_smj(spark, sf_dir, name):
    # the |codebook|-row centroid frame (and the query distance table)
    # must broadcast against the corpus; the corpus never sort-merges
    plan = _plan(spark, sf_dir, name)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pq_adc_code_join_is_broadcast_hash(spark, sf_dir):
    # the (s, code) equi join against the compressed codes must be a
    # broadcast hash join — the per-query distance table is tiny
    plan = _plan(spark, sf_dir, "knn_pq_adc")
    assert "BroadcastHashJoin" in plan


def test_spread_is_identity_on_already_split_input(spark, sf_dir):
    # spread() is gated on a genuine partition deficit: an input that is
    # already at (or above) half the default parallelism passes through
    # with NO added Exchange — the helper can never introduce an
    # avoidable full shuffle of an already-split scan (SCALE.md,
    # local-mode artifacts).
    from codex_data_products_spark.tables import spread

    n = spark.sparkContext.defaultParallelism
    wide = spark.range(1000).repartition(n)
    assert spread(wide) is wide
    assert spread(wide, "id") is wide
    # under-split input still gets widened to full parallelism
    narrow = spark.range(1000).coalesce(1)
    assert spread(narrow).rdd.getNumPartitions() == n


def test_aqe_splits_deliberately_skewed_join_partition(spark):
    # SCALE.md claims AQE skew-join splitting handles hot keys without
    # manual salting. Demonstrate it: one key carries ~100x the rows of
    # every other; with test-scale thresholds AQE must mark the
    # sort-merge join as skew-handled (skew=true) in the final adaptive
    # plan, i.e. the hot partition was split across multiple tasks.
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # fact: key 0 is hot (50k rows), keys 1..63 have 100 each
        hot = spark.range(50_000).select(
            F.lit(0).alias("k"), F.col("id").alias("payload")
        )
        cold = spark.range(6_400).select(
            (F.col("id") % 63 + 1).alias("k"), F.col("id").alias("payload")
        )
        fact = hot.unionAll(cold)
        dim = spark.range(64).select(
            F.col("id").alias("k"), F.lit("d").alias("attr")
        )
        # downstream agg keys on attr, NOT the join key: reusing the
        # join's hash partitioning downstream makes AQE decline the
        # split (it would add a shuffle) — the realistic case is the
        # join output being consumed by a differently-keyed stage
        joined = fact.join(dim, "k").groupBy("attr").agg(
            F.sum("payload").alias("s")
        )
        joined.collect()  # AQE finalizes the plan at runtime
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ivf_pq_query_path_never_scans_vectors_wide(spark, sf_dir):
    # IVF-PQ composition: candidate pruning is an equi join on the cell
    # id, ADC scoring joins the code table against a broadcast per-query
    # distance table — no sort-merge of the corpus, no cartesian, and
    # the only full-vector reads are the index-build stages (assignment
    # + encoding), which at scale run at ingest time.
    plan = _plan(spark, sf_dir, "knn_ivf_pq")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_pq_train_codebook_is_iteratively_materialized(spark, sf_dir):
    # the trained codebook reaching downstream queries is the
    # checkpointed 128-row artifact, not a re-derivation from labels:
    # the train query's plan must be scan-free (pure localCheckpoint)
    from codex_data_products_spark.queries.similarity import (
        N_SUB,
        PQ_K,
        _pq_codebook,
    )

    cb = _pq_codebook(spark, sf_dir)
    assert cb.count() == N_SUB * PQ_K
    plan = cb._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan  # trained once, reused as an artifact


def test_bpe_pairs_rowlocal_expansion_single_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "text_bpe_pairs")
    # pair expansion is transform+element_at over the token array —
    # row-local, so the only shuffle is the pair count's hash agg and
    # the top-k is TakeOrdered (never a global sort of |vocab|² keys)
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan
    assert plan.count("Exchange") == 1


def test_boilerplate_dedups_with_composite_key_no_arrays(spark, sf_dir):
    plan = _plan(spark, sf_dir, "text_boilerplate")
    # the skew-safe shape: (gram, doc_id) HashAggregate dedup, then a
    # plain count — never a collect_set/collect_list array per gram
    assert "collect_set" not in plan and "collect_list" not in plan
    # the 1-row n_docs frame arrives as a broadcast (BNLJ over one row),
    # never a shuffle join of the gram table
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_bfs_broadcasts_frontier_anti_joins_settled(spark, sf_dir):
    plan = _plan(spark, sf_dir, "graph_bfs")
    # every round probes the persisted edge list with the frontier as
    # the broadcast side, and drops settled nodes with an anti join —
    # no shuffle of the edge table per round, no cartesian anywhere
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_dq_suite_is_one_pass_per_fact(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dq_violations")
    # the whole 10-rule suite folds into ONE scan of each fact: rules
    # pre-aggregate per order (map-side combine), referential checks in
    # both directions ride the single full-outer join
    assert plan.count("lineitem.parquet") == 1
    assert plan.count("orders.parquet") == 1
    assert plan.count("customer.parquet") == 1
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan


def test_autocorr_lags_fan_out_on_daily_grain(spark, sf_dir):
    plan = _plan(spark, sf_dir, "events_autocorr")
    # raw events are scanned once into the persisted daily grain; both
    # self-join sides read the cache (the single parquet scan printed in
    # the plan lives inside the shared InMemoryRelation), and the tiny
    # lagged side broadcasts
    assert plan.count("InMemoryTableScan") == 2
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_holt_and_entropy_fold_rowlocal_no_join(spark, sf_dir):
    # both fold a collected, totally-ordered list row-locally: the only
    # plan shapes are scan → agg → agg; never a join or window
    for name in ("events_holt_forecast", "text_entropy"):
        plan = _plan(spark, sf_dir, name)
        assert "Join" not in plan, name
        assert "Window" not in plan, name


def test_markov_is_window_plus_aggs_no_self_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "events_markov")
    # transition pairs come from a per-user lead window, NOT an event
    # self-join — the classic funnel/journey scale trap
    assert plan.count("events.parquet") == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_rfm_windows_ride_single_partition_user_grain(spark, sf_dir):
    plan = _plan(spark, sf_dir, "events_rfm")
    # the raw events scan runs ONCE into the checkpointed per-user
    # grain; the anchor and the ntile windows both read that grain
    assert plan.count("events.parquet") == 0
    assert "ExistingRDD" in plan  # the shared checkpointed grain


def test_growth_window_rides_rollup_not_fact(spark, sf_dir):
    plan = _plan(spark, sf_dir, "revenue_monthly_growth")
    # the lag window's input is the nations×months rollup: the window
    # sits ABOVE the aggregate, and the fact side joins via broadcasts
    assert plan.index("Window") < plan.index("FileScan")
    assert "CartesianProduct" not in plan


def test_concentration_is_two_aggs_no_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "supplier_concentration")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_interarrival_single_user_window_then_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "orders_interarrival")
    assert plan.count("Window") == 1
    assert "Join" not in plan


def test_join_cardinality_joins_count_tables_only(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_cardinality")
    # the estimator joins key-cardinality-sized COUNT tables — both
    # join inputs are aggregates, so every scan sits below a HashAggregate
    assert plan.index("HashAggregate") < plan.index("FileScan")
    assert "CartesianProduct" not in plan


# --- plan_join: estimates drive the physical strategy (VERDICT r4 #3) ------


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_plan_join_decides_from_estimates_alone(spark, sf_dir):
    """The CBO loop closed: the SAME inputs get a different physical
    strategy purely because the JoinEstimate changed."""
    from pyspark.sql import functions as F

    from codex_data_products_spark.operators.joins import (
        JoinEstimate,
        plan_join,
    )
    from codex_data_products_spark.tables import table

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )

    # estimate says the right side is dim-sized → BroadcastHashJoin
    small = JoinEstimate(
        left_rows=10**9,
        right_rows=50_000,
        n_keys_matched=50_000,
        predicted_rows=10**9,
        max_key_product=40,
    )
    joined, strategy = plan_join(li, orders, "l_orderkey", small)
    assert strategy == "broadcast"
    plan = _physical(joined)
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan

    # same inputs, estimate says too big to broadcast + one hot key
    # dominating the histogram product → salted scatter
    skewed = JoinEstimate(
        left_rows=10**9,
        right_rows=10**8,
        n_keys_matched=10**6,
        predicted_rows=10**9,
        max_key_product=10**8,  # 10^5 × the avg product of 10^3
    )
    joined, strategy = plan_join(li, orders, "l_orderkey", skewed)
    assert strategy == "salted"
    # the join keys physically include the salt column: no single
    # reducer owns the hot key
    plan = _physical(joined)
    assert "_salt" in plan

    # big-but-uniform estimate → plain shuffle join, AQE cleans up
    uniform = JoinEstimate(
        left_rows=10**9,
        right_rows=10**8,
        n_keys_matched=10**8,
        predicted_rows=10**9,
        max_key_product=12,
    )
    joined, strategy = plan_join(li, orders, "l_orderkey", uniform)
    assert strategy == "shuffle"
    # the shuffle branch adds NO hint and no salt — Catalyst/AQE stays
    # free to pick broadcast when the actual (sf0.001) sizes warrant it,
    # which is exactly the division of labor: the estimator rules out
    # forced strategies, runtime stats refine the rest
    assert "_salt" not in _physical(joined)


def test_estimate_join_matches_truth_and_salted_result_is_correct(
    spark, sf_dir
):
    """estimate_join's predicted_rows is EXACT for an equi-join (the
    histogram product is not a heuristic when computed on full counts),
    and the salted strategy returns the same rows as a plain join."""
    from pyspark.sql import functions as F

    from codex_data_products_spark.operators.joins import (
        estimate_join,
        plan_join,
    )
    from codex_data_products_spark.tables import table

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    est = estimate_join(li, orders, "l_orderkey")
    truth = li.join(orders, "l_orderkey").count()
    assert est.predicted_rows == truth
    assert est.right_rows == orders.count()

    # force the salted branch on real data and check row-for-row parity
    joined, strategy = plan_join(
        li, orders, "l_orderkey", est, broadcast_row_limit=0, skew_factor=0.5
    )
    assert strategy == "salted"
    plain = li.join(orders, "l_orderkey")
    assert joined.count() == plain.count()
    a = joined.groupBy("l_orderkey").count().orderBy("l_orderkey")
    b = plain.groupBy("l_orderkey").count().orderBy("l_orderkey")
    assert a.exceptAll(b).count() == 0


def test_contamination_hashed_caps_window_input(spark, sf_dir):
    """The 100 TB contamination variant (VERDICT r4 #7): boilerplate
    keys are pre-flagged by test-doc-frequency and removed from the
    window input via a BROADCAST anti-join — the hot key never reaches
    the per-key window — and the shingle key is a fixed-width hash, not
    the raw ~50-byte string."""
    plan = _plan(spark, sf_dir, "split_contamination_hashed")
    # the cap prunes the window input with a broadcast anti-join
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan
    assert "Window" in plan
    assert "collect_set" not in plan
    # fixed-width hashed key in the plan, raw shingle only before hashing
    assert "md5" in plan


def test_ivf_pq_rerank_probes_with_broadcasts(spark, sf_dir):
    """The rerank stack's float re-score must be point lookups: the
    tiny ADC shortlist broadcast-probes the vectors (BroadcastHashJoin),
    and the only nested-loop join is the deliberate K-row centroid-dim
    cross join every IVF query shares. No CartesianProduct anywhere."""
    plan = _plan(spark, sf_dir, "knn_ivf_pq_rerank")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # shortlist → vector point probe


# --- round-5 additions -------------------------------------------------


def test_streaks_window_rides_user_day_grain(spark, sf_dir):
    # the island window must consume the DISTINCT (user, day) frame —
    # i.e. sit above a deduplicating aggregate — never raw events
    plan = _plan(spark, sf_dir, "events_streaks")
    assert plan.count("Window") == 1
    w = plan.index("Window")
    assert "HashAggregate" in plan[w:]
    assert "Join" not in plan


def test_skew_profile_window_on_distinct_count_grain(spark, sf_dir):
    # two audits, each: key agg -> distinct-count-value agg -> tiny
    # cumulative window; no join anywhere and the windows sit above
    # two levels of aggregation
    plan = _plan(spark, sf_dir, "skew_profile")
    assert "Join" not in plan
    assert plan.count("Window") == 2


def test_pii_scan_is_single_scan_per_side(spark, sf_dir):
    # detector + injection are row-local codegen over ONE documents
    # scan folding straight into the |sources| aggregate
    plan = _plan(spark, sf_dir, "text_pii_scan")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    assert "Window" not in plan


def test_basket_rules_broadcasts_frequencies(spark, sf_dir):
    # pair join is equi on the order key; frequency/lift sides ride
    # broadcasts; no cartesian anywhere
    plan = _plan(spark, sf_dir, "market_basket_rules")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_dim_stats_is_explode_then_single_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "embedding_dim_stats")
    assert "Generate posexplode" in plan or "Generate" in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_pca_broadcasts_direction_every_iteration(spark, sf_dir):
    # w and the centroid travel as 1-row broadcasts; the corpus is
    # never on the build side and never cartesian-joined against itself
    plan = _plan(spark, sf_dir, "embedding_pca_power")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row crossJoin broadcasts


def test_funnel_timing_no_event_grain_window(spark, sf_dir):
    # percentile windows ride the distinct-minute bucket grain: every
    # Window sits above a HashAggregate, and the only join is the
    # co-partitioned purchase-vs-firsts equi join
    plan = _plan(spark, sf_dir, "events_funnel_timing")
    assert "CartesianProduct" not in plan
    first_window = plan.index("Window")
    assert "HashAggregate" in plan[first_window:]


def test_degree_distribution_two_level_collapse(spark, sf_dir):
    plan = _plan(spark, sf_dir, "graph_degree_distribution")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    # distinct edge set + degree agg + histogram agg
    assert plan.count("HashAggregate") >= 4  # partial+final per level


def test_centroid_drift_joins_label_grain_only(spark, sf_dir):
    # the halves join at the |labels| grain (arrays already assembled);
    # vectors are never shuffled whole below a join
    plan = _plan(spark, sf_dir, "embedding_centroid_drift")
    assert "CartesianProduct" not in plan


def test_auto_salts_scale_with_hot_key_size():
    from codex_data_products_spark.operators.joins import (
        JoinEstimate,
        auto_salts,
        plan_join,
    )

    # fan-out tracks the hot key's row count, clamped to [2, 64]
    assert auto_salts(1) == 2
    assert auto_salts(1_000_000) == 2
    assert auto_salts(10_000_000) == 10
    assert auto_salts(1_000_000_000) == 64

    # plan_join sizes the salted scatter from the estimate alone
    est = JoinEstimate(
        left_rows=100_000_000,
        right_rows=5_000_000,
        n_keys_matched=1_000,
        predicted_rows=200_000_000,
        max_key_product=150_000_000,
        max_left_key_rows=12_000_000,
    )
    assert auto_salts(est.max_left_key_rows) == 12


def test_simhash_wide_no_cartesian_first_match_bands(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_simhash_wide")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # four band joins, all equi (SortMergeJoin/ShuffledHashJoin/BHJ)
    assert plan.count("Join") >= 4


def test_cell_balance_is_aggregates_over_assignment(spark, sf_dir):
    # no new corpus scan beyond the assignment's embedding reads, and
    # the balance math is hash aggregates only — no window, no extra join
    plan = _plan(spark, sf_dir, "knn_ivf_cell_balance")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_forecast_eval_fold_rowlocal_broadcast_scalars(spark, sf_dir):
    # train/holdout split rides ONE broadcast max-day scalar; the Holt
    # fold is row-local per type; no window, no cartesian against facts
    plan = _plan(spark, sf_dir, "events_forecast_eval")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row cutoff scalar


def test_fulfillment_lag_window_on_distinct_day_grain(spark, sf_dir):
    plan = _plan(spark, sf_dir, "orders_fulfillment_lag")
    assert "CartesianProduct" not in plan
    # both windows sit above the (priority, lag_days) aggregate
    w = plan.index("Window")
    assert "HashAggregate" in plan[w:]


def test_survival_curve_windows_ride_month_grain(spark, sf_dir):
    plan = _plan(spark, sf_dir, "orders_survival_curve")
    assert "CartesianProduct" not in plan
    w = plan.index("Window")
    assert "HashAggregate" in plan[w:]


def test_user_entropy_rowlocal_fold_no_window(spark, sf_dir):
    plan = _plan(spark, sf_dir, "events_user_entropy")
    assert "Window" not in plan
    assert "Join" not in plan


def test_dedup_incremental_persisted_bands_never_shuffle(
    spark, sf_dir, tmp_path
):
    """Incremental dedup's candidate stage (streaming/dedup_ivm.py):
    the delta band signatures must arrive as a BroadcastExchange, and
    the persisted band table's scan branch must carry NO shuffle
    Exchange — new docs join against the persisted state in place, so
    the O(|corpus|) side never moves at 100 TB."""
    from pyspark.sql import functions as F

    from codex_data_products_spark.queries.dedup import (
        _frequent_shingles_removed,
        minhash_bands,
        shingle_table,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    persisted_dir = str(tmp_path / "bands")
    minhash_bands(
        _frequent_shingles_removed(
            shingle_table(docs.filter(F.col("doc_id") % 3 > 0))
        )
    ).write.parquet(persisted_dir)
    persisted = spark.read.parquet(persisted_dir)
    # materialize the delta signatures first (apply_dedup_batch persists
    # them) so the guard isolates the candidate JOIN stage: any Exchange
    # left in this plan would be a shuffle of the persisted state
    delta_dir = str(tmp_path / "delta_bands")
    minhash_bands(
        _frequent_shingles_removed(
            shingle_table(docs.filter(F.col("doc_id") % 3 == 0))
        )
    ).write.parquet(delta_dir)
    delta = spark.read.parquet(delta_dir)
    r, s = delta.alias("r"), persisted.alias("s")
    cand = s.join(
        F.broadcast(r),
        (F.col("r.b0") == F.col("s.b0"))
        & (F.col("r.doc_id") != F.col("s.doc_id")),
    ).select(
        F.least(F.col("r.doc_id"), F.col("s.doc_id")).alias("doc_a"),
        F.greatest(F.col("r.doc_id"), F.col("s.doc_id")).alias("doc_b"),
    )
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan
    assert cand.count() >= 0  # the plan actually executes


def test_simhash_incremental_persisted_signatures_never_shuffle(
    spark, sf_dir, tmp_path
):
    """SimHash maintenance (streaming/dedup_ivm.apply_simhash_batch):
    same no-shuffle contract as the MinHash maintainer — the delta
    signatures broadcast against the persisted signature table, whose
    scan branch carries no Exchange, so the O(|corpus|) side never
    moves at 100 TB."""
    from pyspark.sql import functions as F

    from codex_data_products_spark.queries.dedup import simhash_frame

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    persisted_dir = str(tmp_path / "sim")
    simhash_frame(docs.filter(F.col("doc_id") % 3 > 0)).write.parquet(
        persisted_dir
    )
    delta_dir = str(tmp_path / "sim_delta")
    simhash_frame(docs.filter(F.col("doc_id") % 3 == 0)).write.parquet(
        delta_dir
    )
    persisted = spark.read.parquet(persisted_dir)
    delta = spark.read.parquet(delta_dir)
    r, s = delta.alias("r"), persisted.alias("s")
    cand = s.join(
        F.broadcast(r),
        (
            F.shiftrightunsigned(F.col("r.simhash"), 16)
            == F.shiftrightunsigned(F.col("s.simhash"), 16)
        )
        & (F.col("r.doc_id") != F.col("s.doc_id")),
    ).select(
        F.least(F.col("r.doc_id"), F.col("s.doc_id")).alias("doc_a"),
        F.greatest(F.col("r.doc_id"), F.col("s.doc_id")).alias("doc_b"),
    )
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan
    assert cand.count() >= 0


def test_pair_log_snapshot_never_shuffles_the_pair_log(
    spark, sf_dir, tmp_path
):
    """The append-structured pair state (streaming/dedup_ivm): the
    snapshot is the batch-dir union filtered by tombstones, and the
    corpus-scale pair log must only ever STREAM through the two
    tombstone joins — broadcast build sides, no sort-merge, no hash
    exchange of the log. The only exchanges allowed are inside the
    release-grain tombstone aggregate's own broadcast branch."""
    from codex_data_products_spark.streaming.dedup_ivm import (
        apply_cluster_batch,
        bootstrap_cluster_state,
        simhash_pairs_snapshot,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    state = str(tmp_path / "pairlog_state")
    bootstrap_cluster_state(spark, state)
    apply_cluster_batch(docs.filter("doc_id % 2 = 0"), state, 0)
    apply_cluster_batch(
        docs.filter("doc_id % 2 = 1"), state, 1, remove=[0]
    )
    snap = simhash_pairs_snapshot(spark, state)
    plan = snap._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2
    # every hash exchange must feed a broadcast (the tombstone agg),
    # never re-distribute the pair log itself
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([a-z_]+)#", plan):
        assert m.group(1) == "doc_id", plan[m.start() - 200 : m.end()]
    assert snap.count() >= 0


def test_ivf_probe_is_partition_pruned(spark, sf_dir, tmp_path):
    """SCALE.md's IVF claim, promoted from asserted to plan-guarded:
    the corpus written partitionBy(cell) + a probe filter on the cell
    id compiles to a scan whose PartitionFilters carry the probed
    cells — non-probed partitions are eliminated at planning time, so
    at 100 TB a probe reads nprobe cells' files, not the corpus."""
    from pyspark.sql import functions as F

    from codex_data_products_spark.plans.layout import partitioned_write

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "cell", F.col("label")
    )
    layout = str(tmp_path / "ivf_corpus")
    partitioned_write(emb, layout, ["cell"])

    corpus = spark.read.parquet(layout)
    probed = [1, 3]  # the nprobe=2 cells a query's centroid ranking picked
    scan = corpus.filter(F.col("cell").isin(probed)).select(
        "vec_id", "embedding"
    )
    plan = scan._jdf.queryExecution().executedPlan().toString()
    # the probe must be a PartitionFilter (planning-time file pruning),
    # NOT a post-scan Filter or a mere pushed data filter
    assert "PartitionFilters: [" in plan
    part_filters = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cell" in part_filters and "1" in part_filters and "3" in part_filters
    # rows actually come only from the probed partitions' files
    files = {
        r["f"]
        for r in scan.select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert files and all("cell=1" in f or "cell=3" in f for f in files)
    total_cells = {r["cell"] for r in corpus.select("cell").distinct().collect()}
    assert len(total_cells) > len(probed)  # pruning had something to prune


def test_auto_nprobe_flips_on_measured_balance_alone(spark, tmp_path):
    """knn_ivf_cell_balance -> auto_nprobe closes the measure-then-plan
    loop: on a deliberately SKEWED cell distribution the same scan
    budget affords fewer probes than on a balanced one, and the probe
    list the plan prunes to is sized by the measurement alone."""
    from pyspark.sql import functions as F

    from codex_data_products_spark.operators.clustering import auto_nprobe
    from codex_data_products_spark.plans.layout import partitioned_write

    def balance(counts: dict[str, int]) -> tuple[int, float]:
        rows = [(c, n) for c, n in counts.items()]
        cells = spark.createDataFrame(rows, "cell string, n_c long")
        r = cells.agg(
            F.count(F.lit(1)).alias("n_cells"),
            (
                F.sum(F.col("n_c") * F.col("n_c")).cast("double")
                / (F.sum("n_c") * F.sum("n_c"))
            ).alias("esf"),
        ).collect()[0]
        return int(r["n_cells"]), float(r["esf"])

    balanced = {f"c{i}": 100 for i in range(10)}
    skewed = {"hot": 910, **{f"c{i}": 10 for i in range(9)}}
    n_b, esf_b = balance(balanced)
    n_s, esf_s = balance(skewed)
    np_b = auto_nprobe(n_b, esf_b)
    np_s = auto_nprobe(n_s, esf_s)
    assert np_b == 2  # balanced: esf = 0.1, 20% budget -> 2 probes
    assert np_s == 1  # skewed: hot cell alone ~83% of the scan budget
    assert np_b > np_s

    # and the chosen nprobe drives the pruned layout: probe lists of
    # the decided size compile to exactly-that-many partition dirs
    rows = [(i, c) for c, n in skewed.items() for i in range(n)][:50]
    frame = spark.createDataFrame(rows, "vec_id long, cell string")
    layout = str(tmp_path / "skewed_corpus")
    partitioned_write(frame, layout, ["cell"])
    probe_cells = ["hot"][:np_s]
    scan = spark.read.parquet(layout).filter(
        F.col("cell").isin(probe_cells)
    )
    plan = scan._jdf.queryExecution().executedPlan().toString()
    part_filters = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "hot" in part_filters


def test_ab_test_single_scan_hash_aggs_only(spark, sf_dir):
    # arm assignment is row-local md5 arithmetic; the readout is two
    # stacked hash aggregates over ONE events scan — no window, no join
    plan = _plan(spark, sf_dir, "events_ab_test")
    assert "Window" not in plan
    assert "Join" not in plan
    assert plan.count("FileScan") == 1


def test_unigram_surprisal_vocab_join_scalar_broadcast(spark, sf_dir):
    # the LM side is vocabulary-grain (derived from the same (doc, term)
    # counts), joined back on term as an equi join; the corpus-total N is
    # a 1-row broadcast scalar — never a cartesian against doc rows
    plan = _plan(spark, sf_dir, "text_unigram_surprisal")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row N scalar
    assert "Window" not in plan


def test_hash_embedding_rowlocal_routing_no_join(spark, sf_dir):
    # feature-hash routing (bucket + sign) is row-local md5 math; the
    # vector build is one conditional hash aggregate per doc — no join,
    # no window, one documents scan
    plan = _plan(spark, sf_dir, "text_hash_embedding")
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("FileScan") == 1


def test_sq_codes_range_rides_one_row_broadcast(spark, sf_dir):
    # the per-dim [min,max] table reaches every row as a 1-row broadcast
    # (codes are row-local math under it); queries join broadcast; the
    # only joins are those two broadcasts — nothing cartesian over rows
    plan = _plan(spark, sf_dir, "knn_sq_int8")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row range stats
    assert "SortMergeJoin" not in plan  # never a corpus x corpus shuffle join


def test_bpe_train_loops_on_vocab_grain(spark, sf_dir):
    # every iteration is hash aggs over the word-frequency grain plus a
    # 1-row broadcast of the winning pair; no window, nothing cartesian
    plan = _plan(spark, sf_dir, "text_bpe_train")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_bigram_surprisal_joins_vocab_grains_only(spark, sf_dir):
    # LM sides are bigram-/left-word-grain equi joins; the vocab size V
    # is the only 1-row broadcast; no window anywhere
    plan = _plan(spark, sf_dir, "text_bigram_surprisal")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row V scalar
    assert "Window" not in plan


def test_readability_is_single_pass_rowlocal(spark, sf_dir):
    # pure row-local regex counting + closed-form score: one scan,
    # no join, no window, no aggregate — nothing to shuffle at all
    plan = _plan(spark, sf_dir, "text_readability")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "Exchange" not in plan
    assert plan.count("FileScan") == 1


def test_mixture_temperature_folds_denominator_no_window(spark, sf_dir):
    # the temperature denominator folds over a source-sorted list in a
    # 1-row broadcast — the window-SUM-over-doubles hazard is designed
    # out, so no Window may appear
    plan = _plan(spark, sf_dir, "mixture_temperature")
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row denominators


def test_dedup_chunks_no_self_join_no_window(spark, sf_dir):
    # chunk recurrence is two hash aggs + one chunk-grain equi join;
    # never a doc x doc self-join, never a window over chunk rows
    plan = _plan(spark, sf_dir, "dedup_chunks")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_link_prediction_equi_joins_only(spark, sf_dir):
    # two-hop neighbor join + anti join on the pair key + two degree
    # joins — all equi; nothing cartesian, no window
    plan = _plan(spark, sf_dir, "graph_link_prediction")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan or plan.count("Window") <= 2  # upstream LSH


def test_ivf_sq_probe_joins_broadcast_sides(spark, sf_dir):
    # cell ranking rides a |cells|-row broadcast; query codes ride a
    # broadcast; the candidate join is equi on the cell id — nothing
    # cartesian over corpus rows, no corpus SortMergeJoin self-join
    plan = _plan(spark, sf_dir, "knn_ivf_sq")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_g711_decode_is_two_pandas_stages_no_shuffle_after_spread(spark, sf_dir):
    # encode → decode are row-local Arrow stages; no join, no window,
    # at most the one spread repartition, one documents scan
    plan = _plan(spark, sf_dir, "multimodal_g711_decode")
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("FileScan") == 1
    assert plan.count("MapInPandas") == 2


def test_gif_decode_is_two_pandas_stages_no_shuffle_after_spread(spark, sf_dir):
    plan = _plan(spark, sf_dir, "multimodal_gif_decode")
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("FileScan") == 1
    assert plan.count("MapInPandas") == 2


def test_containment_pairs_only_via_shingle_equi_join(spark, sf_dir):
    # pairs materialize only through the shingle equi-join (DF-capped);
    # size lookups are equi joins; nothing cartesian over doc rows
    plan = _plan(spark, sf_dir, "dedup_containment")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_sample_priority_is_takeordered_not_global_sort(spark, sf_dir):
    # the corpus-grain selection is TakeOrdered(k+1) — per-partition
    # heaps, never a full global Sort exchange; the window runs on the
    # 151-row result and the threshold rides a 1-row broadcast
    plan = _plan(spark, sf_dir, "sample_priority")
    assert "TakeOrdered" in plan
    assert plan.count("FileScan") == 1


def test_semantic_dedup_pairs_cell_local_broadcast(spark, sf_dir):
    # one side broadcast: pair generation is cell-local with no shuffle
    # of the spread side; drop-set selection is one hash aggregate
    plan = _plan(spark, sf_dir, "dedup_semantic")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_kcore_edges_single_equi_join_then_semi_peels(spark, sf_dir):
    # pair generation is the basket-bounded order-key equi self-join
    # (never part x part); each peel round is semi joins + hash aggs —
    # nothing cartesian, no window anywhere in the loop
    plan = _plan(spark, sf_dir, "graph_kcore")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_bpe_apply_runs_on_vocab_grain_single_corpus_pass(spark, sf_dir):
    # the corpus is touched once (the word-frequency checkpoint); the
    # merge chain and the unit explosion are vocabulary-sized — the
    # plan reads the checkpoint, not documents.parquet
    plan = _plan(spark, sf_dir, "text_bpe_apply")
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan
    assert plan.count("FileScan") == 0
    assert "Window" not in plan


def test_dq_profile_one_scan_two_level_agg(spark, sf_dir):
    # one orders scan; stack() fans out row-locally; exactly the
    # two-level hash aggregate (column,value) -> column, never a
    # per-column count(DISTINCT) Expand
    plan = _plan(spark, sf_dir, "dq_profile")
    assert plan.count("FileScan") == 1
    assert "Expand" not in plan
    assert "Window" not in plan
    assert "Join" not in plan


def test_semantic_contamination_broadcasts_test_side(spark, sf_dir):
    # the small (test) side broadcasts; the train corpus streams
    # partition-parallel with no shuffle to the pair filter
    plan = _plan(spark, sf_dir, "split_contamination_semantic")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_inverted_index_head_is_windowgrouplimit(spark, sf_dir):
    # the posting-list head cap must compile to WindowGroupLimit so no
    # task ever materializes a stopword's full posting list
    plan = _plan(spark, sf_dir, "text_inverted_index")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    # the (term, doc) grain is checkpointed: one corpus explode feeds
    # both the stats and posting-head branches
    assert plan.count("FileScan") == 0
    assert "Scan ExistingRDD" in plan


def test_drift_psi_single_scan_broadcast_totals(spark, sf_dir):
    # one orders scan; per-column totals ride a broadcast back onto the
    # (column, value) grain; the float fold is row-local on sorted
    # category lists — no window anywhere
    plan = _plan(spark, sf_dir, "dq_drift_psi")
    # the (column, value) grain is checkpointed, so the final plan
    # reads the materialized cut — zero re-scans of orders
    assert plan.count("FileScan") == 0
    assert "Scan ExistingRDD" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_prefix_jaccard_no_vocab_window_no_cartesian(spark, sf_dir):
    # rarest-first ordering is a row-local array sort after the df
    # join — no global vocab rank, no vocab-grain window; candidates
    # only via the prefix-token equi-join; verification row-local
    plan = _plan(spark, sf_dir, "dedup_prefix_jaccard")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_prefix_jaccard_eval_counts_generations_not_pairs(spark, sf_dir):
    # the "avoided work" numbers come from token-grain C(df,2) sums —
    # the avoided pairs are never materialized; the only pair frames
    # are the prefix candidates the production query builds anyway
    plan = _plan(spark, sf_dir, "dedup_prefix_jaccard_eval")
    # the only cross joins are the four 1-row stat frames composing
    # the single output row
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_image_ahash_two_arrow_stages_one_signature_agg(spark, sf_dir):
    # encode -> hash are row-local Arrow stages; the only shuffle is
    # the signature-grain hash aggregate (never pixels)
    plan = _plan(spark, sf_dir, "multimodal_image_ahash")
    assert plan.count("MapInPandas") == 2
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("FileScan") == 1


def test_nprobe_curve_candidate_joins_broadcast_not_cartesian(spark, sf_dir):
    # each curve point's candidate join broadcasts the corpus frame on
    # the cell key; the ranked-probe frame is checkpointed once
    plan = _plan(spark, sf_dir, "knn_nprobe_curve")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_wau_hll_register_grain_no_window(spark, sf_dir):
    # the 7-day merge joins the broadcast day scaffold against the
    # day-grain register table — no window function, nothing
    # user-grain crosses the merge
    plan = _plan(spark, sf_dir, "events_rolling_wau_hll")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the range-condition day join


def test_benford_single_scan_tiny_grain(spark, sf_dir):
    # first-digit extraction is row-local; the only window runs over
    # the 9-row digit grain AFTER the aggregate, never the fact
    plan = _plan(spark, sf_dir, "dq_benford")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan


def test_bitmap_retention_one_scan_no_join(spark, sf_dir):
    # (user, day) distinct → per-user min-day window on that bounded
    # grain → one bit_or per user → single-row agg unpivoted via stack;
    # per-user state is 8 bytes, and the fact is scanned exactly once
    plan = _plan(spark, sf_dir, "events_bitmap_retention")
    assert plan.count("FileScan") == 1
    assert "CartesianProduct" not in plan
    assert "Join" not in plan


def test_pii_redact_pure_map_then_tiny_agg(spark, sf_dir):
    # redaction is three chained regexp_replace calls in one projection
    # — a pure map stage; the only exchange feeds the |sources| agg
    plan = _plan(spark, sf_dir, "text_pii_redact")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    assert "Window" not in plan


def test_pmi_vocab_is_takeordered_and_broadcast(spark, sf_dir):
    # top-V vocabulary via TakeOrderedAndProject (distributed top-k,
    # never a single-partition window over all distinct tokens), then
    # broadcast back; doc-local pair generation is an equi self-join
    plan = _plan(spark, sf_dir, "text_pmi_cooccur")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_keep_best_windows_component_grain_only(spark, sf_dir):
    # keeper election windows are partitioned by component_id — bounded
    # by cluster size, never a global sort or cartesian anywhere
    plan = _plan(spark, sf_dir, "dedup_keep_best")
    assert "CartesianProduct" not in plan
    assert "Window" in plan and "component_id" in plan


def test_cluster_quality_broadcast_centroid_matrix(spark, sf_dir):
    # S_i folds on the |cells| grain; the K x K centroid-pair matrix and
    # both S_i lookups join broadcast-sized frames — the corpus is
    # scanned for assignment only, never shuffled against itself
    plan = _plan(spark, sf_dir, "knn_cluster_quality")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_logreg_static_dag_broadcast_weights_no_collect(spark, sf_dir):
    # 3 GD iterations compile into ONE static DAG: each iteration is a
    # corpus agg crossJoined against the 1-row broadcast weight frame —
    # no driver loop state, no SortMergeJoin, no cartesian fallback
    plan = _plan(spark, sf_dir, "text_quality_logreg")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_scd2_lookup_is_merge_not_join(spark, sf_dir):
    # the PIT lookup is a sort-based merge: version rows union facts
    # and one per-user window carries the active version — NO join of
    # any kind may appear (the hash-join formulation probed all of a
    # key's spans per fact: quadratic on high-churn keys)
    plan = _plan(spark, sf_dir, "scd2_asof_lookup")
    assert "Join" not in plan
    assert "Union" in plan
    assert "Window" in plan


def test_attribution_join_is_cell_bucketed(spark, sf_dir):
    # the scd2 bug-class audit (VERDICT r6 #4): the 30-min interval
    # residual must ride a (user, cell) equi key — purchases explode
    # into 2 cells and each probes only time-adjacent views, bounding
    # per-key probe cost by views-per-hour, not views-per-lifetime. A
    # user-only equi join (probing all of a bot's views per purchase)
    # or a pure theta join must not come back.
    plan = _plan(spark, sf_dir, "events_attribution")
    assert "cell" in plan  # the bucket key reached the join
    assert "Generate explode" in plan  # the 2-cell expansion exists
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the hash join keys on BOTH user and cell, not user alone
    import re

    join_lines = [
        ln for ln in plan.splitlines() if "HashJoin" in ln or "SortMergeJoin" in ln
    ]
    assert join_lines and all(
        "cell" in ln and "user_id" in ln for ln in join_lines
    )


def test_cdc_net_changes_pure_hash_agg(spark, sf_dir):
    # changelog compaction is ONE pass: per-key min_by/max_by hash
    # aggregate then the |op|-grain collapse — no window sorts the
    # changelog, no join touches it
    plan = _plan(spark, sf_dir, "cdc_net_changes")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    assert "Window" not in plan


def test_winsorize_two_scans_bucket_grain_window(spark, sf_dir):
    # pass 1 reduces to the width-1000 bucket grain before any window;
    # pass 2 clamps against the broadcast 1-row threshold frame — the
    # only nested-loop join allowed is that single-row broadcast
    plan = _plan(spark, sf_dir, "orders_winsorize")
    assert plan.count("FileScan") == 2
    assert "CartesianProduct" not in plan
    # thresholds arrive via broadcast, never a shuffle join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_er_fuzzy_join_broadcasts_name_grain(spark, sf_dir):
    # candidates come from the blocked equi self-join of the DISTINCT
    # name grain with the vocabulary side broadcast; levenshtein is a
    # JVM expression on the candidate rows only
    plan = _plan(spark, sf_dir, "er_fuzzy_join")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "levenshtein" in plan


def test_compaction_plan_single_scan_local_fold(spark, sf_dir):
    # the bin-pack is a row-local integer fold over each partition's
    # size-sorted list — one fact scan, no join, no window
    plan = _plan(spark, sf_dir, "compaction_plan")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    assert "Window" not in plan


def test_trend_test_daily_grain_computed_once(spark, sf_dir):
    # every branch (pairs, n_days, ties, sen) must read the
    # checkpointed daily frame: the raw events scan happens during
    # checkpoint materialization, not once per branch
    plan = _plan(spark, sf_dir, "events_trend_test")
    assert plan.count("FileScan") == 0
    assert plan.count("Scan ExistingRDD") >= 4
    assert "CartesianProduct" not in plan


def test_zorder_two_scans_no_cartesian_on_fact(spark, sf_dir):
    # stats pass + one assignment scan; both layouts fan out through
    # one stack() projection; the only nested-loop joins are the 1-row
    # stats broadcast and the 16-row probe frame
    plan = _plan(spark, sf_dir, "zorder_layout")
    assert plan.count("FileScan") == 2
    assert "CartesianProduct" not in plan
    assert "stack" in plan


def test_band_join_is_equi_on_cell_never_nested_loop(spark, sf_dir):
    # the keyless band join must compile to an EQUI join on the
    # expanded cell id (shuffle- or broadcast-hash), never the
    # nested-loop theta join the naive formulation produces
    plan = _plan(spark, sf_dir, "band_join_buckets")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan
    assert "Generate" in plan  # the 3-cell expansion explode


def test_rake_topk_is_take_ordered(spark, sf_dir):
    # phrase-run windows partition per document; the corpus top-10 is
    # a TakeOrdered heap, never a global sort
    plan = _plan(spark, sf_dir, "text_keyphrase_rake")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_er_clusters_static_dag_no_cartesian(spark, sf_dir):
    # 7 fixed label-propagation rounds over checkpointed vocabulary-
    # grain frames: no cartesian, no nested loop; the final plan reads
    # checkpointed RDDs rather than re-deriving the name table
    plan = _plan(spark, sf_dir, "er_clusters")
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan


def test_equidepth_single_scan_bucket_grain_windows(spark, sf_dir):
    # the fact reduces once into a checkpointed width-1000 bucket
    # grain (zero file scans downstream); boundary picking and depth
    # assignment cross-join only broadcast 15/16-row frames
    plan = _plan(spark, sf_dir, "stats_equidepth_histogram")
    assert plan.count("FileScan") == 0
    assert plan.count("Scan ExistingRDD") == 2
    assert "CartesianProduct" not in plan


def test_selectivity_eval_two_scans_decimal_sum(spark, sf_dir):
    # the checkpointed histogram grain + ONE conditional-count exact
    # scan of orders; the estimate side sums DECIMAL-quantized
    # contributions so agg order is moot
    plan = _plan(spark, sf_dir, "stats_selectivity_eval")
    assert plan.count("FileScan") == 1
    assert "CartesianProduct" not in plan


def test_top_paths_window_group_limit_and_take_ordered(spark, sf_dir):
    # rn <= 3 must push into WindowGroupLimit (3 rows per user survive
    # the shuffle); the top-10 is a TakeOrdered heap
    plan = _plan(spark, sf_dir, "events_top_paths")
    assert "WindowGroupLimit" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan


def test_watermark_profile_segmented_bounded_state(spark, sf_dir):
    # the arrival prefix-max is SEGMENTED: in-segment windows partition
    # by (user, seg) (<= 100k rows per task by construction) and the
    # cross-segment carry windows the (user, segment) grain — the fact
    # is read once into the checkpointed arr frame, and the only join
    # is the equi join back to the carry grain
    plan = _plan(spark, sf_dir, "events_watermark_profile")
    assert plan.count("FileScan") == 0
    assert plan.count("Scan ExistingRDD") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_fpr_probe_is_rowlocal_broadcast(spark, sf_dir):
    # the build side collapses to one broadcast position-set row; the
    # probe side evaluates the k membership tests row-locally — no
    # shuffle join between probe keys and the build set
    plan = _plan(spark, sf_dir, "bloom_fpr_eval")
    assert "BroadcastNestedLoopJoin" in plan  # 1-row broadcast combines
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_hll_setops_flow_through_register_grain(spark, sf_dir):
    # estimates must derive from the 64-row-per-set register grain;
    # the only item-grain work is building registers and the exact
    # intersection audit
    plan = _plan(spark, sf_dir, "hll_set_ops_eval")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_kanon_two_level_hash_agg_no_join(spark, sf_dir):
    # rows -> QI classes -> 4 size buckets: two stacked hash aggs, the
    # share window runs over the 4-row bucket grain
    plan = _plan(spark, sf_dir, "kanon_audit")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan


def test_deletion_plan_one_pass_per_fact(spark, sf_dir):
    # each fact reduces ONCE to its month grain (conditional forget
    # aggregates); partition totals are a window over that grain
    plan = _plan(spark, sf_dir, "pii_deletion_plan")
    assert plan.count("FileScan") == 2  # one scan per table
    assert "Join" not in plan


def test_fingerprint_one_scan_per_table_no_join(spark, sf_dir):
    # row-local md5 + one hash agg per fact to the month grain; the
    # DECIMAL sum is order-independent so no sort appears anywhere
    plan = _plan(spark, sf_dir, "table_fingerprint")
    assert plan.count("FileScan") == 2
    assert "Join" not in plan
    assert "Sort" not in plan


def test_zorder_written_layout_prunes(spark, sf_dir, tmp_path):
    # promote the Z-order audit from asserted to demonstrated: WRITE
    # the Morton-ranged layout, consult the written files' zone maps
    # the way a lakehouse reader does, and plan-guard that the pruned
    # read carries PartitionFilters covering only the surviving files
    from pyspark.sql import functions as F

    from codex_data_products_spark.queries.linkage import zorder_frame

    out = str(tmp_path / "zordered")
    zorder_frame(spark, sf_dir).write.partitionBy("file_z").parquet(out)
    table = spark.read.parquet(out)
    zones = {
        r["file_z"]: (r["lo1"], r["hi1"])
        for r in table.groupBy("file_z")
        .agg(F.min("d1").alias("lo1"), F.max("d1").alias("hi1"))
        .collect()
    }
    target = 5  # a point query on the price dimension
    keep = sorted(f for f, (lo, hi) in zones.items() if lo <= target <= hi)
    assert 0 < len(keep) <= len(zones) // 2  # zone maps really prune
    pruned = table.filter(F.col("file_z").isin(keep)).filter(
        F.col("d1") == target
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert f"file_z#" in plan
    # the unpruned count equals the pruned count — skipping never
    # changes answers
    assert pruned.count() == table.filter(F.col("d1") == target).count()


def test_er_blocking_eval_truth_broadcast_name_grain(spark, sf_dir):
    # both the truth cross product and the candidate join stay on the
    # broadcast vocabulary grain — no fact-sized shuffle anywhere
    plan = _plan(spark, sf_dir, "er_blocking_eval")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_er_multiblock_first_match_key_no_distinct(spark, sf_dir):
    # the second blocking pass joins with key2-agrees AND key1-disagrees
    # so pair claims are first-match-key unique — no distinct/dedup
    # operator may appear over the pair stream
    plan = _plan(spark, sf_dir, "er_blocking_eval_multi")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_exact_median_refines_only_the_median_bucket(spark, sf_dir):
    # pass 1 is a bucket-grain reduction; pass 2's row_number window
    # runs only over rows filtered to the located bucket — the filter
    # must sit below the window in the plan (scan -> filter -> window)
    plan = _plan(spark, sf_dir, "orders_exact_median")
    assert plan.count("FileScan") == 2
    assert "CartesianProduct" not in plan
    # the second scan's filter on the broadcast target precedes ranking
    assert "Window" in plan


# --- plan_filtered_join: histogram selectivity drives broadcast ------------


def test_plan_filtered_join_flips_on_histogram_estimate(spark, sf_dir):
    """The same dim with two different range predicates: a narrow range
    the histogram estimates under the limit broadcasts; a wide range
    over the limit stays on the shuffle path. The decision touches no
    data — only the bucket-grain histogram list."""
    from codex_data_products_spark.operators.joins import (
        estimate_range_rows,
        plan_filtered_join,
    )
    from codex_data_products_spark.tables import table as T
    from pyspark.sql import functions as F

    orders = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    hist = [
        (r["bucket"], r["c"])
        for r in orders.groupBy(
            F.floor(F.col("o_totalprice") / 1000).cast("long").alias(
                "bucket"
            )
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    ]
    total = sum(c for _, c in hist)
    # sanity: the estimator integrates to the table size
    assert abs(estimate_range_rows(hist, -1e9, 1e9) - total) < 1e-6

    limit = max(1, total // 20)
    narrow_hi = 1000.0  # first bucket only
    joined, strategy, est = plan_filtered_join(
        li, orders, "o_orderkey", "o_totalprice", 0.0, narrow_hi, hist,
        broadcast_row_limit=limit,
    )
    assert strategy == "broadcast" and est <= limit
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan

    joined, strategy, est = plan_filtered_join(
        li, orders, "o_orderkey", "o_totalprice", 0.0, 1e9, hist,
        broadcast_row_limit=limit,
    )
    assert strategy == "shuffle" and est > limit


def test_plan_filtered_join_missing_stats_falls_back_to_shuffle(spark, sf_dir):
    """No histogram = UNKNOWN cardinality, not zero: the planner must
    take the safe shuffle path rather than broadcast an arbitrarily
    large filtered dim (the missing-column-stats rule every CBO
    follows)."""
    import math

    from codex_data_products_spark.operators.joins import plan_filtered_join
    from codex_data_products_spark.tables import table as T

    orders = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    joined, strategy, est = plan_filtered_join(
        li, orders, "o_orderkey", "o_totalprice", 0.0, 1e9, hist=[],
        broadcast_row_limit=1,
    )
    assert strategy == "shuffle" and math.isnan(est)
    # and the result is still correct — same rows as the unplanned join
    expect = li.join(
        orders.filter(
            (orders.o_totalprice >= 0.0) & (orders.o_totalprice <= 1e9)
        ),
        "o_orderkey",
    ).count()
    assert joined.count() == expect


def test_cluster_ivm_relabel_never_shuffles_cluster_state(
    spark, sf_dir, tmp_path
):
    """Cluster-grain dedup maintenance (streaming/dedup_ivm.
    apply_cluster_batch): the merge step relabels by scanning the
    persisted cluster table ONCE and broadcast-joining the delta-grain
    merge map — untouched components' rows stream through with no
    Exchange on the state branch, so the O(|corpus|) side never moves
    at 100 TB."""
    from pyspark.sql import functions as F

    state_dir = str(tmp_path / "clusters")
    spark.range(0, 5000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") - F.col("id") % 5).alias("component_id"),
    ).write.parquet(state_dir)
    clusters = spark.read.parquet(state_dir)
    merge_map = spark.createDataFrame(
        [(10, 5), (20, 5)], "component_id long, new_component_id long"
    )
    relabeled = clusters.join(
        F.broadcast(merge_map), "component_id", "left"
    ).select(
        "doc_id",
        F.coalesce("new_component_id", F.col("component_id")).alias(
            "component_id"
        ),
    )
    plan = relabeled._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan
    assert relabeled.count() == 5000


def test_substring_ivm_gram_log_and_occ_state_never_shuffle(
    spark, sf_dir, tmp_path
):
    """Substring-coverage maintenance (streaming/substring_ivm): the
    two corpus-scale state tables — the positional gram log and the occ
    counts — must only ever stream through broadcast joins inside a
    batch's recompute path. The dup test broadcasts the recompute
    docs' grams INTO the occ scan and the surviving set back onto the
    log slice; neither big side is hash-exchanged or sort-merge-joined.
    The only allowed exchanges are over the delta-proportional slices
    (the distinct-gram agg and the per-doc coverage window)."""
    from pyspark.sql import functions as F

    from codex_data_products_spark.queries.dedup import (
        _coverage_per_doc,
        positional_grams,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    log_dir = str(tmp_path / "grams")
    positional_grams(docs.filter("doc_id % 3 > 0")).write.parquet(log_dir)
    occ_dir = str(tmp_path / "occ")
    positional_grams(docs).groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("occ")
    ).write.parquet(occ_dir)

    log = spark.read.parquet(log_dir)
    occ = spark.read.parquet(occ_dir)
    recompute = docs.filter("doc_id % 3 = 0").select("doc_id").distinct()

    r_pos = log.join(F.broadcast(recompute), "doc_id", "left_semi")
    r_grams = r_pos.select("g").distinct()
    dup_r = occ.filter(F.col("occ") >= 2).join(
        F.broadcast(r_grams), "g", "left_semi"
    ).select("g")
    cov = _coverage_per_doc(r_pos.join(F.broadcast(dup_r), "g", "left_semi"))

    plan = cov._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    # 4, not 3: the log-slice branch (log ⋈ recompute) is planned twice
    # because r_pos feeds both the distinct-gram probe and the final
    # marking join (the maintainer persists its delta frames; this test
    # deliberately leaves the tree raw to guard the worst-case plan)
    assert plan.count("BroadcastHashJoin") == 4
    # hash exchanges may partition the delta-grain slices (g for the
    # distinct, doc_id for the coverage window) — never feed a join of
    # the log or the occ state
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([a-z_]+)#", plan):
        assert m.group(1) in ("g", "doc_id"), plan[m.start() - 200 : m.end()]
    assert cov.count() >= 0  # the guarded plan actually executes


def test_ahash_neardup_per_band_equi_joins_no_bnlj(spark, sf_dir):
    """The perceptual-hash near-dup pair query must compile its 8-way
    pigeonhole banding as per-band EQUI self-joins (hash-joinable keys
    Catalyst can partition on), never the OR-of-band-equalities single
    join that falls back to BroadcastNestedLoopJoin — quadratic in
    distinct signatures, invisible at bench SF (~1e2 signatures) and
    fatal at a real image corpus's 1e8+."""
    from codex_data_products_spark.queries.multimodal import AHASH_BANDS

    plan = _plan(spark, sf_dir, "multimodal_ahash_neardup")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # one hash-strategy join per band survives in the physical plan
    n_joins = sum(
        plan.count(k)
        for k in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    )
    assert n_joins == AHASH_BANDS, plan


def test_doc_grain_log_snapshots_never_shuffle_the_logs(
    spark, sf_dir, tmp_path
):
    """The round-9 append-log doc-grain state (VERDICT r8 #2): the
    signature, band and cluster snapshots assemble from their batch
    logs via broadcast tombstone/remap joins only — the corpus-scale
    log sides stream, never sort-merge or hash-partition. The only
    exchanges allowed are inside the release-grain tombstone
    aggregate's own broadcast branch (doc_id grain)."""
    import re

    from codex_data_products_spark.streaming.dedup_ivm import (
        apply_cluster_batch,
        apply_dedup_batch,
        bands_snapshot,
        bootstrap_cluster_state,
        bootstrap_dedup_state,
        cluster_snapshot,
        sim_snapshot,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cstate = str(tmp_path / "doclog_cluster")
    bootstrap_cluster_state(spark, cstate)
    apply_cluster_batch(docs.filter("doc_id % 2 = 0"), cstate, 0)
    apply_cluster_batch(docs.filter("doc_id % 2 = 1"), cstate, 1, remove=[0])
    mstate = str(tmp_path / "doclog_minhash")
    bootstrap_dedup_state(spark, mstate)
    apply_dedup_batch(docs.filter("doc_id % 2 = 0"), mstate, 0)

    for snap in (
        sim_snapshot(spark, cstate),
        cluster_snapshot(spark, cstate),
        bands_snapshot(spark, mstate),
    ):
        plan = snap._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan
        for m in re.finditer(r"Exchange hashpartitioning\(([a-z_]+)#", plan):
            assert m.group(1) == "doc_id", plan[m.start() - 200 : m.end()]
        assert snap.count() >= 0


def test_ann_postings_snapshot_never_shuffles_the_posting_log(
    spark, sf_dir, tmp_path
):
    """ANN index maintenance (streaming/ann_ivm): the corpus-scale
    posting log is assembled via ONE broadcast join against the
    release-grain tombstone aggregate — never sort-merged, and the
    only hash exchange is inside that vec_id-grain tombstone
    aggregate. The probe path additionally partition-prunes (covered
    in test_ann_ivm); this guard pins the no-shuffle snapshot."""
    import re

    from pyspark.sql import functions as F

    from codex_data_products_spark.streaming.ann_ivm import (
        ann_postings_snapshot,
        apply_ann_batch,
        bootstrap_ann_state,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    state = str(tmp_path / "ann_guard")
    bootstrap_ann_state(spark, state, emb.filter(F.col("vec_id") % 3 == 0))
    apply_ann_batch(
        spark, state, 0, adds=emb.select("vec_id", "embedding")
    )
    apply_ann_batch(
        spark,
        state,
        1,
        removes=emb.filter(F.col("vec_id") % 7 == 3).select("vec_id"),
    )
    snap = ann_postings_snapshot(spark, state)
    plan = snap._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    for m in re.finditer(r"Exchange hashpartitioning\(([a-z_]+)#", plan):
        assert m.group(1) == "vec_id", plan[m.start() - 200 : m.end()]
    assert snap.count() >= 0


def test_emb_dedup_persisted_vectors_never_shuffle(spark, sf_dir, tmp_path):
    """Embedding-cosine maintenance (streaming/emb_dedup_ivm): the
    delta broadcasts against the persisted vector snapshot on label
    equality — the corpus-scale side carries no Exchange, same
    contract as the MinHash/SimHash maintainers."""
    import re

    from pyspark.sql import functions as F

    from codex_data_products_spark.streaming.emb_dedup_ivm import (
        _emb_rows,
        _fresh_emb_pairs,
        apply_emb_batch,
        emb_snapshot,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    state = str(tmp_path / "embdd_guard")
    apply_emb_batch(
        spark,
        state,
        0,
        adds=emb.filter(F.col("vec_id") % 3 > 0).select(
            "vec_id", "embedding", "label"
        ),
    )
    delta = _emb_rows(
        emb.filter(F.col("vec_id") % 3 == 0).select(
            "vec_id", "embedding", "label"
        )
    ).localCheckpoint()
    corpus = emb_snapshot(spark, state).unionByName(delta)
    pairs = _fresh_emb_pairs(delta, corpus, 0.38)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # allowed hash exchanges: the pair-normalization distinct
    # (delta-proportional) and the release-grain tombstone aggregate
    # (doc_id) — never the persisted vector/pair logs themselves
    for m in re.finditer(r"Exchange hashpartitioning\(([a-z_]+)#", plan):
        assert m.group(1) in ("doc_a", "doc_id"), (
            plan[m.start() - 200 : m.end()]
        )
    assert pairs.count() >= 0


# ---------------------------------------------------------------------------
# Round 10: window-scale conversions (VERDICT r9 #1/#2) + storage
# hygiene (VERDICT r9 #8).
# ---------------------------------------------------------------------------


def test_events_rfm_no_global_ntile_window(spark, sf_dir):
    """ntile(5) is rank arithmetic here: every Window node must be
    PARTITIONED (metric / metric×tile) — an unpartitioned window over
    the user grain would serialize the corpus through one task."""
    plan = _plan(spark, sf_dir, "events_rfm")
    assert "ntile" not in plan
    windows = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert windows, "expected the boundary-refinement windows"
    for ln in windows:
        assert "], [m#" in ln, ln  # partition spec present


def test_position_remap_no_single_partition_window(spark, sf_dir):
    """The W1 labels frame ranks per SEGMENT (the labels reader's
    per-file coordinate space): row_number partitions by seg and the
    plan carries no single-partition exchange at all."""
    plan = _plan(spark, sf_dir, "position_remap")
    assert "Exchange SinglePartition" not in plan
    windows = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert windows
    for ln in windows:
        assert "windowspecdefinition(seg#" in ln, ln


def test_position_remap_no_forced_broadcast_of_labels(spark, sf_dir):
    """VERDICT r10 #1: the labels frame is CORPUS grain (one row per
    document) — a forced broadcast build OOMs at 100× docs. The only
    intentional hint in the query is the file-grain offsets frame
    (n_docs/100k rows); the src/dst endpoint joins must be hint-free so
    the planner sizes the build side itself."""
    from codex_data_products_spark import registry

    df = registry.QUERIES["position_remap"](spark, sf_dir)
    lines = df._jdf.queryExecution().analyzed().toString().splitlines()
    hint_idx = [i for i, ln in enumerate(lines) if "ResolvedHint" in ln]
    assert hint_idx, "expected the offsets broadcast hints"
    for i in hint_idx:
        # every hint's subtree is the single-line offsets leaf — never
        # the parquet documents relation or the segment-rank Window. The
        # leaf's physical form depends on how the frame was built (Python
        # RDD -> LogicalRDD; Arrow local_frame -> LocalRelation); assert the
        # SHAPE instead: a local leaf carrying exactly the seg/off columns.
        child = lines[i + 1]
        assert ("LocalRelation" in child or "LogicalRDD" in child), lines[i : i + 2]
        assert "seg#" in child and "off#" in child, lines[i : i + 2]


def _leaked_persisted(spark):
    """(rdd_id, storage) of persisted RDDs that are NOT localCheckpoint
    blocks (those belong to still-referenced result frames; explicit
    .persist() intermediates must be released by their owner)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    leaks = []
    for jrdd in jmap.values():
        if not jrdd.rdd().isLocallyCheckpointed():
            leaks.append(jrdd.id())
    return leaks


def test_no_lingering_persisted_frames(spark, sf_dir, tmp_path):
    """Storage hygiene (VERDICT r9 #8): the curation pipeline and every
    IVM maintainer must release their persisted/checkpointed
    intermediates before returning — a long-running drain must not
    accumulate executor-storage blocks batch over batch."""
    from pyspark.sql import functions as F

    from codex_data_products_spark.plans.training_pipeline import (
        CurationConfig,
        curate,
    )
    from codex_data_products_spark.streaming.dedup_ivm import (
        apply_cluster_batch,
        bootstrap_cluster_state,
        compact_simhash_pairs,
    )
    from codex_data_products_spark.streaming.emb_dedup_ivm import (
        apply_emb_batch,
        compact_emb_state,
    )
    from codex_data_products_spark.streaming.substring_ivm import (
        apply_substring_batch,
        bootstrap_substring_state,
        compact_substring_coverage,
    )
    from codex_data_products_spark.streaming.text_ivm import (
        apply_vocab_batch,
        compact_vocab_state,
    )

    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    rm = docs.filter("doc_id % 7 = 3").select("doc_id")

    curate(docs, CurationConfig()).count()
    assert _leaked_persisted(spark) == [], "curate leaked caches"
    curate(docs, CurationConfig(trim_dup_spans=True)).count()
    assert _leaked_persisted(spark) == [], "curate(trim) leaked caches"

    state = str(tmp_path / "hyg_cluster")
    bootstrap_cluster_state(spark, state)
    apply_cluster_batch(docs, state, 0)
    apply_cluster_batch(docs.limit(0), state, 1, remove=rm)
    compact_simhash_pairs(spark, state, upto=2)
    assert _leaked_persisted(spark) == [], "cluster maintainer leaked"

    state = str(tmp_path / "hyg_substr")
    bootstrap_substring_state(spark, state)
    apply_substring_batch(docs, state, 0)
    apply_substring_batch(docs.limit(0), state, 1, remove=rm)
    compact_substring_coverage(spark, state, upto=2)
    assert _leaked_persisted(spark) == [], "substring maintainer leaked"

    state = str(tmp_path / "hyg_vocab")
    apply_vocab_batch(docs, state, 0)
    apply_vocab_batch(docs.limit(0), state, 1, remove=rm)
    compact_vocab_state(spark, state, upto=1)
    assert _leaked_persisted(spark) == [], "vocab maintainer leaked"

    state = str(tmp_path / "hyg_emb")
    apply_emb_batch(spark, state, 0, adds=emb)
    apply_emb_batch(
        spark,
        state,
        1,
        removes=emb.filter(F.col("vec_id") % 7 == 3).select("vec_id"),
    )
    compact_emb_state(spark, state, upto=1)
    assert _leaked_persisted(spark) == [], "emb maintainer leaked"


def test_substring_occ_log_scan_prunes_to_delta_buckets(
    spark, tmp_path
):
    """VERDICT r10 #4: the occ log is PARTITIONED by gram bucket (the
    ANN posting-log pattern) and a bounded-gram-set read prunes to the
    delta's bucket directories — PartitionFilters on the scan, not a
    post-scan filter."""
    from pyspark.sql import functions as F

    from codex_data_products_spark.streaming.substring_ivm import (
        _bucket_set,
        apply_substring_batch,
        bootstrap_substring_state,
        occ_log_slice,
    )

    docs = spark.createDataFrame(
        [
            (i, f"tok{i} alpha beta gamma delta epsilon zeta eta theta")
            for i in range(20)
        ],
        "doc_id long, text string",
    )
    state = str(tmp_path / "occ_prune")
    bootstrap_substring_state(spark, state)
    apply_substring_batch(docs, state, 0)
    # g is LONG = xxhash64 over the token-array window since round 11;
    # derive the shared gram's key through Spark itself so the probe
    # tracks the production expression
    shared_g = spark.sql(
        "SELECT xxhash64(array('alpha','beta','gamma','delta',"
        "'epsilon','zeta','eta','theta')) AS g"
    ).first()["g"]
    probe = spark.createDataFrame([(shared_g,)], "g long")
    buckets = _bucket_set(probe)
    assert buckets is not None and len(buckets) == 1
    pruned = occ_log_slice(spark, state, upto=0, buckets=buckets)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    part_filters = [
        line
        for line in plan.splitlines()
        if "PartitionFilters" in line and "b#" in line
    ]
    assert part_filters, plan
    assert all(str(buckets[0]) in line for line in part_filters), plan
    # and the pruned slice still returns exactly that bucket's grams
    rows = {r["g"]: r["occ"] for r in pruned.collect()}
    assert rows[shared_g] == 20


def test_pair_scoring_folds_stay_out_of_join_conditions(spark, sf_dir):
    """Round 11 s3 (guide §4.4 for built-ins): the expensive pair-score
    expressions (dot-product folds, array_intersect) are eval_once-
    guarded, so the threshold filters above them are NOT pushed back
    into the pair joins — unguarded, the fold ran once per CANDIDATE
    row inside the join condition (before the cheap id predicate) and
    once more in the output project. The join conditions must carry
    only the cheap predicates."""
    import re

    from pyspark.sql import functions as F

    from codex_data_products_spark.queries.dedup import (
        dedup_embedding_cosine,
        dedup_minhash_lsh,
        dedup_prefix_jaccard,
        dedup_semantic,
        dot_expr,
    )
    from codex_data_products_spark.queries.sampling import (
        split_contamination_semantic,
    )
    from codex_data_products_spark.streaming.emb_dedup_ivm import (
        _fresh_emb_pairs,
    )

    # ADVICE r11: eval_once relies on the optimizer treating
    # spark_partition_id() as nondeterministic — match the guard by a
    # case-insensitive regex on the function name (not the exact
    # CaseWhen rendering, which is Spark-version-dependent) so a future
    # Spark that folds the guard fails THIS test instead of silently
    # reverting the 2x win. Verified on Spark 4.1.
    guard_re = re.compile(r"spark_partition_id", re.IGNORECASE)

    def check(plan: str) -> None:
        join_lines = [
            ln for ln in plan.splitlines() if "Join" in ln and "Exchange" not in ln
        ]
        assert join_lines, plan
        for ln in join_lines:
            assert "aggregate(" not in ln, ln  # no dot fold in a join cond
            assert "array_intersect" not in ln, ln
        # and the guarded column still evaluates behind the barrier
        assert guard_re.search(plan), plan

    # ALL SIX eval_once application sites (VERDICT r11 #7). Five are
    # registry queries; the sixth is the emb IVM pair scorer, planned
    # here over small in-memory frames shaped like apply_emb_batch's.
    for fn in (
        dedup_embedding_cosine,
        dedup_semantic,
        dedup_minhash_lsh,
        dedup_prefix_jaccard,
        split_contamination_semantic,
    ):
        check(
            fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select(
            F.col("vec_id").alias("doc_id"),
            "label",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        .withColumn("nsq", dot_expr(F.col("v"), F.col("v")))
    )
    ivm_pairs = _fresh_emb_pairs(
        emb.filter(F.col("doc_id") % 5 == 0), emb, threshold=0.38
    )
    check(ivm_pairs._jdf.queryExecution().executedPlan().toString())


def test_codex_product_plans_have_no_python_rdd_scans(spark, tmp_path):
    """Every small driver-side frame of the CODEX plan is a JVM local
    relation: the executed plans of a built product's five tables and
    of its maintenance-state frames hold no ``ExistingRDD`` scan (a
    Python-RDD literal costs one Python worker per partition in every
    job that reads it), and the HDF5 decode's ``MapInPandas`` is their
    only Python stage."""
    import importlib.util
    import os
    import re

    from codex_data_products_spark.plans.codex_pipeline import (
        PRODUCT_TABLES,
        build_product,
        derive_product_state,
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "codex_stress", os.path.join(repo, "tools", "codex_stress.py")
    )
    codex_stress = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(codex_stress)
    codex_stress.generate(str(tmp_path), 2, 5)
    product = build_product(
        spark,
        str(tmp_path / "data"),
        str(tmp_path / "uuids.tsv"),
        tissue="Spleen",
        product_uuid="plan-guard",
        creation_time="2026-01-01 00:00:00",
    )
    frames = {t: getattr(product, t) for t in PRODUCT_TABLES}
    frames.update(derive_product_state(product))
    python_node = re.compile(
        r"\b(\w*EvalPython\w*|\w+InPandas\w*|\w*InArrow\w*|\w*PythonUDTF\w*)\b"
    )
    for name, df in frames.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, (name, plan)
        assert set(python_node.findall(plan)) <= {"MapInPandas"}, (name, plan)
    x_plan = frames["x_long"]._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in x_plan
