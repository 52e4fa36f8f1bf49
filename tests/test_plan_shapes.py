"""Plan-quality regression tests: the physical plans the engine promises
(SURVEY §4) — pushdown reaching scans, column pruning, broadcast joins for
dims, no redundant exchanges.  These lock in the shapes a 100 TB run needs."""

import pytest

from solr_map_reduce_spark.queries import registry


def _plan(spark, sf_dir, name):
    return (
        registry()[name]
        .spark(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q1_column_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    # 7 needed columns, not the full 16-column lineitem schema
    assert "l_orderkey" not in scan and "l_comment" not in scan


def test_q3_broadcasts_customer_dim(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q3_top_revenue")
    assert "BroadcastHashJoin" in plan
    assert "c_mktsegment" in plan  # dim filter pushed below the broadcast


def test_q5_broadcasts_all_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q5_local_supplier")
    # supplier, nation, region all broadcast; no sort-merge join of dims
    assert plan.count("BroadcastHashJoin") >= 3


def test_c5_projection_prunes_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "c5_projection")
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "c_custkey" in scan and "c_address" not in scan


def test_topn_uses_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "c4_sort_page")
    assert "TakeOrderedAndProject" in plan  # no global sort for top-k


def test_exists_is_semi_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "exists_big_order_customers")
    assert "LeftSemi" in plan


def test_sessionize_single_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ext_sessionize")
    assert plan.count("Exchange hashpartitioning") == 1


def test_q8_single_fact_scan_pruned(spark, sf_dir):
    """The 8-table snowflake reads lineitem ONCE with only the 5 needed
    columns; every dim joins via broadcast at this scale."""
    plan = _plan(spark, sf_dir, "q8_market_share")
    li_scans = [l for l in plan.splitlines()
                if "FileScan parquet" in l and "lineitem" in l]
    assert len(li_scans) == 1
    assert "l_quantity" not in li_scans[0] and "l_shipdate" not in li_scans[0]
    assert plan.count("BroadcastHashJoin") >= 5


def test_q10_topk_is_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q10_returned_items")
    assert "TakeOrderedAndProject" in plan
    # returnflag filter reaches the lineitem scan
    assert "EqualTo(l_returnflag,R)" in plan


def test_q19_disjunctive_predicate_partial_pushdown(spark, sf_dir):
    """The quantity bounds (the only single-table conjuncts derivable from
    the OR) reach the lineitem scan."""
    plan = _plan(spark, sf_dir, "q19_discounted_revenue")
    scan = next(l for l in plan.splitlines()
                if "FileScan parquet" in l and "lineitem" in l)
    assert "l_quantity" in scan


def test_q20_semi_join_no_distinct(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q20_heavy_part_suppliers")
    assert "LeftSemi" in plan


def test_q22_anti_join_and_scalar_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q22_idle_customers")
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_lag_delta_single_exchange_take_ordered(spark, sf_dir):
    """One shuffle on user_id feeds the window; top-k avoids a global sort."""
    plan = _plan(spark, sf_dir, "window_lag_delta")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "TakeOrderedAndProject" in plan


def test_stratified_sample_single_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ext_stratified_sample")
    assert plan.count("Exchange hashpartitioning") == 1
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "text" not in scan  # full document bodies never leave the scan


def test_setop_is_anti_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "setop_viewers_not_buyers")
    assert "LeftAnti" in plan


def test_pivot_no_join_no_expand_blowup(spark, sf_dir):
    """Explicit pivot values plan as plain aggregates — no join against a
    distinct-values subquery."""
    plan = _plan(spark, sf_dir, "pivot_user_activity")
    assert "Join" not in plan


def test_quantile_filter_single_exchange(spark, sf_dir):
    """The per-lang percentile window and the final per-lang aggregate share
    one hash partitioning."""
    plan = _plan(spark, sf_dir, "ext_quantile_filter")
    assert plan.count("Exchange hashpartitioning") == 1


def test_source_mixture_single_exchange_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ext_source_mixture")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "TakeOrderedAndProject" in plan
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "text" not in scan  # mixture schedule never reads document bodies


def test_decontaminate_broadcasts_test_grams(spark, sf_dir):
    """The test corpus's gram set must broadcast (tiny vs 100 TB train) and
    the join must never be a cartesian."""
    plan = _plan(spark, sf_dir, "ext_decontaminate")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "Cartesian" not in plan


def test_avro_fallback_is_distributed_scan(spark, tmp_path):
    """The avro fallback plan is binaryFile scan → mapInPandas — no
    collect-and-parallelize, so files decode where the tasks run."""
    import os
    import shutil

    fixture = (
        "/root/reference/morphlines-core/src/test/resources/test-documents/"
        "sample-statuses-20120906-141433.avro"
    )
    if not os.path.exists(fixture):
        pytest.skip("reference fixtures absent")
    from solr_map_reduce_spark.sources.avro_fallback import read_avro

    shutil.copy(fixture, tmp_path / "a.avro")
    df = read_avro(spark, str(tmp_path))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan binaryFile" in plan
    assert "MapInPandas" in plan


def test_cosine_pairs_lsh_no_action_at_plan_time(spark):
    """Plan construction must not trigger a driver-side action (the old
    dim-inference ran df.first()); building the plan over an empty frame
    succeeds and executes to zero rows."""
    from solr_map_reduce_spark.extensions.similarity import cosine_pairs_lsh

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )
    plan = cosine_pairs_lsh(empty, threshold=0.9)  # no action here
    assert plan.collect() == []


def test_passage_dedup_bounded_exchanges(spark, sf_dir):
    # one shuffle on the passage (first-occurrence window) + one back on id
    # (reassembly) — the floor for corpus-wide passage dedup
    plan = _plan(spark, sf_dir, "ext_passage_dedup")
    assert plan.count("Exchange hashpartitioning") <= 2


def test_knn_join_shuffles_candidates_not_corpus(spark, sf_dir):
    # the only exchange is the per-query rank over n_q*k candidate rows;
    # the corpus feeds mapInPandas directly from the scan
    plan = _plan(spark, sf_dir, "ext_knn_join")
    assert plan.count("Exchange hashpartitioning") == 1
    # the corpus scan flows into MapInPandas with no exchange between them:
    # in the bottom-up plan string the MapInPandas node sits below the only
    # Exchange, i.e. the Exchange appears before it top-down
    assert "MapInPandas" in plan
    assert plan.index("Exchange hashpartitioning") < plan.index("MapInPandas")


def test_pq_topk_is_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ext_pq_topk")
    assert "TakeOrderedAndProject" in plan


def test_update_fields_plan_broadcasts_and_prunes(spark, tmp_path):
    """The atomic-update set-join must broadcast the update batch (never
    shuffle the artifact side on the key) and the artifact scan must be
    partition-pruned to the touched shards."""
    import pyspark.sql.functions as F

    from solr_map_reduce_spark.indexing import (
        IndexJob,
        IndexJobConfig,
        read_index,
        SHARD_COL,
    )
    from solr_map_reduce_spark.schema import Field, IndexSchema

    schema = IndexSchema(
        fields=(Field("id", "string", required=True), Field("rank", "long")),
        unique_key="id",
    )
    path = str(tmp_path / "idx")
    job = IndexJob(
        IndexJobConfig(schema=schema, shards=4, dedup="none", routing="native")
    )
    job.build(
        spark.createDataFrame([(str(i), i) for i in range(100)], "id string, rank long"),
        path,
    )
    upd = spark.createDataFrame([("7", 700)], "id string, rank long")
    routed = job.route(upd).select(SHARD_COL).distinct().collect()
    touched = sorted(int(r[0]) for r in routed)
    # reproduce the update's join shape (the method materializes eagerly,
    # so we build the same plan here for inspection)
    current = read_index(spark, path).filter(F.col(SHARD_COL).isin(touched))
    u = upd.select(F.col("id").alias("_uk"), F.lit(True).alias("_m"),
                   F.col("rank").alias("_u_rank"))
    joined = current.join(F.broadcast(u), current["id"] == F.col("_uk"), "left")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "PartitionFilters" in plan and f"{SHARD_COL}#" in plan
    assert "SortMergeJoin" not in plan  # no artifact-side key shuffle


def test_boolean_query_is_single_scan(spark, sf_dir):
    """However complex the boolean tree, the compiled plan is ONE FileScan
    with no join or exchange — the predicate is a single Column."""
    plan = _plan(spark, sf_dir, "c9_boolean_query")
    assert plan.count("FileScan parquet") == 1
    assert "Exchange" not in plan and "Join" not in plan


def test_search_request_is_single_scan_take_ordered(spark, sf_dir):
    """q + filters + sort + limit compiles to scan -> filter ->
    TakeOrderedAndProject: no full sort, no shuffle."""
    plan = _plan(spark, sf_dir, "c9_search_request")
    assert plan.count("FileScan parquet") == 1
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan


def test_bm25_filtered_single_corpus_pass(spark, sf_dir):
    """The fq predicate folds into the same single corpus scan the stored-
    stats BM25 plan already makes (stats from sidecar literals)."""
    plan = _plan(spark, sf_dir, "ext_bm25_filtered")
    assert plan.count("FileScan parquet") == 1
    assert "TakeOrderedAndProject" in plan
    assert "ExistingRDD" not in plan  # no computed-stats checkpoint


def test_conjunctive_query_bloom_prunes_shards(spark, sf_dir):
    """A query with a conjunctive spine restricts the scan to the shards
    whose Bloom bitmap admits ALL required tokens (partition filter on the
    shard column)."""
    from solr_map_reduce_spark.queries import _docs_search_index

    idx = _docs_search_index(spark, sf_dir)
    # a term that exists somewhere (so the result is non-trivial) AND'ed
    # with itself still prunes via the 'all' mode spine
    out = idx.query("spark AND vector")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "shard" in plan  # the shard partition column participates
    # correctness: identical result to the unpruned manual predicate
    import pyspark.sql.functions as F

    manual = sorted(
        r["doc_id"]
        for r in idx.df()
        .filter(
            F.array_contains("text__tokens", "spark")
            & F.array_contains("text__tokens", "vector")
        )
        .collect()
    )
    assert sorted(r["doc_id"] for r in out.collect()) == manual


def test_c9_date_range_pushes_filters_to_scan(spark, sf_dir):
    """Round-7: fielded column predicates (ranges, equalities) must reach
    the parquet scan as PushedFilters — a coalesce() null-guard would
    block pushdown and turn a ts range over a 100 TB artifact into a
    full read.  NULL semantics (never match) come from an isNotNull-led
    conjunction instead."""
    # the PushedFilters display truncates at maxMetadataStringLength —
    # raise it so every pushed filter is visible to the assertions
    old = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        plan = _plan(spark, sf_dir, "c9_date_range")
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old)
    assert "PushedFilters: [" in plan
    assert "IsNotNull(ts)" in plan
    assert "GreaterThanOrEqual(ts," in plan
    assert "LessThan(ts," in plan
    assert "EqualTo(event_type,purchase)" in plan


def test_c9_field_group_equalities_pushed(spark, sf_dir):
    plan = _plan(spark, sf_dir, "c9_field_group")
    # the disjunction of lang equalities is a pushable Or filter
    assert "Or(EqualTo(lang,en),EqualTo(lang,de))" in plan


def test_c9_search_request_single_scan_take_ordered(spark, sf_dir):
    """The composed request (q + fq + sort + rows) is ONE artifact scan +
    TakeOrdered — no joins, no extra exchanges, filter pushed."""
    plan = _plan(spark, sf_dir, "c9_search_request")
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(lang,en)" in plan
    assert plan.count("Scan parquet") == 1


def test_dismax_is_one_scan_plus_takeordered(spark, sf_dir):
    """Dismax with per-field stored stats: the WHOLE multi-field ranked
    query is ONE corpus scan, with the stats as literal columns, +
    TakeOrdered — no per-field scan, no join of a stats row, no shuffle
    of document rows."""
    from solr_map_reduce_spark.queries import _dismax_search_index

    idx = _dismax_search_index(spark, sf_dir)
    plan = (
        idx.dismax(["spark", "en"], qf={"text": 1.0, "lang": 0.5}, k=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("FileScan parquet") == 1
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan and "Exchange" not in plan


def test_facet_sorts_without_range_partitioning(spark, sf_dir):
    """A facet's buckets are sorted inside one partition: no
    range-partitioning exchange, whose partitioner would run a sampling
    job on every read, on the single-artifact or the alias path."""
    from solr_map_reduce_spark.index_reader import MultiIndex
    from solr_map_reduce_spark.queries import _dismax_search_index

    idx = _dismax_search_index(spark, sf_dir)
    for out in (idx.facet("lang"), idx.facet("lang", sort="index", offset=1),
                MultiIndex([idx, idx]).facet("lang")):
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning" not in plan.lower()
        assert "SinglePartition" in plan


def test_range_facet_broadcasts_bucket_spine(spark, sf_dir):
    """facet.range: the corpus side is one partial-aggregated pass; the
    generated bucket spine joins via broadcast (never a shuffle of the
    counts against a KB-scale spine)."""
    from solr_map_reduce_spark.queries import _events_search_index

    idx = _events_search_index(spark, sf_dir)
    plan = (
        idx.range_facet("value", 0, 200, 25, q="event_type:purchase")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan or "HashAggregate" in plan
