"""End-to-end index build on the sf0.001 documents table — the Milestone-1
slice (SURVEY §7): ingest → key → sanitize → route → dedup → sorted sharded
write → read back → C1/C2/C7 checks."""

import pyspark.sql.functions as F
import pytest

from solr_map_reduce_spark.indexing import (
    IndexJob,
    IndexJobConfig,
    compact,
    read_index,
    segment_counts,
)
from solr_map_reduce_spark.operators.routing import ShardRouter
from solr_map_reduce_spark.schema import Field, IndexSchema

DOC_SCHEMA = IndexSchema(
    fields=(
        Field("id", "string", required=True),
        Field("text", "text_en"),
        Field("lang", "string"),
        Field("source", "string"),
        Field("n_chars", "long"),
    ),
    unique_key="id",
)


@pytest.fixture(scope="module")
def built(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index") / "docs_index")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "id", F.col("doc_id").cast("string")
    )
    job = IndexJob(
        IndexJobConfig(schema=DOC_SCHEMA, shards=4, micro_shards=16, dedup="retain_most_recent",
                       order_field="n_chars", tiebreak=("id",))
    )
    manifest = job.build(docs, out)
    return out, manifest, docs


def test_artifact_layout(built):
    out, manifest, _ = built
    counts = segment_counts(out)
    assert sorted(counts) == [f"shard={i}" for i in range(4)]
    assert manifest["shards"] == 4


def test_count_matches_input(spark, built):
    out, _, docs = built
    # doc_id is unique in the fixture → dedup keeps everything (C1)
    assert read_index(spark, out).count() == docs.count()


def test_point_lookup_prunes_to_one_shard(spark, built):
    out, _, docs = built
    some_id = docs.select("id").orderBy("id").first()["id"]
    router = ShardRouter(shards=4, num_partitions=16)
    expected_shard = router.micro_shard_of(some_id) // 4
    idx = read_index(spark, out)
    hit = idx.filter(F.col("id") == some_id)
    rows = hit.collect()
    assert len(rows) == 1
    assert rows[0]["shard"] == expected_shard
    # partition pruning visible in the physical plan
    plan = hit._jdf.queryExecution().executedPlan().toString()
    assert "shard" in plan


def test_routing_placement_matches_router(spark, built):
    out, _, _ = built
    router = ShardRouter(shards=4, num_partitions=16)
    sample = read_index(spark, out).select("id", "shard").limit(200).collect()
    for r in sample:
        assert router.micro_shard_of(r["id"]) // 4 == r["shard"], r["id"]


def test_dedup_on_rebuild_upsert(spark, built, tmp_path):
    """C6 upsert: re-adding docs with same id replaces (retain-most-recent)."""
    out, _, docs = built
    updated = docs.withColumn("n_chars", F.col("n_chars") + 1_000_000).withColumn(
        "text", F.lit("updated")
    )
    both = docs.unionByName(updated)
    job = IndexJob(
        IndexJobConfig(schema=DOC_SCHEMA, shards=2, dedup="retain_most_recent",
                       order_field="n_chars", tiebreak=("id",))
    )
    out2 = str(tmp_path / "upsert_index")
    job.build(both, out2)
    idx = read_index(spark, out2)
    assert idx.count() == docs.count()
    assert idx.filter(F.col("text") != "updated").count() == 0


def test_sorted_within_shard(spark, built):
    out, _, _ = built
    import glob
    import pyarrow.parquet as pq

    files = glob.glob(f"{out}/shard=0/*.parquet")
    assert files
    ids = pq.read_table(files[0], columns=["id"])["id"].to_pylist()
    assert ids == sorted(ids)


def test_compact_to_single_segment(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "id", F.col("doc_id").cast("string")
    )
    out = str(tmp_path / "compact_index")
    job = IndexJob(IndexJobConfig(schema=DOC_SCHEMA, shards=2, dedup="none",
                                  max_records_per_file=100))
    job.build(docs, out)
    before = segment_counts(out)
    assert max(before.values()) > 1
    compact(spark, out, max_segments=1)
    after = segment_counts(out)
    assert set(after.values()) == {1}
    assert read_index(spark, out).count() == docs.count()


def test_merge_driver_iterative_resume(spark, sf_dir, tmp_path, monkeypatch):
    """A29: iterative fanout compaction with _ITERATION checkpointing and
    crash-resume (SolrMergeDriverTest.testRetryMerge analog)."""
    import os

    from solr_map_reduce_spark import indexing
    from solr_map_reduce_spark.indexing import ITERATION_FILE, merge_driver

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "id", F.col("doc_id").cast("string")
    )
    out = str(tmp_path / "merge_index")
    job = IndexJob(IndexJobConfig(schema=DOC_SCHEMA, shards=2, dedup="none",
                                  max_records_per_file=25))
    job.build(docs, out)
    before = segment_counts(out)
    assert max(before.values()) > 4
    ckpt = os.path.join(out, ITERATION_FILE)

    # crash after the first successful iteration
    real_compact = indexing.compact
    calls = {"n": 0}

    def flaky_compact(*a, **kw):
        if calls["n"] >= 1:
            raise RuntimeError("injected crash")
        calls["n"] += 1
        return real_compact(*a, **kw)

    monkeypatch.setattr(indexing, "compact", flaky_compact)
    with pytest.raises(RuntimeError):
        merge_driver(spark, out, max_segments=1, fanout=4)
    assert open(ckpt).read().strip() == "1"  # checkpoint survived the crash
    assert 1 < max(segment_counts(out).values()) <= 4  # partial progress kept

    # resume from the checkpoint and converge
    monkeypatch.setattr(indexing, "compact", real_compact)
    ran = merge_driver(spark, out, max_segments=1, fanout=4)
    assert ran >= 1
    assert set(segment_counts(out).values()) == {1}
    assert not os.path.exists(ckpt)
    assert read_index(spark, out).count() == docs.count()


def test_publish_atomic_swap(spark, sf_dir, tmp_path):
    """A21/A22: staged artifact promoted to live path; old version replaced."""
    import os

    from solr_map_reduce_spark.indexing import publish

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "id", F.col("doc_id").cast("string")
    )
    job = IndexJob(IndexJobConfig(schema=DOC_SCHEMA, shards=2, dedup="none"))
    live = str(tmp_path / "live")

    stage1 = str(tmp_path / "staging1")
    job.build(docs.limit(100), stage1)
    publish(stage1, live)
    assert read_index(spark, live).count() == 100
    assert os.path.exists(os.path.join(live, "_SUCCESS_PUBLISH"))

    stage2 = str(tmp_path / "staging2")
    job.build(docs, stage2)
    publish(stage2, live)
    assert read_index(spark, live).count() == docs.count()
    assert not os.path.exists(stage2)


def test_native_routing_build(spark, sf_dir, tmp_path):
    """routing='native': JVM-side hash placement — same artifact contract,
    no murmur3-parity UDF in the plan."""
    import pyspark.sql.functions as F2

    from solr_map_reduce_spark.index_reader import SearchIndex

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "id", F.col("doc_id").cast("string")
    )
    out = str(tmp_path / "native_idx")
    job = IndexJob(
        IndexJobConfig(schema=DOC_SCHEMA, shards=4, micro_shards=16,
                       dedup="none", routing="native")
    )
    job.build(docs, out)
    idx = SearchIndex.open(spark, out)
    assert idx.routing == "native"
    assert idx.count() == docs.count()
    # placement matches Spark's builtin hash
    sample = idx.df().select("id", "shard").limit(100).collect()
    expect = {
        r["id"]: r["s"]
        for r in docs.select(
            "id", (F2.pmod(F2.hash("id"), F2.lit(16)) / 4).cast("int").alias("s")
        ).collect()
    }
    for r in sample:
        assert expect[r["id"]] == r["shard"]
    # lookups still correct without driver-side shard math
    some = docs.orderBy("id").first()["id"]
    assert idx.get(some).count() == 1


def test_invalid_routing_rejected():
    with pytest.raises(ValueError, match="routing"):
        IndexJobConfig(schema=DOC_SCHEMA, shards=2, routing="bogus")


def test_empty_input_build(spark, tmp_path):
    """Building from zero rows with every sidecar must produce a valid,
    openable artifact: the recorded schema opens it as an empty DataFrame,
    its BM25 statistics are zero, and a merge onto it writes the batch.  A
    build whose documents hold no visible term (empty and NULL text) writes
    an empty term dictionary and the statistics the delta path keeps for
    the same documents: two documents, no token."""
    from solr_map_reduce_spark.index_reader import SearchIndex
    from solr_map_reduce_spark.search_stats import load_search_stats

    cols = "id string, text string, lang string, source string, n_chars long"
    out = str(tmp_path / "empty_idx")
    job = IndexJob(IndexJobConfig(schema=DOC_SCHEMA, shards=2, dedup="retain_most_recent",
                                  order_field="n_chars", term_blooms=True,
                                  search_stats=True))
    job.build(spark.createDataFrame([], cols), out)
    idx = SearchIndex.open(spark, out)
    assert load_search_stats(spark, out) == {"text": {"n_docs": 0, "sum_dl": 0, "n_dl": 0}}
    assert idx.count() == 0
    assert idx.get("nope").count() == 0
    assert idx.get_many(["a", "b"]).count() == 0
    assert idx.key_range("a", "z").count() == 0
    assert idx.facet("lang").count() == 0
    assert idx.bm25(["alpha"], k=5).count() == 0

    job.merge_into(spark.createDataFrame(
        [("a", "alpha beta", "en", "web", 10), ("b", "gamma", "de", "web", 5)], cols
    ), out)
    assert idx.count() == 2
    got = idx.get_many(["a", "b"]).orderBy("id").collect()
    assert [r["lang"] for r in got] == ["en", "de"]
    assert [r["id"] for r in idx.bm25(["alpha"], k=5).collect()] == ["a"]
    assert read_index(spark, out).columns == idx.df().columns

    blank_rows = spark.createDataFrame(
        [("c", "", "en", "web", 0), ("d", None, "de", "web", 0)], cols
    )
    blank, merged = str(tmp_path / "blank_idx"), str(tmp_path / "blank_merged")
    job.build(blank_rows, blank)
    job.build(spark.createDataFrame([], cols), merged)
    job.merge_into(blank_rows, merged)
    stats = load_search_stats(spark, blank)
    assert stats["text"]["n_docs"] == 2 and stats["text"]["sum_dl"] == 0
    assert stats == load_search_stats(spark, merged)
    idx = SearchIndex.open(spark, blank)
    assert idx.count() == 2
    assert idx.bm25(["alpha"], k=5).count() == 0
    assert idx.terms(limit=10).count() == 0


def test_merge_into_incremental_reindex(spark, sf_dir, tmp_path):
    """Incremental re-index: new keys appended, same keys replaced
    (MorphlineBasicMiniMRTest 20 -> 22 docs analog)."""
    from solr_map_reduce_spark.indexing import merge_driver  # noqa: F401

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "id", F.col("doc_id").cast("string")
    )
    out = str(tmp_path / "incr_idx")
    job = IndexJob(
        IndexJobConfig(schema=DOC_SCHEMA, shards=2, dedup="retain_most_recent",
                       order_field="n_chars", tiebreak=("id",))
    )
    job.build(docs.limit(20), out)
    assert read_index(spark, out).count() == 20

    batch = docs.limit(22)  # 20 existing + 2 new
    updated = batch.withColumn("n_chars", F.col("n_chars") + 1_000_000).withColumn(
        "text", F.lit("updated")
    )
    job.merge_into(updated, out)
    idx = read_index(spark, out)
    assert idx.count() == 22
    assert idx.filter(F.col("text") != "updated").count() == 0


def test_compact_preserves_manifest_and_merge_chain(spark, tmp_path):
    """Regression: compact's directory swap must carry the manifest, or a
    later merge_into mistakes the artifact for absent and rebuilds from the
    batch alone (losing every other doc)."""
    import os

    from solr_map_reduce_spark.indexing import MANIFEST, compact

    schema = IndexSchema(
        fields=(
            Field("id", "string", required=True),
            Field("payload", "string"),
            Field("version", "long"),
        ),
        unique_key="id",
    )
    job = IndexJob(
        IndexJobConfig(schema=schema, shards=2, micro_shards=4,
                       dedup="retain_most_recent", order_field="version",
                       tiebreak=("id",))
    )
    base = spark.createDataFrame(
        [(f"k{i}", "v1", 1) for i in range(100)],
        "id string, payload string, version long",
    )
    out = str(tmp_path / "chain_idx")
    job.build(base, out)
    compact(spark, out, max_segments=1)
    assert os.path.exists(os.path.join(out, MANIFEST))

    batch = spark.createDataFrame(
        [("k0", "v2", 2), ("new1", "v1", 1)],
        "id string, payload string, version long",
    )
    job.merge_into(batch, out)
    idx = read_index(spark, out)
    assert idx.count() == 101
    got = {r["id"]: r["payload"] for r in idx.collect()}
    assert got["k0"] == "v2" and got["new1"] == "v1" and got["k1"] == "v1"


def test_delete_where_round_trip(spark, tmp_path):
    """C3 as an artifact mutation (the GoLive delete round-trip analog):
    delete by id and by predicate, touched shards only."""
    import os

    from solr_map_reduce_spark.indexing import SHARD_COL

    schema = IndexSchema(
        fields=(
            Field("id", "string", required=True),
            Field("payload", "string"),
            Field("version", "long"),
        ),
        unique_key="id",
    )
    job = IndexJob(
        IndexJobConfig(schema=schema, shards=2, dedup="retain_most_recent",
                       order_field="version", tiebreak=("id",))
    )
    base = spark.createDataFrame(
        [(f"k{i}", "even" if i % 2 == 0 else "odd", 1) for i in range(100)],
        "id string, payload string, version long",
    )
    out = str(tmp_path / "del_idx")
    job.build(base, out)

    # deleteById analog
    assert job.delete_where(spark, out, F.col("id") == "k7") == 1
    idx = read_index(spark, out)
    assert idx.count() == 99
    assert idx.filter(F.col("id") == "k7").count() == 0

    # delete-by-query; NULL predicate rows are kept
    n = job.delete_where(spark, out, F.col("payload") == "odd")
    assert n == 49  # k7 already gone
    idx = read_index(spark, out)
    assert idx.count() == 50
    assert idx.filter(F.col("payload") == "odd").count() == 0

    # no-match delete is a no-op
    assert job.delete_where(spark, out, F.col("id") == "nope") == 0
    assert read_index(spark, out).count() == 50


def test_compact_defer_deletion_keeps_intermediates(spark, tmp_path):
    import os

    from solr_map_reduce_spark.indexing import compact

    schema = IndexSchema(
        fields=(Field("id", "string", required=True), Field("v", "long")),
        unique_key="id",
    )
    job = IndexJob(IndexJobConfig(schema=schema, shards=2, micro_shards=4,
                                  dedup="none"))
    df = spark.createDataFrame([(f"k{i}", i) for i in range(50)], "id string, v long")
    out = str(tmp_path / "defer_idx")
    job.build(df, out)
    compact(spark, out, max_segments=1, defer_deletion=True)
    assert os.path.isdir(out + "._old.0")
    assert read_index(spark, out).count() == 50


def test_merge_into_rewrites_only_touched_shards(spark, tmp_path):
    """A batch routed entirely to one shard must leave the other shard's
    files physically untouched (O(touched shards) incremental cost)."""
    import os

    from solr_map_reduce_spark.indexing import SHARD_COL
    from solr_map_reduce_spark.operators.routing import ShardRouter

    schema = IndexSchema(
        fields=(
            Field("id", "string", required=True),
            Field("payload", "string"),
            Field("version", "long"),
        ),
        unique_key="id",
    )
    job = IndexJob(
        IndexJobConfig(schema=schema, shards=2, dedup="retain_most_recent",
                       order_field="version", tiebreak=("id",))
    )
    router = ShardRouter(shards=2)
    ids = [f"k{i}" for i in range(200)]
    base = spark.createDataFrame(
        [(i, "v1", 1) for i in ids], "id string, payload string, version long"
    )
    out = str(tmp_path / "touched_idx")
    job.build(base, out)

    def files_with_mtimes(shard):
        d = os.path.join(out, f"{SHARD_COL}={shard}")
        return {
            f: os.stat(os.path.join(d, f)).st_mtime_ns
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    # pick a batch of keys that ALL route to shard 0
    shard0_keys = [k for k in ids if router.shard_of(k) == 0][:5]
    assert shard0_keys
    before_s1 = files_with_mtimes(1)
    batch = spark.createDataFrame(
        [(k, "v2", 2) for k in shard0_keys],
        "id string, payload string, version long",
    )
    job.merge_into(batch, out)

    # shard 1's files: identical names and mtimes (never rewritten)
    assert files_with_mtimes(1) == before_s1
    idx = read_index(spark, out)
    assert idx.count() == 200
    got = {r["id"]: r["payload"] for r in idx.collect()}
    assert all(got[k] == "v2" for k in shard0_keys)
    assert sum(1 for v in got.values() if v == "v2") == len(shard0_keys)


def test_multivalued_field_through_build(spark, tmp_path):
    """SURVEY hard-part 3: ArrayType (multiValued) fields survive the full
    build and answer array_contains queries from the artifact."""
    from solr_map_reduce_spark.index_reader import SearchIndex

    schema = IndexSchema(
        fields=(
            Field("id", "string", required=True),
            Field("title", "string"),
            Field("tags", "string", multi_valued=True),
        ),
        unique_key="id",
    )
    df = spark.createDataFrame(
        [("a", "first", ["x", "y"]), ("b", "second", ["y"]), ("c", "third", [])],
        "id string, title string, tags array<string>",
    )
    out = str(tmp_path / "mv_idx")
    IndexJob(IndexJobConfig(schema=schema, shards=2, dedup="none")).build(df, out)
    idx = SearchIndex.open(spark, out)
    assert idx.count() == 3
    got = sorted(
        r["id"] for r in idx.search(where=F.array_contains("tags", "y")).collect()
    )
    assert got == ["a", "b"]
    assert idx.get("a").first()["tags"] == ["x", "y"]


def test_composite_id_coroutes_in_build(spark, tmp_path):
    """SURVEY hard-part 1: composite route!doc keys land in the route key's
    shard — co-location through the real build path."""
    from solr_map_reduce_spark.operators.routing import ShardRouter

    schema = IndexSchema(
        fields=(Field("id", "string", required=True), Field("v", "long")),
        unique_key="id",
    )
    rows = [(f"tenant{t}!doc{d}", t * 100 + d) for t in range(5) for d in range(20)]
    df = spark.createDataFrame(rows, "id string, v long")
    out = str(tmp_path / "comp_idx")
    IndexJob(IndexJobConfig(schema=schema, shards=4, micro_shards=8, dedup="none")).build(df, out)
    built = read_index(spark, out).select("id", "shard").collect()
    router = ShardRouter(shards=4, num_partitions=8)
    by_tenant = {}
    for r in built:
        tenant = r["id"].split("!")[0]
        by_tenant.setdefault(tenant, set()).add(r["shard"])
        assert router.micro_shard_of(r["id"]) // 2 == r["shard"]
    # every tenant's docs co-locate on one root shard
    assert all(len(s) == 1 for s in by_tenant.values())


def test_build_plan_single_exchange(spark, sf_dir):
    """The fast-path build plan contains exactly ONE shuffle (the micro-shard
    exchange) — route, dedup window, and sort all reuse it."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "id", F.col("doc_id").cast("string")
    )
    job = IndexJob(
        IndexJobConfig(schema=DOC_SCHEMA, shards=4, micro_shards=16,
                       dedup="retain_most_recent", order_field="n_chars",
                       tiebreak=("id",))
    )
    from pyspark.sql import Window

    from solr_map_reduce_spark.indexing import MICRO_COL, SHARD_COL

    routed = job.route(docs)
    partitioned = routed.repartition(16, F.col(MICRO_COL))
    w = Window.partitionBy(MICRO_COL).orderBy(F.col("id").asc(), F.desc("n_chars"))
    deduped = (
        partitioned.withColumn("_prev", F.lag("id").over(w))
        .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col("id")))
        .drop("_prev", MICRO_COL)
        .sortWithinPartitions(SHARD_COL, "id")
    )
    plan = deduped._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


def test_build_with_sort_updates_resolver(spark, tmp_path):
    """A11 through the full build: one row per key carrying the update list
    sorted ascending by the order field (apply-in-order semantics)."""
    schema = IndexSchema(
        fields=(Field("id", "string", required=True), Field("v", "long"),
                Field("ts", "long")),
        unique_key="id",
    )
    df = spark.createDataFrame(
        [("a", 1, 30), ("a", 2, 10), ("a", 3, 20), ("b", 9, 5)],
        "id string, v long, ts long",
    )
    out = str(tmp_path / "sorted_idx")
    job = IndexJob(IndexJobConfig(schema=schema, shards=2, dedup="sort_updates",
                                  order_field="ts"))
    job.build(df, out)
    idx = read_index(spark, out)
    rows = {r["id"]: r for r in idx.collect()}
    assert len(rows) == 2
    assert [u["v"] for u in rows["a"]["updates"]] == [2, 3, 1]  # ts order 10,20,30
    assert [u["v"] for u in rows["b"]["updates"]] == [9]


def test_observed_metrics(spark, sf_dir):
    """A27: docs-in / null-key counters via df.observe."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "id", F.col("doc_id").cast("string")
    )
    job = IndexJob(IndexJobConfig(schema=DOC_SCHEMA, shards=2, dedup="none"))
    observed, obs = job.observed(docs)
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    assert got["docs_in"] == docs.count()
    assert got["null_keys"] == 0


def test_compact_sorts_by_manifest_unique_key(spark, tmp_path):
    """Regression: compact() must preserve the key-sorted segment contract
    using the manifest's unique_key even when the key is not the first
    column of the artifact."""
    import glob

    import pyarrow.parquet as pq

    from solr_map_reduce_spark.schema import Field, IndexSchema

    schema = IndexSchema(
        fields=(Field("payload", "string"), Field("id", "string", required=True)),
        unique_key="id",
    )
    rows = [(f"p{i}", f"k{i:04d}") for i in range(400)]
    df = spark.createDataFrame(rows, "payload string, id string")
    out = str(tmp_path / "keyed_index")
    job = IndexJob(IndexJobConfig(schema=schema, shards=2, dedup="none",
                                  max_records_per_file=50))
    job.build(df, out)
    assert max(segment_counts(out).values()) > 1
    compact(spark, out, max_segments=1)
    assert set(segment_counts(out).values()) == {1}
    for f in glob.glob(f"{out}/shard=*/*.parquet"):
        ids = pq.read_table(f, columns=["id"])["id"].to_pylist()
        assert ids == sorted(ids), f


@pytest.mark.slow  # hadoop-URI medium variant of the local-path lifecycle the rest of the file covers
def test_artifact_lifecycle_over_hadoop_fs_uri(spark, tmp_path):
    """Full mutation lifecycle against a file:// URI — every control-plane
    operation runs through the Hadoop FileSystem abstraction rather than
    POSIX calls (the reference mutates HDFS directly;
    TreeMergeOutputFormat.java:131-234)."""
    from solr_map_reduce_spark.fs import HadoopFS, get_fs
    from solr_map_reduce_spark.indexing import publish
    from solr_map_reduce_spark.schema import Field, IndexSchema

    schema = IndexSchema(
        fields=(Field("id", "string", required=True), Field("v", "long")),
        unique_key="id",
    )
    rows = [(f"k{i:03d}", i) for i in range(300)]
    df = spark.createDataFrame(rows, "id string, v long")
    staging = f"file://{tmp_path}/staging"
    live = f"file://{tmp_path}/live"
    assert isinstance(get_fs(staging, spark), HadoopFS)

    job = IndexJob(IndexJobConfig(schema=schema, shards=2, dedup="none",
                                  max_records_per_file=40))
    job.build(df, staging)
    assert read_index(spark, staging).count() == 300

    # incremental upsert through the URI
    upd = spark.createDataFrame([("k001", 1000), ("znew", 7)], "id string, v long")
    job2 = IndexJob(IndexJobConfig(schema=schema, shards=2,
                                   dedup="retain_most_recent", order_field="v"))
    job2.merge_into(upd, staging)
    idx = read_index(spark, staging)
    assert idx.count() == 301
    assert idx.filter(F.col("id") == "k001").first()["v"] == 1000

    # compaction + introspection through the URI
    assert max(segment_counts(staging).values()) > 1
    compact(spark, staging, max_segments=1)
    assert set(segment_counts(staging).values()) == {1}

    # delete-by-query through the URI (k001 was upserted to v=1000, so the
    # matches are k000/k002/k003/k004)
    n = job2.delete_where(spark, staging, F.col("v") < 5)
    assert n == 4
    assert read_index(spark, staging).count() == 297

    # publish swap through the URI
    publish(staging, live)
    assert read_index(spark, live).count() == 297
    assert get_fs(live, spark).exists(f"{live}/_SUCCESS_PUBLISH")


def test_codec_option_produces_zstd_files(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq

    from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
    from solr_map_reduce_spark.schema import Field, IndexSchema

    schema = IndexSchema(
        fields=(Field("id", "string", required=True), Field("v", "long")),
        unique_key="id",
    )
    df = spark.createDataFrame([(str(i), i) for i in range(100)], "id string, v long")
    path = str(tmp_path / "zidx")
    IndexJob(
        IndexJobConfig(schema=schema, shards=2, dedup="none", routing="native",
                       codec="zstd")
    ).build(df, path)
    files = glob.glob(f"{path}/shard=*/**/*.parquet", recursive=True)
    assert files
    meta = pq.ParquetFile(files[0]).metadata
    assert meta.row_group(0).column(0).compression.lower() == "zstd"
    # artifact still reads back complete
    assert spark.read.parquet(path).count() == 100


class TestCoreReviewRegressions:
    def _schema(self):
        from solr_map_reduce_spark.schema import Field, IndexSchema

        return IndexSchema(
            fields=(Field("id", "string", required=True), Field("v", "long")),
            unique_key="id",
        )

    def test_merge_into_schema_mismatch_raises(self, spark, tmp_path):
        import pytest as _pt

        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig

        out = str(tmp_path / "idx")
        job = IndexJob(IndexJobConfig(schema=self._schema(), shards=2, dedup="none"))
        job.build(
            spark.createDataFrame([("a", 1)], "id string, v long"), out
        )
        # batch missing column v: silently dropping it from old rows is the
        # failure mode — must raise a clear error instead
        with _pt.raises(ValueError, match="schema mismatch"):
            job.merge_into(spark.createDataFrame([("b",)], "id string"), out)

    def test_merge_without_order_field_batch_wins(self, spark, tmp_path):
        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig, read_index

        out = str(tmp_path / "idx_bw")
        job = IndexJob(
            IndexJobConfig(
                schema=self._schema(), shards=2,
                dedup="retain_most_recent", order_field="not_present",
            )
        )
        job.build(spark.createDataFrame([("a", 1), ("b", 2)], "id string, v long"), out)
        job.merge_into(spark.createDataFrame([("a", 99)], "id string, v long"), out)
        got = {r["id"]: r["v"] for r in read_index(spark, out).collect()}
        assert got == {"a": 99, "b": 2}  # the batch row replaced the old one

    def test_read_index_corrupt_file_raises_not_empty(self, spark, tmp_path):
        import os

        import pytest as _pt

        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig, read_index

        out = str(tmp_path / "idx_corrupt")
        IndexJob(IndexJobConfig(schema=self._schema(), shards=1, dedup="none")).build(
            spark.createDataFrame([("a", 1)], "id string, v long"), out
        )
        shard = os.path.join(out, "shard=0")
        victim = [f for f in os.listdir(shard) if f.endswith(".parquet")][0]
        with open(os.path.join(shard, victim), "wb") as f:
            f.write(b"NOT A PARQUET FILE")
        with _pt.raises(Exception):
            read_index(spark, out).collect()  # must NOT return empty

    def test_compact_invalidates_stats_without_vocab(self, spark, tmp_path):
        import os

        from solr_map_reduce_spark.index_reader import SearchIndex
        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig, compact
        from solr_map_reduce_spark.schema import Field, IndexSchema

        schema = IndexSchema(
            fields=(Field("id", "string", required=True), Field("text", "text_general")),
            unique_key="id",
        )
        out = str(tmp_path / "idx_stats")
        IndexJob(
            IndexJobConfig(schema=schema, shards=2, dedup="none", search_stats=True)
        ).build(
            spark.createDataFrame(
                [("a", "alpha beta"), ("b", "alpha gamma")], "id string, text string"
            ),
            out,
        )
        assert os.path.exists(os.path.join(out, "_SEARCH_STATS.json"))
        compact(spark, out, max_segments=1)
        # r5: compaction does not change content — the stats sidecar AND its
        # _vocab/ dictionary survive (the vocab dir renames across the swap)
        assert os.path.exists(os.path.join(out, "_SEARCH_STATS.json"))
        assert os.path.isdir(os.path.join(out, "_vocab"))
        idx = SearchIndex.open(spark, out)
        assert len(idx.bm25(["alpha"], k=2).collect()) == 2
        # but a stats file whose _vocab/ was genuinely lost is torn (a
        # dangling STATS would crash the next stats-served query): compaction
        # rebuilds it whole, as every other mutation path does
        import shutil

        from solr_map_reduce_spark.search_stats import load_search_stats, write_search_stats

        shutil.rmtree(os.path.join(out, "_vocab"))
        compact(spark, out, max_segments=1)
        assert os.path.isdir(os.path.join(out, "_vocab", "text"))
        rebuilt = load_search_stats(spark, out)
        assert rebuilt == write_search_stats(spark, out)
        idx2 = SearchIndex.open(spark, out)
        assert len(idx2.bm25(["alpha"], k=2).collect()) == 2


class TestGoLive:
    """Round-6: the A22 go-live merge — a staged artifact's documents land
    in a LIVE serving artifact through the resolver (the reference's
    GoLive merges built shards into a running SolrCloud; here the live
    artifact IS the serving system)."""

    SCHEMA = IndexSchema(
        fields=(
            Field("id", "string", required=True),
            Field("text", "text_general"),
            Field("rank", "long"),
        ),
        unique_key="id",
    )

    def _job(self):
        return IndexJob(
            IndexJobConfig(
                schema=self.SCHEMA, shards=2, dedup="retain_most_recent",
                order_field="rank", routing="native",
                term_blooms=True, search_stats=True,
            )
        )

    def test_promotes_when_no_live_artifact(self, spark, tmp_path):
        job = self._job()
        staged = str(tmp_path / "staged")
        live = str(tmp_path / "live")
        df = spark.createDataFrame(
            [(str(i), f"alpha word{i}", i) for i in range(30)],
            "id string, text string, rank long",
        )
        job.build(df, staged)
        manifest = job.go_live(spark, staged, live)
        assert manifest["unique_key"] == "id"
        from solr_map_reduce_spark.index_reader import SearchIndex

        assert SearchIndex.open(spark, live).count() == 30

    def test_merges_into_existing_live(self, spark, tmp_path):
        import os

        from solr_map_reduce_spark.index_reader import SearchIndex

        job = self._job()
        live = str(tmp_path / "live")
        base = spark.createDataFrame(
            [(str(i), f"alpha word{i}", i) for i in range(40)],
            "id string, text string, rank long",
        )
        job.build(base, live)
        # a staged batch: 5 updated docs (higher rank) + 5 new keys
        staged = str(tmp_path / "staged")
        batch = spark.createDataFrame(
            [(str(i), "updated zulu text", 1000 + i) for i in range(5)]
            + [(str(100 + i), "brand new doc", i) for i in range(5)],
            "id string, text string, rank long",
        )
        job.build(batch, staged)
        job.go_live(spark, staged, live)
        idx = SearchIndex.open(spark, live)
        assert idx.count() == 45  # 40 + 5 new, updates replaced in place
        assert idx.get("3").collect()[0]["rank"] == 1003  # resolver: newest
        assert idx.get("102").collect()[0]["text"] == "brand new doc"
        # serving structures delta-maintained: term query + bm25 see the
        # staged docs' re-analyzed tokens
        assert sorted(r["id"] for r in idx.contains_all(["zulu"]).collect()) == [
            "0", "1", "2", "3", "4",
        ]
        from solr_map_reduce_spark.search_stats import (
            load_search_stats,
            write_search_stats,
        )

        delta = load_search_stats(spark, live)
        assert delta == write_search_stats(spark, live)  # equal to rebuild
        # ... and the staged artifact is left intact (reference contract)
        assert os.path.isdir(staged)
        assert SearchIndex.open(spark, staged).count() == 10

    def test_placement_mismatch_refused(self, spark, tmp_path):
        from solr_map_reduce_spark.index_reader import SearchIndex  # noqa: F401

        job = self._job()
        live = str(tmp_path / "live")
        df = spark.createDataFrame(
            [(str(i), "x", i) for i in range(10)],
            "id string, text string, rank long",
        )
        job.build(df, live)
        staged = str(tmp_path / "staged")
        job.build(df, staged)
        wrong = IndexJob(
            IndexJobConfig(
                schema=self.SCHEMA, shards=4, dedup="retain_most_recent",
                order_field="rank", routing="native",
            )
        )
        with pytest.raises(ValueError, match="places keys differently"):
            wrong.go_live(spark, staged, live)


def test_append_requires_placement_parity(spark, tmp_path):
    # mode="append" mutates an existing artifact: a different shard
    # count would route new keys to wrong directories AND rewrite the
    # manifest to mis-describe the old rows — refused loudly like every
    # other mutation path
    from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
    from solr_map_reduce_spark.schema import Field, IndexSchema

    schema = IndexSchema(
        fields=(Field("id", "string", required=True), Field("v", "long")),
        unique_key="id",
    )
    path = str(tmp_path / "idx")
    df = spark.createDataFrame(
        [(str(i), i) for i in range(20)], "id string, v long"
    )
    IndexJob(IndexJobConfig(schema=schema, shards=2, dedup="none")).build(
        df, path
    )
    with pytest.raises(ValueError, match="placement|shards"):
        IndexJob(IndexJobConfig(schema=schema, shards=4, dedup="none")).build(
            df, path, mode="append"
        )
    # parity-matching append still works (and holds the mutation lock)
    more = spark.createDataFrame(
        [(str(i), i) for i in range(20, 30)], "id string, v long"
    )
    IndexJob(IndexJobConfig(schema=schema, shards=2, dedup="none")).build(
        more, path, mode="append"
    )
    from solr_map_reduce_spark.indexing import read_index

    assert read_index(spark, path).count() == 30


def test_swap_preserves_abandoned_trash(spark, tmp_path):
    # leftover _trash_swap from a crashed swap can be the ONLY copy of
    # a shard: the next mutation must set it aside, not delete it
    import os

    from solr_map_reduce_spark.indexing import (
        IndexJob, IndexJobConfig, read_index,
    )
    from solr_map_reduce_spark.schema import Field, IndexSchema

    schema = IndexSchema(
        fields=(Field("id", "string", required=True), Field("v", "long")),
        unique_key="id",
    )
    path = str(tmp_path / "idx")
    job = IndexJob(IndexJobConfig(schema=schema, shards=2, dedup="none"))
    job.build(spark.createDataFrame(
        [(str(i), i) for i in range(20)], "id string, v long"), path)
    # simulate a crashed earlier swap's surviving aside copy
    trash = os.path.join(path, "_trash_swap")
    os.makedirs(os.path.join(trash, "shard=0"))
    with open(os.path.join(trash, "shard=0", "precious.parquet"), "wb") as fh:
        fh.write(b"survivor")
    job.update_fields(
        spark.createDataFrame([("3", 999)], "id string, v long"), path
    )
    abandoned = [d for d in os.listdir(path)
                 if d.startswith("_trash_swap_abandoned_")]
    assert abandoned, os.listdir(path)
    kept = os.path.join(path, abandoned[0], "shard=0", "precious.parquet")
    assert open(kept, "rb").read() == b"survivor"
    assert read_index(spark, path).filter("id = '3'").first()["v"] == 999


def test_update_fields_insert_removeregex_absent_is_empty(spark, tmp_path):
    # removeregex-on-absent must create the doc with the field EMPTY,
    # never with the regex pattern list as the stored value (the same
    # contract remove-on-absent already had)
    import pyspark.sql.functions as F

    from solr_map_reduce_spark.indexing import (
        IndexJob, IndexJobConfig, read_index,
    )
    from solr_map_reduce_spark.schema import Field, IndexSchema

    schema = IndexSchema(
        fields=(Field("id", "string", required=True),
                Field("tags", "string", multi_valued=True)),
        unique_key="id",
    )
    path = str(tmp_path / "idx")
    job = IndexJob(IndexJobConfig(schema=schema, shards=2, dedup="none"))
    job.build(spark.createDataFrame(
        [(str(i), ["a", "ab"]) for i in range(10)],
        "id string, tags array<string>"), path)
    upd = spark.createDataFrame(
        [("3", ["a.*"]), ("999", ["a.*"])],  # 999 is ABSENT
        "id string, tags array<string>",
    )
    job.update_fields(upd, path, ops={"tags": "removeregex"},
                      missing="insert")
    rows = {r["id"]: r["tags"] for r in read_index(spark, path).collect()}
    assert rows["3"] == []          # both elements fully match a.*
    assert rows["999"] is None      # inserted EMPTY, not ['a.*']
    assert len(rows) == 11
