"""SearchIndex: the C1-C7 query surface over a built artifact."""

import pyspark.sql.functions as F
import pytest

from solr_map_reduce_spark.index_reader import SearchIndex
from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
from solr_map_reduce_spark.schema import Field, IndexSchema

SCHEMA = IndexSchema(
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
def index(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sidx") / "docs")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "id", F.col("doc_id").cast("string")
    )
    IndexJob(
        IndexJobConfig(schema=SCHEMA, shards=4, micro_shards=16, dedup="none")
    ).build(docs, out)
    return SearchIndex.open(spark, out), docs


def test_count(index):
    idx, docs = index
    assert idx.count() == docs.count()


def test_point_lookup_prunes(index):
    idx, docs = index
    some = docs.orderBy("id").first()
    hit = idx.get(some["id"])
    rows = hit.collect()
    assert len(rows) == 1 and rows[0]["text"] == some["text"]
    plan = hit._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(shard" in plan  # pruned scan


def test_get_many(index):
    idx, docs = index
    keys = [r["id"] for r in docs.orderBy("id").limit(5).collect()]
    assert idx.get_many(keys).count() == 5


def test_search_filter_sort_page(index):
    idx, _ = index
    out = idx.search(
        filters={"lang": "en"},
        sort=[("n_chars", "desc")],
        limit=5,
        select=["id", "n_chars"],
    ).collect()
    assert len(out) <= 5
    lens = [r["n_chars"] for r in out]
    assert lens == sorted(lens, reverse=True)


def test_facet(index):
    idx, docs = index
    got = {r["lang"]: r["cnt"] for r in idx.facet("lang").collect()}
    want = {
        r["lang"]: r["cnt"]
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert got == want


def test_delete_where_rewrite(index, tmp_path):
    idx, docs = index
    langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
    victim = langs[0]
    kept = idx.delete_where(F.col("lang") == victim, str(tmp_path / "after_delete"))
    assert kept.count() == idx.count() - docs.filter(F.col("lang") == victim).count()
    assert kept.df().filter(F.col("lang") == victim).count() == 0
    # layout preserved: same shard dirs, still openable
    assert sorted(kept.segment_counts()) == sorted(idx.segment_counts())


def test_routing_agrees_with_artifact(index):
    """C8: SearchIndex's computed shard matches where the writer put rows."""
    idx, _ = index
    sample = idx.df().select("id", "shard").limit(100).collect()
    for r in sample:
        assert idx._router.micro_shard_of(r["id"]) == r["shard"]


def test_knn_over_artifact(spark, tmp_path):
    """Filtered similarity search over a built artifact: exact cosine top-k
    with a metadata pre-filter."""
    import numpy as np

    from solr_map_reduce_spark.index_reader import SearchIndex
    from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
    from solr_map_reduce_spark.schema import Field, IndexSchema

    rng = np.random.RandomState(7)
    rows = [
        (str(i), "even" if i % 2 == 0 else "odd", rng.randn(8).tolist())
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "id string, parity string, embedding array<double>")
    schema = IndexSchema(
        fields=(
            Field("id", "string", required=True),
            Field("parity", "string"),
            Field("embedding", "double", multi_valued=True),
        ),
        unique_key="id",
    )
    out = str(tmp_path / "knn_idx")
    IndexJob(IndexJobConfig(schema=schema, shards=2, dedup="none")).build(df, out)
    idx = SearchIndex.open(spark, out)

    query = rows[0][2]
    top = idx.knn(query, k=3).collect()
    assert top[0]["id"] == "0" and abs(top[0]["score"] - 1.0) < 1e-9

    odd_only = idx.knn(query, k=5, filters={"parity": "odd"}).collect()
    assert all(int(r["id"]) % 2 == 1 for r in odd_only)
    # brute-force check of the filtered ranking
    mat = {r[0]: np.asarray(r[2]) for r in rows if int(r[0]) % 2 == 1}
    q = np.asarray(query)
    want = sorted(mat, key=lambda i: (-float(mat[i] @ q / (np.linalg.norm(mat[i]) * np.linalg.norm(q))), i))[:5]
    assert [r["id"] for r in odd_only] == want


def test_search_index_opens_uri_artifact(spark, tmp_path):
    """The read-side C1-C7 surface opens artifacts at URIs through the FS
    abstraction, same as the write side."""
    import pyspark.sql.functions as F

    from solr_map_reduce_spark.index_reader import SearchIndex
    from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
    from solr_map_reduce_spark.schema import Field, IndexSchema

    schema = IndexSchema(
        fields=(Field("id", "string", required=True), Field("v", "long")),
        unique_key="id",
    )
    df = spark.createDataFrame([(f"k{i}", i) for i in range(50)], "id string, v long")
    path = f"file://{tmp_path}/uri_idx"
    IndexJob(IndexJobConfig(schema=schema, shards=2, dedup="none")).build(df, path)
    idx = SearchIndex.open(spark, path)
    assert idx.count() == 50
    assert idx.get("k7").first()["v"] == 7


class TestGenerationGuard:
    """Round-6: a long-lived SearchIndex handle must not serve stale
    cached sidecars after the artifact is mutated underneath it — stale
    blooms/key-ranges would silently HIDE rows, stale stats would skew
    scores."""

    def test_open_handle_sees_mutation(self, spark, tmp_path):
        import time

        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
        from solr_map_reduce_spark.schema import Field, IndexSchema

        schema = IndexSchema(
            fields=(Field("id", "string", required=True), Field("text", "text_general")),
            unique_key="id",
        )
        df = spark.createDataFrame(
            [(str(i), f"alpha word{i}") for i in range(30)],
            "id string, text string",
        )
        job = IndexJob(
            IndexJobConfig(
                schema=schema, shards=2, dedup="none", routing="native",
                term_blooms=True, search_stats=True,
            )
        )
        path = str(tmp_path / "idx")
        job.build(df, path)
        idx = SearchIndex.open(spark, path)
        # warm every cache on the handle
        assert idx.count() == 30
        assert idx.get("7").count() == 1
        assert idx.contains_all(["alpha"]).count() == 30
        assert idx.bm25(["alpha"], k=3).count() == 3
        # no sleep: the guard compares manifest CONTENT (generation
        # counter + uuid), so mtime granularity is irrelevant (round-7)
        # mutate UNDER the open handle: new doc with a new term
        job.merge_into(
            spark.createDataFrame(
                [("new-1", "alpha zeta-fresh")], "id string, text string"
            ),
            path,
        )
        # the SAME handle must see the new doc everywhere:
        assert idx.count() == 31  # key-range sidecar cache refreshed
        assert idx.get("new-1").count() == 1  # pruned lookup finds it
        # bloom cache refreshed: the new term is findable (stale blooms
        # would prune every shard and silently return nothing)
        assert [r["id"] for r in idx.contains_all(["zeta"]).collect()] == ["new-1"]
        # stats cache refreshed: stored-path BM25 equals a fresh handle's
        got = [(r["id"], r["score"]) for r in idx.bm25(["alpha"], k=5, exact_sum=True).collect()]
        fresh = [(r["id"], r["score"]) for r in SearchIndex.open(spark, path).bm25(["alpha"], k=5, exact_sum=True).collect()]
        assert got == fresh

    def test_generation_refreshes_router_after_reshard(self, spark, tmp_path):
        """Second self-review: a promoted rebuild can change shard count;
        the stale router would prune point lookups to the wrong shard
        (silent empty result)."""
        import shutil
        import time

        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
        from solr_map_reduce_spark.schema import Field, IndexSchema

        schema = IndexSchema(
            fields=(Field("id", "string", required=True), Field("v", "long")),
            unique_key="id",
        )
        df = spark.createDataFrame(
            [(f"k{i:03d}", i) for i in range(60)], "id string, v long"
        )
        live = str(tmp_path / "live")
        IndexJob(
            IndexJobConfig(schema=schema, shards=2, dedup="none")
        ).build(df, live)
        idx = SearchIndex.open(spark, live)
        assert idx.count() == 60 and idx.shards == 2
        keys = [f"k{i:03d}" for i in range(60)]
        assert all(idx.get(k).count() == 1 for k in keys[:5])
        # rebuild with 4 shards and promote over the live path
        staged = str(tmp_path / "staged")
        IndexJob(
            IndexJobConfig(schema=schema, shards=4, dedup="none")
        ).build(df, staged)
        shutil.rmtree(live)
        shutil.move(staged, live)
        # the SAME handle must route against the NEW shard layout
        assert idx.count() == 60
        assert idx.shards == 4
        missing = [k for k in keys if idx.get(k).count() != 1]
        assert missing == []


class TestGenerationGuardContentBased:
    """Round-7 (ADVICE r6): the guard must trip even when a mutation lands
    in the SAME mtime quantum — manifest content (generation counter +
    uuid), not timestamps, is what's compared."""

    def test_same_mtime_quantum_mutation_detected(self, spark, tmp_path):
        import os

        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
        from solr_map_reduce_spark.schema import Field, IndexSchema

        schema = IndexSchema(
            fields=(Field("id", "string", required=True), Field("text", "text_general")),
            unique_key="id",
        )
        df = spark.createDataFrame(
            [(str(i), f"alpha word{i}") for i in range(20)],
            "id string, text string",
        )
        job = IndexJob(
            IndexJobConfig(
                schema=schema, shards=2, dedup="none", routing="native",
                term_blooms=True,
            )
        )
        path = str(tmp_path / "idx")
        job.build(df, path)
        idx = SearchIndex.open(spark, path)
        assert idx.count() == 20
        man = os.path.join(path, "_INDEX_MANIFEST.json")
        st = os.stat(man)
        job.merge_into(
            spark.createDataFrame(
                [("new-1", "alpha zeta-fresh")], "id string, text string"
            ),
            path,
        )
        # force the manifest mtime back to its PRE-mutation value: an
        # mtime-based guard would now serve stale caches
        os.utime(man, (st.st_atime, st.st_mtime))
        assert idx.count() == 21
        assert idx.get("new-1").count() == 1
        assert [r["id"] for r in idx.contains_all(["zeta"]).collect()] == ["new-1"]

    def test_manifest_carries_monotonic_generation(self, spark, tmp_path):
        import json
        import os

        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
        from solr_map_reduce_spark.schema import Field, IndexSchema

        schema = IndexSchema(
            fields=(Field("id", "string", required=True), Field("v", "long")),
            unique_key="id",
        )
        df = spark.createDataFrame([(str(i), i) for i in range(10)], "id string, v long")
        job = IndexJob(IndexJobConfig(schema=schema, shards=2, dedup="none"))
        path = str(tmp_path / "gen_idx")
        job.build(df, path)
        man = os.path.join(path, "_INDEX_MANIFEST.json")
        m1 = json.loads(open(man).read())
        assert m1["generation"] == 1 and m1["generation_id"]
        job.merge_into(
            spark.createDataFrame([("x", 99)], "id string, v long"), path
        )
        m2 = json.loads(open(man).read())
        assert m2["generation"] == m1["generation"] + 1
        assert m2["generation_id"] != m1["generation_id"]


class TestSearchPaging:
    """Round-7: Solr's start/rows paging on the composed request."""

    def test_start_offset_pages_deterministically(self, spark, tmp_path):
        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
        from solr_map_reduce_spark.schema import Field, IndexSchema

        schema = IndexSchema(
            fields=(Field("id", "string", required=True), Field("v", "long")),
            unique_key="id",
        )
        df = spark.createDataFrame(
            [(f"k{i:02d}", i % 3) for i in range(20)], "id string, v long"
        )
        path = str(tmp_path / "page_idx")
        IndexJob(IndexJobConfig(schema=schema, shards=2, dedup="none")).build(df, path)
        idx = SearchIndex.open(spark, path)
        pages = [
            [r["id"] for r in idx.search(sort=[("v", "asc")], start=s, limit=5,
                                         select=["id"]).collect()]
            for s in (0, 5, 10, 15)
        ]
        flat = [i for p in pages for i in p]
        assert len(flat) == 20 and len(set(flat)) == 20  # disjoint, complete
        # page boundaries are stable: same request, same page
        again = [r["id"] for r in idx.search(sort=[("v", "asc")], start=5,
                                             limit=5, select=["id"]).collect()]
        assert again == pages[1]
        # offset without a sort is refused (nondeterministic page)
        with pytest.raises(ValueError, match="start"):
            idx.search(start=5, limit=5)


class TestGenerationGuardAllMutators:
    """Round-7: update_fields, delete_where (in-place), and compact did
    not rewrite the manifest, so NO generation guard (mtime or content)
    ever fired for them — a live handle kept stale sidecar caches, and
    with the round-7 DataFrame memo would reference segment files the
    mutation renamed away.  Every in-place mutator now bumps the
    manifest generation."""

    def _build(self, spark, tmp_path):
        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
        from solr_map_reduce_spark.schema import Field, IndexSchema

        schema = IndexSchema(
            fields=(Field("id", "string", required=True), Field("text", "text_general")),
            unique_key="id",
        )
        df = spark.createDataFrame(
            [(str(i), f"alpha word{i}") for i in range(30)],
            "id string, text string",
        )
        job = IndexJob(
            IndexJobConfig(
                schema=schema, shards=2, dedup="none", routing="native",
                term_blooms=True, search_stats=True,
            )
        )
        path = str(tmp_path / "idx")
        job.build(df, path)
        return job, path

    def test_update_fields_under_open_handle(self, spark, tmp_path):
        job, path = self._build(spark, tmp_path)
        idx = SearchIndex.open(spark, path)
        assert idx.count() == 30 and idx.contains_all(["alpha"]).count() == 30
        job.update_fields(
            spark.createDataFrame([("7", "alpha zeta-fresh")], "id string, text string"),
            path,
        )
        # same handle: memoized df dropped, new tokens visible
        assert idx.count() == 30
        assert [r["id"] for r in idx.contains_all(["zeta"]).collect()] == ["7"]
        got = idx.get("7").select("text").first()["text"]
        assert got == "alpha zeta-fresh"

    def test_delete_where_under_open_handle(self, spark, tmp_path):
        import pyspark.sql.functions as F

        job, path = self._build(spark, tmp_path)
        idx = SearchIndex.open(spark, path)
        assert idx.count() == 30
        n = job.delete_where(spark, path, F.col("id") == "7")
        assert n == 1
        assert idx.count() == 29
        assert idx.get("7").count() == 0
        # bm25 still serves (stats delta-maintained or recomputed)
        assert idx.bm25(["alpha"], k=3).count() == 3

    def test_compact_under_open_handle(self, spark, tmp_path):
        from solr_map_reduce_spark.indexing import compact, segment_counts

        job, path = self._build(spark, tmp_path)
        idx = SearchIndex.open(spark, path)
        assert idx.count() == 30
        # warm the DataFrame memo so stale file references would be fatal
        assert idx.contains_all(["alpha"]).count() == 30
        compact(spark, path, max_segments=1)
        assert max(segment_counts(path).values()) <= 1
        # the SAME handle must keep answering over the renamed files
        assert idx.count() == 30
        assert idx.contains_all(["alpha"]).count() == 30
        assert idx.get("7").count() == 1
