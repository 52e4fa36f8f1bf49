"""Stored BM25 statistics (search_stats.py): scores must be bit-identical
to the computed-stats path, the stored plan must skip the stats pass, and
mutations must invalidate or refresh."""

import pyspark.sql.functions as F
import pytest

from solr_map_reduce_spark.index_reader import SearchIndex
from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
from solr_map_reduce_spark.schema import Field, IndexSchema
from solr_map_reduce_spark.search_stats import (
    load_search_stats,
    term_dfs,
    write_search_stats,
)

SCHEMA = IndexSchema(
    fields=(
        Field("id", "string", required=True),
        Field("text", "text_general"),
    ),
    unique_key="id",
)


def _cfg(**kw):
    return IndexJobConfig(
        schema=SCHEMA, shards=4, dedup="none", routing="native",
        term_blooms=True, search_stats=True, **kw,
    )


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    rows = [
        (str(i), f"alpha beta common word{i % 7} " + ("target " * (i % 3)))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "id string, text string")
    path = str(tmp_path_factory.mktemp("statsidx") / "index")
    IndexJob(_cfg()).build(df, path)
    return path


def test_stats_sidecar_contents(spark, built):
    stats = load_search_stats(spark, built)
    assert stats["text"]["n_docs"] == 120
    assert stats["text"]["n_dl"] == 120
    assert stats["text"]["sum_dl"] > 0
    dfs = term_dfs(spark, built, "text", ["alpha", "target", "missingterm"])
    assert dfs["alpha"] == 120
    assert dfs["target"] == 80  # i % 3 != 0
    assert dfs["missingterm"] == 0


def test_bm25_scores_identical_stored_vs_computed(spark, built, tmp_path):
    import shutil

    idx = SearchIndex.open(spark, built)
    stored = idx.bm25(["target", "alpha"], k=10, exact_sum=True).collect()

    # same artifact without the sidecars -> computed path
    bare = str(tmp_path / "bare")
    shutil.copytree(built, bare)
    import os

    os.remove(os.path.join(bare, "_SEARCH_STATS.json"))
    shutil.rmtree(os.path.join(bare, "_vocab"))
    os.remove(os.path.join(bare, "_TERM_BLOOMS.json"))
    computed = SearchIndex.open(spark, bare).bm25(
        ["target", "alpha"], k=10, exact_sum=True
    ).collect()

    assert [(r["id"], r["score"]) for r in stored] == [
        (r["id"], r["score"]) for r in computed
    ]


def test_stored_plan_is_single_pass(spark, built):
    idx = SearchIndex.open(spark, built)
    plan = (
        idx.bm25(["target"], k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the computed path checkpoints the compact table; the stored path must
    # not (no scan of an RDD checkpoint, one FileScan of the artifact)
    assert "ExistingRDD" not in plan and "Scan ExistingRDD" not in plan
    assert plan.count("FileScan parquet") == 1
    assert "TakeOrderedAndProject" in plan


def test_merge_into_refreshes_stats(spark, built, tmp_path):
    import shutil

    path = str(tmp_path / "index")
    shutil.copytree(built, path)
    add = spark.createDataFrame(
        [("new-1", "alpha target target freshterm")], "id string, text string"
    )
    IndexJob(_cfg()).merge_into(add, path)
    stats = load_search_stats(spark, path)
    assert stats["text"]["n_docs"] == 121
    assert term_dfs(spark, path, "text", ["freshterm"])["freshterm"] == 1


def test_delete_where_delta_maintains_stats(spark, built, tmp_path):
    """r5: deletes delta-maintain the stats sidecar (previously they
    invalidated it) — stats stay equal to a full rebuild and BM25 keeps
    serving from stored structures."""
    import shutil

    path = str(tmp_path / "index")
    shutil.copytree(built, path)
    job = IndexJob(_cfg())
    n = job.delete_where(spark, path, F.col("id") == "5")
    assert n == 1
    delta_stats = load_search_stats(spark, path)
    assert delta_stats is not None and delta_stats["text"]["n_docs"] == 119
    delta_vocab = {
        r["term"]: r["df"]
        for r in spark.read.parquet(path + "/_vocab/text").collect()
    }
    rebuilt = write_search_stats(spark, path)
    full_vocab = {
        r["term"]: r["df"]
        for r in spark.read.parquet(path + "/_vocab/text").collect()
    }
    assert delta_stats == rebuilt
    assert delta_vocab == full_vocab
    idx = SearchIndex.open(spark, path)
    assert len(idx.bm25(["target"], k=5).collect()) == 5


def test_term_facet_from_vocab(spark, built):
    idx = SearchIndex.open(spark, built)
    top = idx.term_facet(top=3).collect()
    assert top[0]["df"] == 120  # alpha/beta/common all hit every doc
    assert {r["term"] for r in top} <= {"alpha", "beta", "common"}
    plan = idx.term_facet(top=3)._jdf.queryExecution().executedPlan().toString()
    assert "_vocab" in plan  # served from the dictionary, not the corpus


def test_term_facet_fallback_without_vocab(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", "x y"), ("b", "x z")], "id string, text string"
    )
    path = str(tmp_path / "novocab")
    IndexJob(
        IndexJobConfig(schema=SCHEMA, shards=2, dedup="none", routing="native")
    ).build(df, path)
    top = {r["term"]: r["df"] for r in SearchIndex.open(spark, path).term_facet(top=10).collect()}
    assert top == {"x": 2, "y": 1, "z": 1}


def test_suggest_from_vocab(spark, built):
    idx = SearchIndex.open(spark, built)
    got = idx.suggest("al", top=5).collect()
    assert got and got[0]["term"] == "alpha" and got[0]["df"] == 120
    assert all(r["term"].startswith("al") for r in got)
    plan = idx.suggest("al", top=5)._jdf.queryExecution().executedPlan().toString()
    assert "_vocab" in plan and "StartsWith" in plan  # pushdown dictionary scan


def test_suggest_fallback_without_vocab(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", "xray xylo"), ("b", "xray zed")], "id string, text string"
    )
    path = str(tmp_path / "novocab_sg")
    IndexJob(
        IndexJobConfig(schema=SCHEMA, shards=2, dedup="none", routing="native")
    ).build(df, path)
    got = {r["term"]: r["df"] for r in SearchIndex.open(spark, path).suggest("x").collect()}
    assert got == {"xray": 2, "xylo": 1}


def test_highlight_snippets(spark, built):
    idx = SearchIndex.open(spark, built)
    rows = idx.highlight(["target"], window=4).collect()
    assert rows  # 80 docs contain it
    for r in rows[:5]:
        assert "<em>target</em>" in r["snippet"]


def test_more_like_this(spark, built):
    idx = SearchIndex.open(spark, built)
    # doc "1": "alpha beta common word1 target" — similar docs share word1/target
    got = idx.more_like_this("1", k=5).collect()
    ids = [r["id"] for r in got]
    assert "1" not in ids and len(ids) == 5
    # word1 appears in docs i % 7 == 1 — the top hits should be from that set
    # or target-heavy docs; assert overlap with the word1 family
    word1_family = {str(i) for i in range(120) if i % 7 == 1}
    assert set(ids) & word1_family


def test_repeated_more_like_this_reads_the_vocab_once(spark, built, monkeypatch):
    """MLT term selection takes its document frequencies from the handle's
    df LRU, like bm25: a repeated request does not rescan the vocab."""
    from solr_map_reduce_spark import search_stats

    real, calls = search_stats.term_dfs, []

    def counting(*a, **kw):
        calls.append(a)
        return real(*a, **kw)

    monkeypatch.setattr(search_stats, "term_dfs", counting)
    idx = SearchIndex.open(spark, built)
    first = idx._mlt_terms("1")
    assert idx._mlt_terms("1") == first and len(calls) == 1


def test_more_like_this_missing_key_raises(spark, built):
    idx = SearchIndex.open(spark, built)
    with pytest.raises(KeyError):
        idx.more_like_this("no-such-doc")


class TestIncrementalStatsDelta:
    """r5: merge_into delta-maintains the stats sidecar in O(touched) —
    proven equal to a full rebuild, and proven NOT to scan untouched
    shards (tamper test)."""

    def test_delta_equals_full_rebuild(self, spark, built, tmp_path):
        import shutil

        path = str(tmp_path / "index")
        shutil.copytree(built, path)
        add = spark.createDataFrame(
            [
                ("new-1", "alpha target target freshterm"),
                ("new-2", "beta common freshterm othernew"),
                ("7", "alpha replaced entirely"),  # same key (dedup=none: appends)
            ],
            "id string, text string",
        )
        IndexJob(_cfg()).merge_into(add, path)
        delta_stats = load_search_stats(spark, path)
        delta_vocab = {
            r["term"]: r["df"]
            for r in spark.read.parquet(path + "/_vocab/text").collect()
        }
        # ground truth: full rebuild over the merged artifact
        rebuilt = write_search_stats(spark, path)
        full_vocab = {
            r["term"]: r["df"]
            for r in spark.read.parquet(path + "/_vocab/text").collect()
        }
        assert delta_stats == rebuilt
        assert delta_vocab == full_vocab
        assert delta_stats["text"]["n_docs"] == 123  # 120 + 3 (dedup=none)

    def test_merge_never_scans_untouched_shards(self, spark, built, tmp_path):
        """Tamper test: every parquet file in the shards the batch does NOT
        route to is replaced by a VALID zero-row file (same schema — valid
        so Spark's footer sampling for schema inference stays
        deterministic).  If ANY part of merge_into (union, stats delta,
        bloom/key-range refresh) scanned an untouched shard it would see
        zero docs there and the resulting statistics would diverge from
        the pre-tamper expectation below."""
        import os
        import shutil

        import pyarrow.parquet as pq

        path = str(tmp_path / "index")
        shutil.copytree(built, path)
        job = IndexJob(_cfg())
        add = spark.createDataFrame(
            [("tamper-new", "alpha target freshterm")], "id string, text string"
        )
        routed = job.route(add).select("shard").distinct().collect()
        touched = {int(r["shard"]) for r in routed}
        assert len(touched) == 1
        untouched = [
            d for d in os.listdir(path)
            if d.startswith("shard=") and int(d.split("=")[1]) not in touched
        ]
        assert untouched  # the fixture has 4 shards
        emptied = 0
        for d in untouched:
            for f in os.listdir(os.path.join(path, d)):
                if f.endswith(".parquet"):
                    full = os.path.join(path, d, f)
                    table = pq.read_table(full)
                    pq.write_table(table.slice(0, 0), full)  # valid, 0 rows
                    emptied += 1
        assert emptied
        before = load_search_stats(spark, path)
        IndexJob(_cfg()).merge_into(add, path)  # must not read tampered files
        after = load_search_stats(spark, path)
        # stats reflect the PRE-tamper corpus + the 1-doc batch: any scan of
        # the emptied untouched shards would have subtracted their docs
        assert after["text"]["n_docs"] == before["text"]["n_docs"] + 1
        assert term_dfs(spark, path, "text", ["freshterm"])["freshterm"] == 1

    def test_delta_handles_term_disappearing(self, spark, tmp_path):
        """A term whose every occurrence is replaced drops out of the
        dictionary (df reaches 0) — the full-outer delta must remove it,
        not leave df=0 rows behind."""
        df = spark.createDataFrame(
            [("a", "unique singleton"), ("b", "other words")],
            "id string, text string",
        )
        path = str(tmp_path / "vanish")
        job = IndexJob(
            IndexJobConfig(
                schema=SCHEMA, shards=1, dedup="retain_most_recent",
                routing="native", term_blooms=True, search_stats=True,
            )
        )
        job.build(df, path)
        assert term_dfs(spark, path, "text", ["singleton"])["singleton"] == 1
        job.merge_into(
            spark.createDataFrame([("a", "replaced now")], "id string, text string"),
            path,
        )
        vocab = {
            r["term"]: r["df"]
            for r in spark.read.parquet(path + "/_vocab/text").collect()
        }
        assert "singleton" not in vocab
        assert vocab == {
            "other": 1, "words": 1, "replaced": 1, "now": 1,
        }
        stats = load_search_stats(spark, path)
        assert stats["text"] == {"n_docs": 2, "sum_dl": 4, "n_dl": 2}

    def test_delta_counts_documents_without_terms(self, spark, tmp_path):
        """A document with no visible term (empty, blank or null text)
        still counts in n_docs: deleting the only rows of a shard, all of
        them term-less, and then a rewrite whose old and new sides are
        both empty, leave the stats equal to a full rebuild."""
        job = IndexJob(IndexJobConfig(
            schema=SCHEMA, shards=2, dedup="none", routing="native",
            term_blooms=True, search_stats=True,
        ))
        ids = spark.createDataFrame([(f"d{i}", "") for i in range(40)],
                                    "id string, text string")
        shard_of = {r["id"]: r["shard"] for r in job.route(ids).collect()}
        blank = [k for k, s in sorted(shard_of.items()) if s == 0][:4]
        worded = [k for k, s in sorted(shard_of.items()) if s == 1][:3]
        rows = [(blank[0], ""), (blank[1], None), (blank[2], "   ")]
        rows += [(k, f"alpha w{i}") for i, k in enumerate(worded)]
        path = str(tmp_path / "blank")
        job.build(spark.createDataFrame(rows, "id string, text string"), path)
        assert job.delete_where(spark, path, F.col("id").isin(blank)) == 3
        stats = load_search_stats(spark, path)
        assert stats["text"]["n_docs"] == 3
        assert stats == write_search_stats(spark, path)
        # shard 0 holds no file now: neither side of this rewrite has a row
        job.update_fields(
            spark.createDataFrame([(blank[3], "beta")], "id string, text string"),
            path, missing="skip",
        )
        assert load_search_stats(spark, path) == stats

    def test_bm25_scores_after_delta_match_computed(self, spark, built, tmp_path):
        """Serving equality end to end: after an incremental merge, stored-
        stats BM25 must equal the computed-stats path on the same corpus."""
        import os
        import shutil

        path = str(tmp_path / "index")
        shutil.copytree(built, path)
        add = spark.createDataFrame(
            [("new-1", "alpha target target freshterm")], "id string, text string"
        )
        IndexJob(_cfg()).merge_into(add, path)
        stored = SearchIndex.open(spark, path).bm25(
            ["target", "alpha"], k=10, exact_sum=True
        ).collect()
        bare = str(tmp_path / "bare")
        shutil.copytree(path, bare)
        os.remove(os.path.join(bare, "_SEARCH_STATS.json"))
        shutil.rmtree(os.path.join(bare, "_vocab"))
        os.remove(os.path.join(bare, "_TERM_BLOOMS.json"))
        computed = SearchIndex.open(spark, bare).bm25(
            ["target", "alpha"], k=10, exact_sum=True
        ).collect()
        assert [(r["id"], r["score"]) for r in stored] == [
            (r["id"], r["score"]) for r in computed
        ]


def test_compact_preserves_stats_sidecar(spark, built, tmp_path):
    """Compaction rewrites files but not content: the stats sidecar (and
    its _vocab/ dictionary) must survive and keep serving."""
    import shutil

    from solr_map_reduce_spark.indexing import compact

    path = str(tmp_path / "index")
    shutil.copytree(built, path)
    before = load_search_stats(spark, path)
    compact(spark, path, max_segments=1)
    after = load_search_stats(spark, path)
    assert after == before
    idx = SearchIndex.open(spark, path)
    plan = idx.bm25(["target"], k=5)._jdf.queryExecution().executedPlan().toString()
    assert "_vocab" not in plan  # dfs come from the dictionary lookup, plan
    assert plan.count("FileScan parquet") == 1  # still the stored-stats shape
    assert len(idx.bm25(["target"], k=5).collect()) == 5


def test_reader_delete_where_carries_serving_structures(spark, built, tmp_path):
    """SearchIndex.delete_where writes a NEW artifact: the source's term
    blooms (still a correct superset under deletion) and BM25 stats must
    follow it — previously the result silently lost stored-stats serving."""
    import os

    idx = SearchIndex.open(spark, built)
    out = str(tmp_path / "deleted")
    res = idx.delete_where(F.col("id") == "5", out)
    assert os.path.exists(os.path.join(out, "_TERM_BLOOMS.json"))
    stats = load_search_stats(spark, out)
    assert stats is not None and stats["text"]["n_docs"] == 119
    rebuilt = write_search_stats(spark, out)
    assert stats == rebuilt
    plan = res.bm25(["target"], k=5)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1  # stored-stats single-pass shape


class TestBucketedVocab:
    """Round-6: the term dictionary is hash-bucketed
    (``_vocab/<field>/bucket=N/``, N = crc32(term) % n_buckets) so
    incremental mutations read and rewrite only the buckets containing
    changed terms — the last O(|vocab|) step in the mutation path removed
    (the reference's incremental re-index contract,
    MorphlineBasicMiniMRTest.java:418-423)."""

    def test_bucketed_layout_on_disk(self, spark, built):
        import json
        import os

        base = os.path.join(built, "_vocab")
        with open(os.path.join(base, "_VOCAB_META.json")) as f:
            meta = json.load(f)
        # adaptive sizing: the tiny fixture lands on the floor count — the
        # meta records whatever the writer chose, and readers follow it
        assert meta["n_buckets"] == 8 and meta["hash"] == "crc32"
        buckets = [
            d for d in os.listdir(os.path.join(base, "text"))
            if d.startswith("bucket=")
        ]
        assert len(buckets) > 1  # the fixture vocab spans many buckets

    def test_driver_bucket_matches_jvm_bucket(self, spark, built):
        """zlib.crc32 (driver pruning) and F.crc32 (write path) must agree
        or point df-lookups would look in the wrong partition dir."""
        import os

        from solr_map_reduce_spark.search_stats import load_vocab_meta, term_bucket
        from solr_map_reduce_spark.fs import get_fs

        n = int(load_vocab_meta(get_fs(built, spark), built)["n_buckets"])
        # every on-disk term must live in the dir the driver would probe
        vocab = spark.read.parquet(os.path.join(built, "_vocab", "text"))
        for r in vocab.select("term", "bucket").collect():
            assert term_bucket(r["term"], n) == int(r["bucket"]), r["term"]

    def test_merge_rewrites_only_changed_term_buckets(self, spark, built, tmp_path):
        """Tamper test (the bucket analog of the untouched-shards proof):
        every parquet file in vocab buckets NOT containing a changed term
        is overwritten with garbage bytes before a 1-doc merge.  Any
        full-vocab READ would crash on the garbage; any full-vocab
        REWRITE would replace it.  The merge must succeed, leave the
        garbage bytes exactly in place, and serve correct dfs for the
        changed terms."""
        import os
        import shutil

        from solr_map_reduce_spark.search_stats import load_vocab_meta, term_bucket
        from solr_map_reduce_spark.fs import get_fs

        path = str(tmp_path / "index")
        shutil.copytree(built, path)
        n = int(load_vocab_meta(get_fs(path, spark), path)["n_buckets"])
        add = spark.createDataFrame(
            [("bk-new", "alpha freshbucketterm")], "id string, text string"
        )
        changed = {"alpha", "freshbucketterm"}
        changed_buckets = {term_bucket(t, n) for t in changed}
        vocab_dir = os.path.join(path, "_vocab", "text")
        poisoned = {}
        for d in os.listdir(vocab_dir):
            if not d.startswith("bucket="):
                continue
            if int(d.split("=")[1]) in changed_buckets:
                continue
            for f in os.listdir(os.path.join(vocab_dir, d)):
                if f.endswith(".parquet"):
                    full = os.path.join(vocab_dir, d, f)
                    with open(full, "wb") as fh:
                        fh.write(b"GARBAGE NOT PARQUET")
                    poisoned[full] = os.path.getmtime(full)
        assert len(poisoned) >= 3  # the tamper actually covers buckets
        IndexJob(_cfg()).merge_into(add, path)
        for full, mtime in poisoned.items():
            with open(full, "rb") as fh:
                assert fh.read() == b"GARBAGE NOT PARQUET", full
            assert os.path.getmtime(full) == mtime, full
        dfs = term_dfs(spark, path, "text", ["alpha", "freshbucketterm"])
        assert dfs["alpha"] == 121 and dfs["freshbucketterm"] == 1


class TestStatsCommitMarker:
    """Round-6: ``_SEARCH_STATS.json`` is the commit marker for the whole
    stats sidecar.  Finalize deletes it FIRST and rewrites it LAST, so a
    crash anywhere during vocab promotion leaves readers on the
    computed-stats fallback (correct post-mutation scores) instead of the
    old skew state (new vocab against old scalars)."""

    def _crash_merge(self, spark, built, tmp_path, monkeypatch, boom_when):
        import shutil

        from solr_map_reduce_spark.fs import LocalFS

        path = str(tmp_path / "index")
        shutil.copytree(built, path)
        add = spark.createDataFrame(
            [("crash-new", "alpha target crashterm")], "id string, text string"
        )
        orig_write = LocalFS.write_text
        orig_rename = LocalFS.rename

        def write_text(self, p, text):
            if boom_when == "stats_write" and p.endswith("_SEARCH_STATS.json"):
                raise RuntimeError("crash-inject: before stats write")
            return orig_write(self, p, text)

        def rename(self, src, dst):
            if boom_when == "vocab_promote" and "__trash" in dst:
                raise RuntimeError("crash-inject: mid vocab promote")
            return orig_rename(self, src, dst)

        monkeypatch.setattr(LocalFS, "write_text", write_text)
        monkeypatch.setattr(LocalFS, "rename", rename)
        with pytest.raises(RuntimeError, match="crash-inject"):
            IndexJob(_cfg()).merge_into(add, path)
        monkeypatch.undo()
        return path

    @pytest.mark.parametrize("boom_when", ["vocab_promote", "stats_write"])
    def test_crash_in_finalize_serves_correct_scores(
        self, spark, built, tmp_path, monkeypatch, boom_when
    ):
        import os
        import shutil

        path = self._crash_merge(spark, built, tmp_path, monkeypatch, boom_when)
        # marker is down: readers must NOT serve stored structures
        assert load_search_stats(spark, path) is None
        crashed = SearchIndex.open(spark, path).bm25(
            ["target", "alpha"], k=10, exact_sum=True
        ).collect()
        # reference: the same post-merge corpus with the sidecars stripped
        # (pure computed path) — scores must match exactly, no stale-stats
        # skew.  NOTE the artifact swap precedes finalize, so the merge's
        # DATA is committed; only serving-structure freshness is lost.
        bare = str(tmp_path / "bare")
        shutil.copytree(path, bare)
        if os.path.isdir(os.path.join(bare, "_vocab")):
            shutil.rmtree(os.path.join(bare, "_vocab"))
        if os.path.exists(os.path.join(bare, "_TERM_BLOOMS.json")):
            os.remove(os.path.join(bare, "_TERM_BLOOMS.json"))
        computed = SearchIndex.open(spark, bare).bm25(
            ["target", "alpha"], k=10, exact_sum=True
        ).collect()
        assert [(r["id"], r["score"]) for r in crashed] == [
            (r["id"], r["score"]) for r in computed
        ]
        # write_search_stats repairs the torn sidecar in place
        assert write_search_stats(spark, path) is not None
        repaired = SearchIndex.open(spark, path).bm25(
            ["target", "alpha"], k=10, exact_sum=True
        ).collect()
        assert [(r["id"], r["score"]) for r in repaired] == [
            (r["id"], r["score"]) for r in computed
        ]


class TestSortedVocabBuckets:
    """Round-7: rows are TERM-SORTED within each vocab bucket file, so
    parquet row-group min/max statistics turn prefix scans (suggest) into
    seeks — the Lucene sorted-term-dictionary contract (r6 verdict
    'What's wrong' #1)."""

    def test_one_sorted_file_per_bucket(self, built):
        import os

        import pyarrow.parquet as pq

        vroot = os.path.join(built, "_vocab", "text")
        bucket_dirs = [d for d in os.listdir(vroot) if d.startswith("bucket=")]
        assert bucket_dirs
        for d in bucket_dirs:
            files = [
                f for f in os.listdir(os.path.join(vroot, d))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, f"{d}: expected one file, got {files}"
            terms = pq.read_table(
                os.path.join(vroot, d, files[0]), columns=["term"]
            )["term"].to_pylist()
            assert terms == sorted(terms), f"{d} not term-sorted"

    def _admits(self, stats, prefix):
        mn, mx = stats.min, stats.max
        if isinstance(mn, bytes):
            mn, mx = mn.decode(), mx.decode()
        return mx >= prefix and mn <= prefix + "￿"

    def test_prefix_scan_prunes_row_groups(self, spark, tmp_path):
        """At an inflated vocab (forced-small row groups), a prefix admits
        a bounded subset of row groups — and the suggest plan pushes the
        startswith filter down to the scan."""
        import os

        import pyarrow.parquet as pq

        rows = [
            (str(i), " ".join(f"w{j:05d}" for j in range(i * 200, i * 200 + 200)))
            for i in range(200)
        ]  # 40k distinct terms -> ~600 per bucket
        df = spark.createDataFrame(rows, "id string, text string")
        path = str(tmp_path / "bigvocab")
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        old = hconf.get("parquet.block.size")
        hconf.set("parquet.block.size", "2048")
        try:
            IndexJob(_cfg()).build(df, path)
        finally:
            if old is None:
                hconf.unset("parquet.block.size")
            else:
                hconf.set("parquet.block.size", old)
        total = admit = 0
        per_file_sorted = True
        vroot = os.path.join(path, "_vocab", "text")
        prefix = "w0010"  # matches w00100..w00109 only
        for d in sorted(os.listdir(vroot)):
            if not d.startswith("bucket="):
                continue
            for f in os.listdir(os.path.join(vroot, d)):
                if not f.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(vroot, d, f)).metadata
                term_i = next(
                    i for i in range(md.schema.to_arrow_schema().names.__len__())
                    if md.schema.column(i).name == "term"
                )
                prev_max = None
                for rg in range(md.num_row_groups):
                    total += 1
                    st = md.row_group(rg).column(term_i).statistics
                    if self._admits(st, prefix):
                        admit += 1
                    mn = st.min.decode() if isinstance(st.min, bytes) else st.min
                    if prev_max is not None and mn < prev_max:
                        per_file_sorted = False
                    prev_max = (
                        st.max.decode() if isinstance(st.max, bytes) else st.max
                    )
        assert total >= 100, f"row groups not inflated (total={total})"
        # sorted layout => row-group ranges ascend within each file
        assert per_file_sorted
        # a 10-term prefix admits at most ~one row group per bucket (a
        # straddler), never a constant fraction of all groups
        assert admit <= 2 * 64, (admit, total)
        assert admit < total / 2, (admit, total)
        # the suggest plan pushes the prefix filter to the parquet scan
        idx = SearchIndex.open(spark, path)
        sug = idx.suggest(prefix, top=20)
        plan = sug._jdf.queryExecution().executedPlan().toString()
        assert "StartsWith" in plan, plan
        got = [r["term"] for r in sug.collect()]
        assert got == [f"w001{k:02d}" for k in range(10)]


class TestServingHandleHygiene:
    """Round-7: bounded per-handle df memo (LRU) and a one-time warning
    on the no-sidecar bm25(fq=...) full-corpus stats pass."""

    def test_dfs_memo_lru_cap_holds(self, spark, built):
        idx = SearchIndex.open(spark, built)
        idx._dfs_memo.cap = 3
        probes = [["alpha"], ["beta"], ["common"], ["target"], ["word1"]]
        for terms in probes:
            idx.bm25(terms, k=2).collect()
        assert len(idx._dfs_memo) == 3
        # most-recent keys survive, oldest evicted
        kept = {k[1] for k in idx._dfs_memo}
        assert kept == {("common",), ("target",), ("word1",)}
        # a repeat hit refreshes recency instead of evicting
        idx.bm25(["common"], k=2).collect()
        idx.bm25(["alpha"], k=2).collect()
        kept = {k[1] for k in idx._dfs_memo}
        assert ("common",) in kept and ("alpha",) in kept

    def test_no_sidecar_fq_warns_once(self, spark, tmp_path, caplog):
        import logging

        rows = [(str(i), "alpha beta gamma") for i in range(10)]
        df = spark.createDataFrame(rows, "id string, text string")
        path = str(tmp_path / "nostats")
        IndexJob(
            IndexJobConfig(schema=SCHEMA, shards=2, dedup="none",
                           routing="native", search_stats=False)
        ).build(df, path)
        idx = SearchIndex.open(spark, path)
        with caplog.at_level(logging.WARNING,
                             logger="solr_map_reduce_spark.index_reader"):
            idx.bm25(["alpha"], k=2, fq="beta").collect()
            idx.bm25(["alpha"], k=2, fq="gamma").collect()
        hits = [r for r in caplog.records if "search_stats" in r.getMessage()]
        assert len(hits) == 1
        # the stats-sidecar path never warns
        idx2 = SearchIndex.open(spark, path)
        from solr_map_reduce_spark.search_stats import write_search_stats

        write_search_stats(spark, path)
        caplog.clear()
        with caplog.at_level(logging.WARNING,
                             logger="solr_map_reduce_spark.index_reader"):
            SearchIndex.open(spark, path).bm25(["alpha"], k=2, fq="beta").collect()
        assert not [r for r in caplog.records if "search_stats" in r.getMessage()]


class TestAdaptiveBucketCount:
    """Round-13: the vocab bucket count scales with the artifact instead of
    a fixed 64 — a tiny corpus writes 8 bucket files per field (not 64
    near-empty ones), a huge one gets up to 4096 (bounding bucket-file
    size); readers always follow _VOCAB_META.json, so any count serves
    correctly."""

    def test_count_scales_with_estimate(self, spark, built, tmp_path,
                                        monkeypatch):
        import shutil

        import solr_map_reduce_spark.search_stats as ss
        from solr_map_reduce_spark.fs import get_fs
        from solr_map_reduce_spark.indexing import read_index

        path = str(tmp_path / "index")
        shutil.copytree(built, path)
        est = ss._size_estimate(read_index(spark, path))
        assert est > 0
        # target chosen so the SAME artifact now wants 4 doublings past the
        # floor
        monkeypatch.setattr(ss, "_VOCAB_BUCKET_TARGET_BYTES", max(1, est // 100))
        expect = ss._auto_buckets(est)
        assert expect > 8  # the test actually exercises the scaling loop
        ss.write_search_stats(spark, path)
        meta = ss.load_vocab_meta(get_fs(path, spark), path)
        assert int(meta["n_buckets"]) == expect
        # served values are count-independent
        assert ss.term_dfs(spark, path, "text", ["target"])["target"] == 80

    def test_floor_and_cap(self):
        """The sizing arithmetic alone: floor 8 below one target's worth,
        cap 4096 no matter how large the estimate."""
        import solr_map_reduce_spark.search_stats as ss

        target = ss._VOCAB_BUCKET_TARGET_BYTES
        assert ss._auto_buckets(0) == 8 and ss._auto_buckets(target * 8) == 8
        assert ss._auto_buckets(target * 8 + 1) == 16
        assert ss._auto_buckets(10**15) == 4096
