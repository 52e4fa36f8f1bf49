"""Per-segment key-range sidecar (key_ranges.py): file pruning for point
lookups, mutation-safe refresh — the Lucene per-segment term-dictionary
cost model over the sharded parquet artifact.  The spans come from the
parquet footers; Spark's per-file aggregate is their oracle."""

import json
import os
import shutil
from decimal import Decimal

import pyspark.sql.functions as F
import pytest

from solr_map_reduce_spark.index_reader import SearchIndex
from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig, compact, read_index
from solr_map_reduce_spark.key_ranges import load_key_ranges, write_key_ranges
from solr_map_reduce_spark.schema import Field, IndexSchema

SCHEMA = IndexSchema(
    fields=(
        Field("id", "string", required=True),
        Field("val", "long"),
    ),
    unique_key="id",
)


def _job(**over):
    cfg = dict(
        schema=SCHEMA, shards=2, micro_shards=4, dedup="none",
        key_ranges=True, max_records_per_file=40,
    )
    cfg.update(over)
    return IndexJob(IndexJobConfig(**cfg))


def _docs(spark, n=400, start=0):
    return spark.range(start, start + n).select(
        F.format_string("k%05d", F.col("id")).alias("id"),
        F.col("id").alias("val"),
    )


def _sidecar_at(path, key_type, files):
    """Write a one-shard sidecar in the current layout (``files``: its
    ``[name, lo, hi, rows]`` entries) under ``path`` and load it."""
    base = os.path.join(path, "_key_ranges")
    os.makedirs(base)
    with open(os.path.join(base, "shard_0.json"), "w") as f:
        json.dump({"files": files}, f)
    with open(os.path.join(base, "_META.json"), "w") as f:
        rows = {"0": sum(n for *_, n in files)}
        json.dump({"format": 2, "key_type": key_type, "shard_rows": rows}, f)
    return load_key_ranges(None, path)


@pytest.fixture(scope="module")
def artifact(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("kr") / "idx")
    _job().build(_docs(spark), out)
    return out


class TestSidecar:
    def test_sidecar_covers_every_segment_file(self, spark, artifact):
        ranges = load_key_ranges(spark, artifact)
        assert ranges is not None and ranges["key_type"] == "string"
        listed = set()
        for shard_dir in os.listdir(artifact):
            if shard_dir.startswith("shard="):
                s = shard_dir.split("=", 1)[1]
                for f in os.listdir(os.path.join(artifact, shard_dir)):
                    if f.endswith(".parquet"):
                        listed.add((s, f))
        stored = {
            (s, f) for s, files in ranges["shards"].items() for f in files
        }
        assert stored == listed and len(listed) > 2  # multi-segment fixture

    def test_ranges_are_sorted_key_spans(self, spark, artifact):
        ranges = load_key_ranges(spark, artifact)
        for files in ranges["shards"].values():
            for lo, hi, n in files.values():
                assert lo <= hi and n > 0

    def test_candidate_files_narrow(self, spark, artifact):
        ranges = load_key_ranges(spark, artifact)
        total = sum(len(f) for f in ranges["shards"].values())
        cands = ranges.candidate_files(["k00007"])
        assert 0 < len(cands) < total


class TestPrunedLookup:
    def test_get_reads_only_admitted_files(self, spark, artifact):
        idx = SearchIndex.open(spark, artifact)
        hit = idx.get("k00123")
        rows = hit.collect()
        assert len(rows) == 1 and rows[0]["val"] == 123
        ranges = load_key_ranges(spark, artifact)
        total = sum(len(f) for f in ranges["shards"].values())
        assert 0 < len(hit.inputFiles()) < total

    def test_every_key_retrievable(self, spark, artifact):
        idx = SearchIndex.open(spark, artifact)
        for k, want in (("k00000", 0), ("k00199", 199), ("k00399", 399)):
            rows = idx.get(k).collect()
            assert len(rows) == 1 and rows[0]["val"] == want

    def test_missing_key_zero_rows_zero_files(self, spark, artifact):
        idx = SearchIndex.open(spark, artifact)
        out = idx.get("zzz-not-there")
        assert out.count() == 0
        assert out.inputFiles() == []

    def test_get_many_across_shards(self, spark, artifact):
        idx = SearchIndex.open(spark, artifact)
        keys = ["k00001", "k00250", "k00399"]
        got = {r["id"]: r["val"] for r in idx.get_many(keys).collect()}
        assert got == {"k00001": 1, "k00250": 250, "k00399": 399}

    def test_native_routing_still_prunes(self, spark, tmp_path):
        # native routing has no driver-side shard math — the sidecar alone
        # restores point-lookup pruning
        out = str(tmp_path / "idx_native")
        _job(routing="native").build(_docs(spark), out)
        idx = SearchIndex.open(spark, out)
        hit = idx.get("k00042")
        assert [r["val"] for r in hit.collect()] == [42]
        ranges = load_key_ranges(spark, out)
        total = sum(len(f) for f in ranges["shards"].values())
        assert 0 < len(hit.inputFiles()) < total

    def test_numeric_key_type(self, spark, tmp_path):
        out = str(tmp_path / "idx_num")
        schema = IndexSchema(
            fields=(Field("doc_id", "long", required=True), Field("val", "long")),
            unique_key="doc_id",
        )
        df = spark.range(0, 300).select(
            F.col("id").alias("doc_id"), (F.col("id") * 2).alias("val")
        )
        IndexJob(
            IndexJobConfig(
                schema=schema, shards=2, micro_shards=4, dedup="none",
                routing="native", key_ranges=True, max_records_per_file=50,
            )
        ).build(df, out)
        idx = SearchIndex.open(spark, out)
        ranges = load_key_ranges(spark, out)
        assert ranges["key_type"] == "bigint"
        rows = idx.get(137).collect()
        assert len(rows) == 1 and rows[0]["val"] == 274
        total = sum(len(f) for f in ranges["shards"].values())
        assert 0 < len(idx.get(137).inputFiles()) < total


class TestRangeAndPrefixScan:
    def test_key_range_pruned_and_exact(self, spark, artifact):
        idx = SearchIndex.open(spark, artifact)
        out = idx.key_range("k00100", "k00119")
        vals = sorted(r["val"] for r in out.collect())
        assert vals == list(range(100, 120))
        ranges = load_key_ranges(spark, artifact)
        total = sum(len(f) for f in ranges["shards"].values())
        assert 0 < len(out.inputFiles()) < total

    def test_key_range_open_bounds(self, spark, artifact):
        idx = SearchIndex.open(spark, artifact)
        assert idx.key_range(lo="k00390").count() == 10
        assert idx.key_range(hi="k00009").count() == 10
        assert idx.key_range().count() == 400

    def test_prefix_scan(self, spark, artifact):
        idx = SearchIndex.open(spark, artifact)
        out = idx.prefix_key("k0039")
        assert sorted(r["val"] for r in out.collect()) == list(range(390, 400))
        ranges = load_key_ranges(spark, artifact)
        total = sum(len(f) for f in ranges["shards"].values())
        assert 0 < len(out.inputFiles()) < total

    def test_composite_id_prefix_colocated(self, spark, tmp_path):
        # Solr composite ids (root!suffix): a root's docs co-shard AND sort
        # adjacently -> a root!* scan touches few segments of one shard
        out = str(tmp_path / "idx_comp")
        df = spark.range(0, 300).select(
            F.format_string("c%03d!d%05d", (F.col("id") / 10).cast("int"), F.col("id")).alias("id"),
            F.col("id").alias("val"),
        )
        _job(routing="solr").build(df, out)
        idx = SearchIndex.open(spark, out)
        hits = idx.prefix_key("c007!")
        assert sorted(r["val"] for r in hits.collect()) == list(range(70, 80))
        ranges = load_key_ranges(spark, out)
        total = sum(len(f) for f in ranges["shards"].values())
        assert 0 < len(hits.inputFiles()) < total

    def test_numeric_key_prefix_not_pruned_but_correct(self, spark, tmp_path):
        out = str(tmp_path / "idx_num_prefix")
        schema = IndexSchema(
            fields=(Field("doc_id", "long", required=True),), unique_key="doc_id"
        )
        df = spark.range(0, 200).select(F.col("id").alias("doc_id"))
        IndexJob(
            IndexJobConfig(
                schema=schema, shards=2, micro_shards=4, dedup="none",
                routing="native", key_ranges=True, max_records_per_file=50,
            )
        ).build(df, out)
        idx = SearchIndex.open(spark, out)
        # "12" must match 12, 120..129 (string semantics) — numeric sidecar
        # pruning is bypassed, correctness preserved
        got = sorted(r["doc_id"] for r in idx.prefix_key("12").collect())
        assert got == [12] + list(range(120, 130))

    def test_string_key_numeric_bounds_skip_pruning(self, spark, artifact):
        # numeric bounds against a string key: Spark casts the COLUMN
        # (ANSI: errors loudly; legacy: numeric compare) — lexicographic
        # pruning would silently diverge, so the sidecar declines to prune
        ranges = load_key_ranges(spark, artifact)
        assert ranges.candidate_files_range(lo=100, hi=109) is None
        assert ranges.candidate_files([100]) is None

    def test_float_key_no_truncation(self, spark, tmp_path):
        out = str(tmp_path / "idx_float")
        schema = IndexSchema(
            fields=(Field("k", "double", required=True),), unique_key="k"
        )
        df = spark.range(0, 100).select((F.col("id") / 10.0).alias("k"))
        IndexJob(
            IndexJobConfig(
                schema=schema, shards=2, micro_shards=4, dedup="none",
                routing="native", key_ranges=True, max_records_per_file=25,
            )
        ).build(df, out)
        idx = SearchIndex.open(spark, out)
        # 3.5 sits INSIDE a segment whose bounds int() would truncate away
        rows = idx.get(3.5).collect()
        assert len(rows) == 1 and rows[0]["k"] == 3.5
        assert idx.key_range(3.5, 3.7).count() == 3

    def test_next_prefix_carry(self):
        from solr_map_reduce_spark.key_ranges import next_prefix

        assert next_prefix("abc") == "abd"
        assert next_prefix("ab" + chr(0x10FFFF)) == "ac"
        assert next_prefix(chr(0x10FFFF)) is None


class TestMutationRefresh:
    def test_merge_into_refreshes_new_keys_found(self, spark, tmp_path):
        out = str(tmp_path / "idx_merge")
        job = _job()
        job.build(_docs(spark), out)
        # new keys OUTSIDE every stored range: stale sidecar would miss them
        job.merge_into(_docs(spark, n=50, start=1000), out)
        idx = SearchIndex.open(spark, out)
        rows = idx.get("k01020").collect()
        assert len(rows) == 1 and rows[0]["val"] == 1020
        # and the sidecar has no dangling (pre-rewrite) file names
        ranges = load_key_ranges(spark, out)
        for s, files in ranges["shards"].items():
            for f in files:
                assert os.path.exists(os.path.join(out, f"shard={s}", f))

    def test_meta_bytes_are_stable(self, spark, tmp_path):
        # a full write and every subset refresh of the same artifact write
        # byte-equal _META.json: shard_rows is ordered by shard number
        out = str(tmp_path / "idx_meta")
        _job().build(_docs(spark), out)
        meta = os.path.join(out, "_key_ranges", "_META.json")
        write_key_ranges(spark, out)
        with open(meta, "rb") as f:
            full = f.read()
        assert list(json.loads(full)["shard_rows"]) == ["0", "1"]
        for shards in ([0], [1]):
            write_key_ranges(spark, out, shards=shards)
            with open(meta, "rb") as f:
                assert f.read() == full, shards

    def test_delete_where_refreshes(self, spark, tmp_path):
        out = str(tmp_path / "idx_del")
        job = _job()
        job.build(_docs(spark), out)
        n = job.delete_where(spark, out, F.col("id") == "k00100")
        assert n == 1
        idx = SearchIndex.open(spark, out)
        assert idx.get("k00100").count() == 0
        rows = idx.get("k00101").collect()  # stale names would error/miss
        assert len(rows) == 1 and rows[0]["val"] == 101

    def test_count_served_from_sidecar_stays_exact(self, spark, tmp_path):
        out = str(tmp_path / "idx_count")
        job = _job()
        job.build(_docs(spark), out)
        idx = SearchIndex.open(spark, out)
        assert idx.count() == 400 == idx.df().count()
        job.merge_into(_docs(spark, n=25, start=1000), out)
        assert SearchIndex.open(spark, out).count() == 425
        job.delete_where(spark, out, F.col("val") < 10)
        assert SearchIndex.open(spark, out).count() == 415

    def test_compact_recomputes(self, spark, tmp_path):
        out = str(tmp_path / "idx_compact")
        job = _job()
        job.build(_docs(spark), out)
        compact(spark, out, max_segments=1)
        from solr_map_reduce_spark.fs import LocalFS
        from solr_map_reduce_spark.key_ranges import sidecar_exists

        assert sidecar_exists(LocalFS(), out)
        ranges = load_key_ranges(spark, out)
        for files in ranges["shards"].values():
            assert len(files) == 1  # one segment per shard after compact
        idx = SearchIndex.open(spark, out)
        rows = idx.get("k00333").collect()
        assert len(rows) == 1 and rows[0]["val"] == 333


class TestReviewRegressions:
    def test_subset_write_without_sidecar_builds_full(self, spark, tmp_path):
        """write_key_ranges(shards=[0]) with NO existing sidecar must cover
        every shard — a partial sidecar would hide other shards' rows from
        pruned lookups and count()."""
        from solr_map_reduce_spark.key_ranges import write_key_ranges

        out = str(tmp_path / "idx_partial")
        _job(key_ranges=False).build(_docs(spark), out)
        write_key_ranges(spark, out, shards=[0])
        ranges = load_key_ranges(spark, out)
        assert set(ranges["shards"]) == {"0", "1"}  # both shards present
        idx = SearchIndex.open(spark, out)
        assert idx.count() == 400
        assert idx.get("k00399").count() == 1

    def test_nan_key_bound_never_hides_rows(self, spark, tmp_path):
        out = str(tmp_path / "idx_nan")
        schema = IndexSchema(
            fields=(Field("k", "double", required=True),), unique_key="k"
        )
        df = spark.createDataFrame(
            [(1.0,), (2.0,), (float("nan"),)], "k double"
        )
        IndexJob(
            IndexJobConfig(
                schema=schema, shards=1, dedup="none", routing="native",
                key_ranges=True,
            )
        ).build(df, out)
        ranges = load_key_ranges(spark, out)
        # the NaN-poisoned span still admits ordinary keys (superset rule)
        cands = ranges.candidate_files([2.0])
        assert cands, ranges
        idx = SearchIndex.open(spark, out)
        assert idx.get(2.0).count() == 1


class TestThirdReviewRegressions:
    def test_timestamp_key_refuses_pruning(self, tmp_path):
        ranges = _sidecar_at(str(tmp_path), "timestamp", [
            ["f0.parquet", "2020-01-05 23:00:00", "2020-01-06 00:00:00", 2],
        ])
        # Python string compare of serialized timestamps diverges from
        # Spark's typed compare ('T' vs ' ') — pruning must decline
        assert ranges.candidate_files(["2020-01-05T12:00"]) is None
        assert ranges.candidate_files_range(lo="2020-01-05T12:00") is None

    def test_get_many_narrows_to_routed_shards(self, spark, artifact):
        idx = SearchIndex.open(spark, artifact)
        keys = ["k00001", "k00399"]
        routed = {idx._shard_of(k) for k in keys}
        if None in routed:
            pytest.skip("solr routing unavailable")
        cands = load_key_ranges(spark, artifact).candidate_files(keys, shard=routed)
        assert cands and {s for s, _ in cands} <= routed

    def test_reader_delete_where_keeps_null_predicate_rows(self, spark, tmp_path):
        # SQL DELETE semantics: predicate NULL -> row kept (parity with
        # IndexJob.delete_where)
        out = str(tmp_path / "idx_nulldel")
        schema = IndexSchema(
            fields=(Field("id", "string", required=True), Field("tag", "string")),
            unique_key="id",
        )
        df = spark.createDataFrame(
            [("a", "xx"), ("b", None), ("c", "keep")], "id string, tag string"
        )
        IndexJob(
            IndexJobConfig(schema=schema, shards=2, dedup="none", key_ranges=True)
        ).build(df, out)
        idx = SearchIndex.open(spark, out)
        res = idx.delete_where(F.col("tag") == "xx", str(tmp_path / "idx_out"))
        ids = sorted(r["id"] for r in res.df().select("id").collect())
        assert ids == ["b", "c"]  # NULL-tag row survives
        # and the result carries a FRESH key-range sidecar (count + lookup)
        assert res.count() == 2
        assert res.get("b").count() == 1


class TestPartitionedSidecar:
    """Round-5 layout: per-shard span files (_key_ranges/shard_N.json,
    spans sorted for bisect) loaded lazily — per-lookup work is bounded by
    the admitted shard, not total file count; count() is O(1) from META."""

    def test_layout_on_disk(self, spark, artifact):
        base = os.path.join(artifact, "_key_ranges")
        assert os.path.isfile(os.path.join(base, "_META.json"))
        shard_files = [f for f in os.listdir(base) if f.startswith("shard_")]
        assert len(shard_files) == 2  # one span file per shard
        assert not os.path.exists(os.path.join(artifact, "_KEY_RANGES.json"))

    def test_point_lookup_loads_only_admitted_shard(self, spark, tmp_path):
        # artificially high segment count: 16 micro-shards, 10-row files
        out = str(tmp_path / "idx_many")
        _job(
            shards=4, micro_shards=16, max_records_per_file=10
        ).build(_docs(spark, n=800), out)
        ranges = load_key_ranges(spark, out)
        assert ranges.loaded_shards() == set()  # nothing read at open
        idx = SearchIndex.open(spark, out)
        routed = idx._shard_of("k00123")
        assert routed is not None
        hit = idx.get("k00123").collect()
        assert len(hit) == 1 and hit[0]["val"] == 123
        # the handle inside the SearchIndex loaded ONLY the routed shard's
        # span file — work bounded by the admitted shard, not total files
        assert idx._sidecar("key_ranges").loaded_shards() == {str(routed)}
        # and the admitted file set is tiny vs the artifact's segment count
        total_files = sum(
            len(os.listdir(os.path.join(out, d)))
            for d in os.listdir(out)
            if d.startswith("shard=")
        )
        assert total_files >= 20
        # ≤ micro-shards-per-shard files can admit a key (their spans
        # interleave within the shard) — far below the 20+ total
        assert 0 < len(idx.get("k00123").inputFiles()) <= 4

    def test_count_is_meta_only(self, spark, artifact):
        ranges = load_key_ranges(spark, artifact)
        assert ranges.total_rows() == 400
        assert ranges.loaded_shards() == set()  # no span file was read

    def test_bisect_matches_linear_walk(self, spark, artifact):
        ranges = load_key_ranges(spark, artifact)

        def linear(key):
            return sorted(
                (int(s), name)
                for s, files in ranges["shards"].items()
                for name, (lo, hi, _) in files.items()
                if lo <= key <= hi
            )

        for key in ("k00000", "k00123", "k00399", "zzz"):
            assert ranges.candidate_files([key]) == linear(key)

    def test_subset_refresh_rewrites_only_touched_span_files(self, spark, tmp_path):
        out = str(tmp_path / "idx_touch")
        job = _job()
        job.build(_docs(spark), out)
        base = os.path.join(out, "_key_ranges")
        before = {
            f: os.path.getmtime(os.path.join(base, f))
            for f in os.listdir(base)
            if f.startswith("shard_")
        }
        # route a one-key batch; merge_into refreshes shards=touched
        batch = _docs(spark, n=1, start=5000)
        routed = job.route(batch).select("shard").distinct().collect()
        touched = {str(r["shard"]) for r in routed}
        assert len(touched) == 1
        job.merge_into(batch, out)
        after = {
            f: os.path.getmtime(os.path.join(base, f))
            for f in os.listdir(base)
            if f.startswith("shard_")
        }
        for f in before:
            s = f[len("shard_"):-len(".json")]
            if s in touched:
                assert after[f] != before[f]  # rewritten
            else:
                assert after[f] == before[f]  # untouched span file intact

    def test_malformed_bounds_keep_file_superset(self, tmp_path):
        """ADVICE r4: a hand-edited sidecar entry with null/malformed
        bounds must not raise out of get()/key_range() — the file is kept
        (superset rule), matching the NaN-span handling."""
        ranges = _sidecar_at(str(tmp_path), "bigint", [
            ["ok.parquet", 10, 20, 5], ["bad.parquet", None, "x", 3],
        ])
        both = [(0, "bad.parquet"), (0, "ok.parquet")]
        assert ranges.candidate_files([15]) == both
        assert ranges.candidate_files([999]) == [(0, "bad.parquet")]
        assert ranges.candidate_files_range(lo=11, hi=12) == both


class TestFifthReviewRegressions:
    def test_missing_span_file_declines_pruning_not_empty(self, spark, tmp_path):
        """A torn sidecar (META lists a shard whose span file is gone) must
        fall back to the full scan — never an empty result."""
        out = str(tmp_path / "idx_torn")
        _job().build(_docs(spark), out)
        os.remove(os.path.join(out, "_key_ranges", "shard_1.json"))
        idx = SearchIndex.open(spark, out)
        found = sum(
            idx.get(f"k{i:05d}").count() for i in (0, 123, 250, 399)
        )
        assert found == 4  # every key still found
        assert idx.key_range("k00100", "k00119").count() == 20


class TestSixthReviewRegressions:
    def test_torn_shard_heals_on_subset_refresh(self, spark, tmp_path):
        """ADVICE r5 (medium): a touched-shard refresh over a TORN sidecar
        (an untouched shard's span file missing) must recompute that
        shard's spans from its parquet — the old code wrote an empty
        shard_N.json (shard_rows=0), turning the tear into permanent
        silent false negatives."""
        out = str(tmp_path / "idx_heal")
        job = _job()
        job.build(_docs(spark), out)
        batch = _docs(spark, n=1, start=9000)
        routed = {r["shard"] for r in job.route(batch).select("shard").distinct().collect()}
        assert len(routed) == 1
        torn = ({0, 1} - routed).pop()
        os.remove(os.path.join(out, "_key_ranges", f"shard_{torn}.json"))
        job.merge_into(batch, out)
        # the torn shard's span file was REGENERATED from parquet, not
        # synthesized empty
        with open(os.path.join(out, "_key_ranges", f"shard_{torn}.json")) as f:
            spans = json.load(f)["files"]
        assert spans, "torn shard must be recomputed, never written empty"
        with open(os.path.join(out, "_key_ranges", "_META.json")) as f:
            meta = json.load(f)
        assert int(meta["shard_rows"][str(torn)]) > 0
        idx = SearchIndex.open(spark, out)
        assert idx.count() == 401
        # every key routed to the formerly-torn shard is retrievable
        torn_keys = [
            f"k{i:05d}" for i in range(400)
            if idx._shard_of(f"k{i:05d}") == torn
        ][:3]
        assert torn_keys
        for k in torn_keys:
            assert idx.get(k).count() == 1, k

    def test_subset_refresh_never_opens_untouched_span_files(self, spark, tmp_path):
        """ADVICE r5 (low): the touched-shard refresh must be O(touched) in
        driver-side READS too — untouched shards contribute only their
        META row totals.  Proven by poisoning the untouched shard's span
        file with invalid JSON: any read would crash the refresh."""
        out = str(tmp_path / "idx_noread")
        job = _job()
        job.build(_docs(spark), out)
        batch = _docs(spark, n=1, start=9100)
        routed = {r["shard"] for r in job.route(batch).select("shard").distinct().collect()}
        assert len(routed) == 1
        untouched = ({0, 1} - routed).pop()
        with open(os.path.join(out, "_key_ranges", "_META.json")) as f:
            prior_rows = json.load(f)["shard_rows"]
        poison_path = os.path.join(out, "_key_ranges", f"shard_{untouched}.json")
        with open(poison_path, "w") as f:
            f.write("NOT JSON {{{")  # any json.loads on this file crashes
        job.merge_into(batch, out)  # must not read the poisoned file
        with open(poison_path) as f:
            assert f.read() == "NOT JSON {{{"  # ... and must not rewrite it
        with open(os.path.join(out, "_key_ranges", "_META.json")) as f:
            meta = json.load(f)
        # untouched shard's row total carried forward from the prior META
        assert meta["shard_rows"][str(untouched)] == prior_rows[str(untouched)]
        assert sum(int(n) for n in meta["shard_rows"].values()) == 401


# -- spans from the parquet footers -------------------------------------------

# key type -> (field type, the i-th key); every case holds negative or
# non-ASCII keys, and the double case a NaN
KEY_CASES = {
    "string": ("string", lambda i: f"{'kéß中'[i % 4]}{i:04d}"),
    "int": ("int", lambda i: i * 7 - 500),
    "bigint": ("long", lambda i: i * 10**12 - 7 * 10**13),
    "double": ("double", lambda i: float("nan") if i == 11 else i / 3.0 - 20.0),
    "decimal(7,2)": ("decimal(7,2)", lambda i: Decimal(i * 37 - 3000) / 100),
    "decimal(30,3)": ("decimal(30,3)", lambda i: Decimal(i * 10**9 - 37) / 1000),
    # 35 significant digits, past decimal's default 28-digit context: keys
    # alternately end in ...9999999 and ...0000001, so a bound rounded to
    # 28 digits would land above a file's true min or below its true max
    "decimal(38,3)": ("decimal(38,3)", lambda i: Decimal(
        f"{(10**27 + i) * 10**7 + (9_999_999 if i % 2 else 1)}E-3"
    )),
}


def _spark_spans(spark, path, key):
    """The oracle: Spark's per-file min/max/count of the key."""
    rows = (
        read_index(spark, path)
        .select(F.col("shard").alias("_s"), F.input_file_name().alias("_f"),
                F.col(key).alias("_k"))
        .groupBy("_s", "_f")
        .agg(F.min("_k"), F.max("_k"), F.count(F.lit(1)))
        .collect()
    )
    return {(str(r[0]), r[1].rsplit("/", 1)[-1]): [_plain(r[2]), _plain(r[3]), r[4]]
            for r in rows}


def _stored_spans(path):
    base = os.path.join(path, "_key_ranges")
    out = {}
    for name in os.listdir(base):
        if name.startswith("shard_"):
            shard = name[len("shard_"):-len(".json")]
            with open(os.path.join(base, name)) as fh:
                for f, lo, hi, n in json.load(fh)["files"]:
                    out[(shard, f)] = [_plain(lo), _plain(hi), n]
    return out


def _plain(v):
    # the sidecar stores decimals as strings; NaN never equals itself
    if isinstance(v, float) and v != v:
        return "NaN"
    return str(v) if isinstance(v, Decimal) else v


def _key_json(path):
    base = os.path.join(path, "_key_ranges")
    out = {}
    for name in sorted(os.listdir(base)):
        if name.endswith(".json") and not name.startswith("."):  # not checksums
            with open(os.path.join(base, name)) as fh:
                out[name] = fh.read()
    return out


class TestFooterSpans:
    @pytest.mark.parametrize("kt", sorted(KEY_CASES))
    def test_spans_equal_the_spark_aggregate(self, spark, tmp_path, kt):
        field_type, key_of = KEY_CASES[kt]
        out = str(tmp_path / "idx")
        schema = IndexSchema(
            fields=(Field("k", field_type, required=True), Field("val", "long")),
            unique_key="k",
        )
        df = spark.createDataFrame(
            [(key_of(i), i) for i in range(160)], f"k {kt}, val long"
        )
        IndexJob(IndexJobConfig(
            schema=schema, shards=2, micro_shards=4, dedup="none",
            routing="native", key_ranges=True, max_records_per_file=30,
        )).build(df, out)
        ranges = load_key_ranges(spark, out)
        assert ranges["key_type"] == kt
        spans = _stored_spans(out)
        assert len(spans) > 2 and all(lo is not None for lo, _, _ in spans.values())
        assert spans == _spark_spans(spark, out, "k")
        # the spans prune point lookups: every key is still found
        keys = [key_of(i) for i in range(160) if kt != "double" or i != 11]
        got = SearchIndex.open(spark, out).get_many(keys).collect()
        assert sorted(r["val"] for r in got) == [
            i for i in range(160) if kt != "double" or i != 11
        ]

    def test_file_without_key_statistics_gets_null_bounds(self, spark, artifact, tmp_path):
        import pyarrow.parquet as pq

        out = str(tmp_path / "idx")
        shutil.copytree(artifact, out)
        shard = os.path.join(out, "shard=0")
        name = sorted(f for f in os.listdir(shard) if f.endswith(".parquet"))[1]
        table = pq.ParquetFile(os.path.join(shard, name)).read()
        pq.write_table(table, os.path.join(shard, name), write_statistics=False)
        os.remove(os.path.join(shard, f".{name}.crc"))  # Spark's stale checksum
        write_key_ranges(spark, out)
        spans = _stored_spans(out)
        assert spans[("0", name)] == [None, None, table.num_rows]
        # every other file keeps the Spark aggregate's bounds
        oracle = _spark_spans(spark, out, "id")
        assert {f: v for f, v in spans.items() if f != ("0", name)} == {
            f: v for f, v in oracle.items() if f != ("0", name)
        }
        # the stats-less file is read for every query: answers stay exact
        keys = sorted(table.column("id").to_pylist())
        want = {k: int(k[1:]) for k in keys}
        idx = SearchIndex.open(spark, out)
        for k in (keys[0], keys[-1]):
            assert [r["val"] for r in idx.get(k).collect()] == [want[k]]
        assert {r["id"]: r["val"] for r in idx.get_many(keys).collect()} == want
        assert sorted(r["val"] for r in idx.key_range(keys[0], keys[-1]).collect()) == list(
            range(want[keys[0]], want[keys[-1]] + 1)
        )
        prefix = keys[0][:-1]
        assert sorted(r["id"] for r in idx.prefix_key(prefix).collect()) == [
            f"k{i:05d}" for i in range(400) if f"k{i:05d}".startswith(prefix)
        ]
        assert idx.count() == 400

    def test_file_uri_writes_the_same_json(self, spark, artifact, tmp_path):
        out = str(tmp_path / "idx")
        shutil.copytree(artifact, out)
        write_key_ranges(spark, out)
        plain = _key_json(out)
        write_key_ranges(spark, "file://" + os.path.abspath(out))
        assert _key_json(out) == plain
        for shards in ([0], [1]):
            write_key_ranges(spark, "file://" + os.path.abspath(out), shards=shards)
            assert _key_json(out) == plain
