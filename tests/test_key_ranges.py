"""Per-segment key spans (key_ranges.py): file pruning for point lookups
and ``count()``, read from the parquet footers at query time — the Lucene
per-segment term-dictionary cost model over the sharded parquet artifact.
Spark's per-file aggregate is the spans' oracle, and no mutation can leave
them stale: nothing but the data files holds them."""

import json
import os
import shutil
from collections import Counter
from decimal import Decimal

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import TimestampType

from solr_map_reduce_spark.fs import LocalFS
from solr_map_reduce_spark.index_reader import SearchIndex
from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig, compact, read_index
from solr_map_reduce_spark.key_ranges import (
    KeyRanges,
    _ShardSpans,
    load_key_ranges,
    write_key_ranges,
)
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
        max_records_per_file=40,
    )
    cfg.update(over)
    return IndexJob(IndexJobConfig(**cfg))


def _docs(spark, n=400, start=0):
    return spark.range(start, start + n).select(
        F.format_string("k%05d", F.col("id")).alias("id"),
        F.col("id").alias("val"),
    )


def _spans(ranges):
    """Every shard's spans, loaded through the handle:
    ``{(shard, file): [lo, hi, rows]}``."""
    return {
        (s, name): [lo, hi, n]
        for s in range(ranges._shards)
        for name, lo, hi, n in ranges._load_spans(s).files
    }


def _parquet_files(path):
    """(shard, file) of every data file on disk."""
    return {
        (int(d.split("=", 1)[1]), f)
        for d in os.listdir(path) if d.startswith("shard=")
        for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")
    }


@pytest.fixture(scope="module")
def artifact(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("kr") / "idx")
    _job().build(_docs(spark), out)
    return out


class TestSidecar:
    def test_sidecar_covers_every_segment_file(self, spark, artifact):
        ranges = load_key_ranges(spark, artifact)
        assert ranges.key_type == "string"
        listed = _parquet_files(artifact)
        assert set(_spans(ranges)) == listed and len(listed) > 2  # multi-segment

    def test_ranges_are_sorted_key_spans(self, spark, artifact):
        for lo, hi, n in _spans(load_key_ranges(spark, artifact)).values():
            assert lo <= hi and n > 0

    def test_candidate_files_narrow(self, spark, artifact):
        cands = load_key_ranges(spark, artifact).candidate_files(["k00007"])
        assert 0 < len(cands) < len(_parquet_files(artifact))


class TestPrunedLookup:
    def test_get_reads_only_admitted_files(self, spark, artifact):
        idx = SearchIndex.open(spark, artifact)
        hit = idx.get("k00123")
        rows = hit.collect()
        assert len(rows) == 1 and rows[0]["val"] == 123
        assert 0 < len(hit.inputFiles()) < len(_parquet_files(artifact))

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
        # native routing has no driver-side shard math — the spans alone
        # restore point-lookup pruning
        out = str(tmp_path / "idx_native")
        _job(routing="native").build(_docs(spark), out)
        idx = SearchIndex.open(spark, out)
        hit = idx.get("k00042")
        assert [r["val"] for r in hit.collect()] == [42]
        assert 0 < len(hit.inputFiles()) < len(_parquet_files(out))

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
                routing="native", max_records_per_file=50,
            )
        ).build(df, out)
        idx = SearchIndex.open(spark, out)
        assert load_key_ranges(spark, out).key_type == "bigint"
        rows = idx.get(137).collect()
        assert len(rows) == 1 and rows[0]["val"] == 274
        assert 0 < len(idx.get(137).inputFiles()) < len(_parquet_files(out))


class TestRangeAndPrefixScan:
    def test_key_range_pruned_and_exact(self, spark, artifact):
        idx = SearchIndex.open(spark, artifact)
        out = idx.key_range("k00100", "k00119")
        vals = sorted(r["val"] for r in out.collect())
        assert vals == list(range(100, 120))
        assert 0 < len(out.inputFiles()) < len(_parquet_files(artifact))

    def test_key_range_open_bounds(self, spark, artifact):
        idx = SearchIndex.open(spark, artifact)
        assert idx.key_range(lo="k00390").count() == 10
        assert idx.key_range(hi="k00009").count() == 10
        assert idx.key_range().count() == 400

    def test_prefix_scan(self, spark, artifact):
        idx = SearchIndex.open(spark, artifact)
        out = idx.prefix_key("k0039")
        assert sorted(r["val"] for r in out.collect()) == list(range(390, 400))
        assert 0 < len(out.inputFiles()) < len(_parquet_files(artifact))

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
        assert 0 < len(hits.inputFiles()) < len(_parquet_files(out))

    def test_numeric_key_prefix_not_pruned_but_correct(self, spark, tmp_path):
        out = str(tmp_path / "idx_num_prefix")
        schema = IndexSchema(
            fields=(Field("doc_id", "long", required=True),), unique_key="doc_id"
        )
        df = spark.range(0, 200).select(F.col("id").alias("doc_id"))
        IndexJob(
            IndexJobConfig(
                schema=schema, shards=2, micro_shards=4, dedup="none",
                routing="native", max_records_per_file=50,
            )
        ).build(df, out)
        idx = SearchIndex.open(spark, out)
        # "12" must match 12, 120..129 (string semantics) — numeric span
        # pruning is bypassed, correctness preserved
        got = sorted(r["doc_id"] for r in idx.prefix_key("12").collect())
        assert got == [12] + list(range(120, 130))

    def test_string_key_numeric_bounds_skip_pruning(self, spark, artifact):
        # numeric bounds against a string key: Spark casts the COLUMN
        # (ANSI: errors loudly; legacy: numeric compare) — lexicographic
        # pruning would silently diverge, so the spans decline to prune
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
                routing="native", max_records_per_file=25,
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
        # new keys OUTSIDE every earlier span: stale spans would miss them
        job.merge_into(_docs(spark, n=50, start=1000), out)
        idx = SearchIndex.open(spark, out)
        rows = idx.get("k01020").collect()
        assert len(rows) == 1 and rows[0]["val"] == 1020
        # and the spans name exactly the post-rewrite files
        assert set(_spans(load_key_ranges(spark, out))) == _parquet_files(out)

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
        per_shard = Counter(s for s, _ in _spans(load_key_ranges(spark, out)))
        assert per_shard == {0: 1, 1: 1}  # one segment per shard after compact
        idx = SearchIndex.open(spark, out)
        rows = idx.get("k00333").collect()
        assert len(rows) == 1 and rows[0]["val"] == 333


class TestReviewRegressions:
    def test_subset_write_without_sidecar_builds_full(self, spark, tmp_path):
        """``write_key_ranges`` (a subset call included) is a no-op that
        writes nothing, and an artifact no writer ever touched still has
        spans for every shard: they come from its footers."""
        out = str(tmp_path / "idx_partial")
        _job().build(_docs(spark), out)
        before = sorted(os.listdir(out))
        write_key_ranges(spark, out, shards=[0])
        assert sorted(os.listdir(out)) == before
        assert {s for s, _ in _spans(load_key_ranges(spark, out))} == {0, 1}
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
            IndexJobConfig(schema=schema, shards=1, dedup="none", routing="native")
        ).build(df, out)
        ranges = load_key_ranges(spark, out)
        # the NaN-poisoned span still admits ordinary keys (superset rule)
        cands = ranges.candidate_files([2.0])
        assert cands, _spans(ranges)
        idx = SearchIndex.open(spark, out)
        assert idx.get(2.0).count() == 1


class TestThirdReviewRegressions:
    def test_timestamp_key_refuses_pruning(self, tmp_path):
        ranges = KeyRanges(LocalFS(), str(tmp_path), "k", TimestampType(), 1)
        # Python string compare of timestamps diverges from Spark's typed
        # compare ('T' vs ' ') — pruning must decline, before any footer
        # is read
        assert ranges.candidate_files(["2020-01-05T12:00"]) is None
        assert ranges.candidate_files_range(lo="2020-01-05T12:00") is None
        assert ranges.loaded_shards() == set()

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
        IndexJob(IndexJobConfig(schema=schema, shards=2, dedup="none")).build(df, out)
        idx = SearchIndex.open(spark, out)
        res = idx.delete_where(F.col("tag") == "xx", str(tmp_path / "idx_out"))
        ids = sorted(r["id"] for r in res.df().select("id").collect())
        assert ids == ["b", "c"]  # NULL-tag row survives
        # and the result's count and lookups come from its own footers
        assert res.count() == 2
        assert res.get("b").count() == 1


class TestPartitionedSidecar:
    """Spans load per shard, lazily: per-lookup work is bounded by the
    admitted shard, not total file count."""

    def test_layout_on_disk(self, spark, artifact):
        # the spans live in the footers only: the artifact holds no
        # key-range file, in this layout or an older one
        assert not os.path.exists(os.path.join(artifact, "_key_ranges"))
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
        # the handle inside the SearchIndex read ONLY the routed shard's
        # footers — work bounded by the admitted shard, not total files
        assert idx._sidecar("key_ranges").loaded_shards() == {routed}
        # and the admitted file set is tiny vs the artifact's segment count
        assert len(_parquet_files(out)) >= 20
        # ≤ micro-shards-per-shard files can admit a key (their spans
        # interleave within the shard) — far below the 20+ total
        assert 0 < len(idx.get("k00123").inputFiles()) <= 4

    def test_count_is_meta_only(self, spark, artifact):
        # count() reads the footers' row counts: parquet metadata only,
        # no data page and no Spark job
        sc = spark.sparkContext
        sc.setJobGroup("kr-count", "kr-count")
        try:
            ranges = load_key_ranges(spark, artifact)
            assert ranges.total_rows() == 400
        finally:
            sc.setJobGroup("default", "")
        assert sc.statusTracker().getJobIdsForGroup("kr-count") == []
        assert ranges.loaded_shards() == {0, 1}

    def test_bisect_matches_linear_walk(self, spark, artifact):
        ranges = load_key_ranges(spark, artifact)
        spans = _spans(ranges)

        def linear(key):
            return sorted(f for f, (lo, hi, _) in spans.items() if lo <= key <= hi)

        for key in ("k00000", "k00123", "k00399", "zzz"):
            assert ranges.candidate_files([key]) == linear(key)

    def test_malformed_bounds_keep_file_superset(self):
        """A file whose bounds are null or cannot be coerced is kept for
        every query (superset rule), matching the NaN-span handling — for a
        decimal key too, whose malformed bound raises an ArithmeticError."""
        spans = _ShardSpans("bigint", [
            ("ok.parquet", 10, 20, 5), ("bad.parquet", None, "x", 3),
        ])
        assert sorted(spans.stab(15)) == ["bad.parquet", "ok.parquet"]
        assert spans.stab(999) == ["bad.parquet"]
        assert sorted(spans.overlap(11, 12, False)) == ["bad.parquet", "ok.parquet"]
        dec = _ShardSpans("decimal(7,2)", [
            ("ok.parquet", Decimal("1.00"), Decimal("2.00"), 5),
            ("bad.parquet", None, None, 3),
        ])
        assert sorted(dec.stab(Decimal("1.50"))) == ["bad.parquet", "ok.parquet"]
        assert dec.stab(Decimal("9.00")) == ["bad.parquet"]


class TestStaleSidecarOnDisk:
    def test_planted_key_ranges_dir_changes_no_answer(self, spark, artifact, tmp_path):
        """A ``_key_ranges/`` left on disk (here doctored: every shard's row
        total 0, every span file empty) is never read: counts and lookups
        equal those of a copy without it, before and after a merge."""
        planted, clean = str(tmp_path / "planted"), str(tmp_path / "clean")
        shutil.copytree(artifact, planted)
        shutil.copytree(artifact, clean)
        base = os.path.join(planted, "_key_ranges")
        os.makedirs(base)
        for s in (0, 1):
            with open(os.path.join(base, f"shard_{s}.json"), "w") as fh:
                json.dump({"files": []}, fh)
        with open(os.path.join(base, "_META.json"), "w") as fh:
            json.dump({"format": 2, "key_type": "string",
                       "shard_rows": {"0": 0, "1": 0}}, fh)

        def rows(df):
            return sorted((r["id"], r["val"]) for r in df.collect())

        def answers(path):
            idx = SearchIndex.open(spark, path)
            return {
                "count": idx.count(),
                "get": [rows(idx.get(k)) for k in ("k00000", "k00123", "k00399", "k01007")],
                "get_many": rows(idx.get_many(["k00001", "k00250", "k01003"])),
                "key_range": rows(idx.key_range("k00100", "k00119")),
                "prefix_key": rows(idx.prefix_key("k0039")),
            }

        want = answers(clean)
        assert want["count"] == 400 and want["key_range"]
        assert answers(planted) == want
        for path in (planted, clean):
            _job().merge_into(_docs(spark, n=10, start=1000), path)
        want = answers(clean)
        assert want["count"] == 410 and want["get"][3] == [("k01007", 1007)]
        assert answers(planted) == want


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
    return {(r[0], r[1].rsplit("/", 1)[-1]): [_plain(r[2]), _plain(r[3]), r[4]]
            for r in rows}


def _loaded_spans(spark, path):
    return {f: [_plain(lo), _plain(hi), n]
            for f, (lo, hi, n) in _spans(load_key_ranges(spark, path)).items()}


def _plain(v):
    # NaN never equals itself
    return "NaN" if isinstance(v, float) and v != v else v


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
            routing="native", max_records_per_file=30,
        )).build(df, out)
        assert load_key_ranges(spark, out).key_type == kt
        spans = _loaded_spans(spark, out)
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
        spans = _loaded_spans(spark, out)
        assert spans[(0, name)] == [None, None, table.num_rows]
        # every other file keeps the Spark aggregate's bounds
        oracle = _spark_spans(spark, out, "id")
        assert {f: v for f, v in spans.items() if f != (0, name)} == {
            f: v for f, v in oracle.items() if f != (0, name)
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

    def test_file_uri_reads_the_same_spans(self, spark, artifact):
        plain = _loaded_spans(spark, artifact)
        assert plain == _loaded_spans(spark, "file://" + os.path.abspath(artifact))
        uri = load_key_ranges(spark, "file://" + os.path.abspath(artifact))
        assert type(uri._fs).__name__ == "HadoopFS"
        for shard in (0, 1):
            assert (uri.candidate_files(["k00123"], shard=shard)
                    == load_key_ranges(spark, artifact).candidate_files(["k00123"], shard=shard))
