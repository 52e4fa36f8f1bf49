"""Per-shard term Bloom pruning (term_blooms.py): results must be identical
to the unpruned scan (no false negatives by construction), the plan must
read fewer shard partitions for localized terms, and merge_into must
refresh touched shards' bitmaps."""

import pyspark.sql.functions as F
import pytest

from solr_map_reduce_spark.index_reader import SearchIndex
from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig, read_index
from solr_map_reduce_spark.schema import Field, IndexSchema
from solr_map_reduce_spark.term_blooms import candidate_shards, load_term_blooms

SCHEMA = IndexSchema(
    fields=(
        Field("id", "string", required=True),
        Field("text", "text_general"),
    ),
    unique_key="id",
)


def _cfg(**kw):
    return IndexJobConfig(**{
        "schema": SCHEMA, "shards": 4, "dedup": "none", "routing": "native",
        "term_blooms": True, **kw,
    })


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    # 200 docs of shared words + one rare term in exactly one doc
    rows = [(str(i), f"common filler words row{i}") for i in range(200)]
    rows.append(("rare-1", "common filler zanzibar unique"))
    df = spark.createDataFrame(rows, "id string, text string")
    path = str(tmp_path_factory.mktemp("bloomidx") / "index")
    IndexJob(_cfg()).build(df, path)
    return path


def test_sidecar_written_and_loadable(spark, built):
    blooms = load_term_blooms(spark, built)
    assert blooms is not None and "text" in blooms
    assert set(blooms["text"]["shards"]) <= {"0", "1", "2", "3"}
    assert blooms["text"]["m"] % 8 == 0


def test_rare_term_prunes_to_few_shards(spark, built):
    blooms = load_term_blooms(spark, built)
    shards = candidate_shards(spark, blooms, "text", ["zanzibar"], "all")
    assert shards is not None and 1 <= len(shards) < 4
    # common word: every shard admits it
    assert len(candidate_shards(spark, blooms, "text", ["common"], "all")) == 4
    # absent term: no shard admits it (modulo bloom false positives at this
    # tiny fill factor there are none)
    assert candidate_shards(spark, blooms, "text", ["notinthecorpus"], "all") == []


def test_results_identical_with_and_without_pruning(spark, built):
    idx = SearchIndex.open(spark, built)
    pruned = {r["id"] for r in idx.contains_all(["zanzibar"]).collect()}
    assert pruned == {"rare-1"}
    # phrase + any paths
    assert {r["id"] for r in idx.phrase("zanzibar unique").collect()} == {"rare-1"}
    got_any = {r["id"] for r in idx.contains_any(["zanzibar", "row5"]).collect()}
    assert got_any == {"rare-1", "5"}
    # absent term -> empty, not an error
    assert idx.contains_all(["notinthecorpus"]).count() == 0


def test_plan_has_partition_pruning_for_rare_term(spark, built):
    idx = SearchIndex.open(spark, built)
    plan = (
        idx.contains_all(["zanzibar"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "shard" in plan


def test_merge_into_refreshes_touched_shard_bitmaps(spark, built, tmp_path):
    import shutil

    path = str(tmp_path / "index")
    shutil.copytree(built, path)
    idx = SearchIndex.open(spark, path)
    assert idx.contains_all(["quetzalcoatl"]).count() == 0

    add = spark.createDataFrame(
        [("new-1", "common quetzalcoatl arrives")], "id string, text string"
    )
    IndexJob(_cfg()).merge_into(add, path)
    # fresh handle (bloom cache per instance)
    idx2 = SearchIndex.open(spark, path)
    assert {r["id"] for r in idx2.contains_all(["quetzalcoatl"]).collect()} == {"new-1"}
    blooms = load_term_blooms(spark, path)
    assert candidate_shards(spark, blooms, "text", ["quetzalcoatl"], "all")


def test_no_sidecar_means_full_scan_same_results(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", "alpha beta"), ("b", "gamma delta")], "id string, text string"
    )
    path = str(tmp_path / "nobloom")
    cfg = IndexJobConfig(schema=SCHEMA, shards=2, dedup="none", routing="native")
    IndexJob(cfg).build(df, path)
    idx = SearchIndex.open(spark, path)
    assert {r["id"] for r in idx.contains_all(["gamma"]).collect()} == {"b"}


def _touching(spark, shard: int):
    """A one-document merge batch routed to ``shard``."""
    ids = spark.createDataFrame([(f"probe{i}", "") for i in range(64)],
                                "id string, text string")
    job = IndexJob(_cfg())
    key = next(r["id"] for r in job.route(ids).collect() if r["shard"] == shard)
    return spark.createDataFrame([(key, "common filler fresh")], "id string, text string")


def _shard_row(spark, path, shard: int):
    """One stored document of ``shard``, as a merge batch."""
    got = read_index(spark, path).filter(F.col("shard") == shard).select("id", "text")
    return spark.createDataFrame(got.limit(1).collect(), "id string, text string")


def test_write_term_blooms_subset_merges(spark, built, tmp_path):
    """A merge touching one shard rewrites that shard's bitmap only and
    merges it into the sidecar: every other bitmap is kept as it was."""
    import shutil

    path = str(tmp_path / "index2")
    shutil.copytree(built, path)
    before = load_term_blooms(spark, path)["text"]["shards"]
    IndexJob(_cfg()).merge_into(_touching(spark, 0), path)
    after = load_term_blooms(spark, path)["text"]["shards"]
    assert set(after) == set(before)  # untouched shards preserved
    assert after["0"] != before["0"]  # the touched one gained "fresh"
    for s in before:
        if s != "0":
            assert after[s] == before[s]


@pytest.mark.slow  # randomized scale variant; deterministic no-false-negative contract covered by the rare-term/identical-results tests
def test_no_false_negatives_randomized(spark, tmp_path):
    """Property: for every term actually present in some shard, that shard
    must be in the candidate set (Bloom guarantees it; this guards the
    query-side position computation staying bit-identical to build-side)."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(120)]
    rows = [
        (str(i), " ".join(rng.sample(vocab, rng.randrange(3, 12))))
        for i in range(150)
    ]
    df = spark.createDataFrame(rows, "id string, text string")
    path = str(tmp_path / "fuzzidx")
    IndexJob(_cfg()).build(df, path)
    blooms = load_term_blooms(spark, path)

    from solr_map_reduce_spark.indexing import read_index

    truth = {}
    for r in read_index(spark, path).select("shard", "text__tokens").collect():
        for t in set(r["text__tokens"]):
            truth.setdefault(t, set()).add(int(r["shard"]))
    for term in rng.sample(sorted(truth), 40):
        cand = set(candidate_shards(spark, blooms, "text", [term], "all"))
        assert truth[term] <= cand, f"false negative for {term}"


def test_subset_refresh_auto_adopts_stored_params(spark, tmp_path, monkeypatch):
    """The refresh a merge runs ADOPTS the stored sidecar's (m, k) instead
    of re-sizing with an O(corpus) full rebuild on every delta touch:
    touched shards are recomputed at the stored width, untouched bitmaps
    survive byte-for-byte, and every shard stays present (no query false
    negatives)."""
    from solr_map_reduce_spark import term_blooms as tb

    out = str(tmp_path / "idx")
    df = spark.range(0, 200).select(
        F.col("id").cast("string").alias("id"),
        F.concat(F.lit("tok"), (F.col("id") % 7).cast("string")).alias("text"),
    )
    IndexJob(
        IndexJobConfig(schema=SCHEMA, shards=4, micro_shards=8, dedup="none")
    ).build(df, out)
    monkeypatch.setattr(tb, "_BLOOM_BITS_PER_TERM", 50_000)
    before = tb.write_term_blooms(spark, out)["text"]  # non-default width
    monkeypatch.undo()
    assert before["m"] > tb.DEFAULT_M
    # a row of shard 0 rewritten with the terms it already held
    row = _shard_row(spark, out, 0)
    IndexJob(_cfg(micro_shards=8, routing="solr")).merge_into(row, out)
    info = tb.load_term_blooms(spark, out)["text"]
    assert info["m"] == before["m"] and info["k"] == before["k"]
    assert set(info["shards"]) == {"0", "1", "2", "3"}
    for s, bm in before["shards"].items():
        if s != "0":
            assert info["shards"][s] == bm  # untouched bitmaps preserved
    # same data re-hashed at the same params: shard 0's bitmap is unchanged
    assert info["shards"]["0"] == before["shards"]["0"]


def test_auto_bloom_m_sizing():
    """Floor, cap, power-of-two, and the bits-per-term scaling of the
    adaptive width."""
    from solr_map_reduce_spark.term_blooms import (
        DEFAULT_M,
        MAX_M,
        _auto_bloom_m,
    )

    assert _auto_bloom_m(0) == DEFAULT_M
    assert _auto_bloom_m(4096) == DEFAULT_M  # 4096*16 == 2^16, floor holds
    assert _auto_bloom_m(4097) == 1 << 17
    assert _auto_bloom_m(1_000_000) == 1 << 24  # 16M bits for 1M terms
    assert _auto_bloom_m(10**12) == MAX_M  # capped, graceful FP degradation
    m = _auto_bloom_m(123_456)
    assert m & (m - 1) == 0 and DEFAULT_M <= m <= MAX_M


@pytest.mark.slow  # 20k-term scale variant; sizing arithmetic + both-path byte-equality covered fast
def test_adaptive_m_above_gate_no_false_negatives(spark, tmp_path):
    """A full rebuild sizes m from the observed per-shard distinct-term
    count (> DEFAULT_M when the target calls for it), candidate_shards
    serves from the stored width, and the Bloom no-false-negative guarantee
    holds for every present term."""
    import pyspark.sql.functions as F

    from solr_map_reduce_spark import term_blooms as tb
    from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig, read_index
    from solr_map_reduce_spark.schema import Field, IndexSchema

    schema = IndexSchema(
        fields=(Field("id", "string", required=True), Field("text", "text_general")),
        unique_key="id",
    )
    out = str(tmp_path / "idx")
    # 20k distinct terms over 2 shards (~10k/shard): 10k*16 bits > 2^16,
    # so the adaptive width must grow past the floor
    df = spark.range(0, 20000).select(
        F.col("id").cast("string").alias("id"),
        F.concat(F.lit("term"), F.col("id").cast("string")).alias("text"),
    )
    IndexJob(
        IndexJobConfig(schema=schema, shards=2, micro_shards=4, dedup="none")
    ).build(df, out)
    sidecar = tb.write_term_blooms(spark, out)
    info = sidecar["text"]
    # the observed per-shard max (~10k terms) needs > 2^16 bits at
    # 16 bits/term, so the width grew past the floor and stayed a power
    # of two under the cap
    assert info["m"] > tb.DEFAULT_M
    assert info["m"] & (info["m"] - 1) == 0 and info["m"] <= tb.MAX_M
    blooms = tb.load_term_blooms(spark, out)
    # no false negatives: every sampled present term must include its shard
    from solr_map_reduce_spark.indexing import SHARD_COL, read_index

    rows = (
        read_index(spark, out)
        .select(F.col(SHARD_COL).alias("s"), F.explode("text__tokens").alias("t"))
        .distinct()
        .limit(200)
        .collect()
    )
    assert rows
    for r in rows:
        cand = tb.candidate_shards(spark, blooms, "text", [r["t"]], "all")
        assert cand is not None and int(r["s"]) in cand


def test_adopted_refresh_warns_on_saturated_width(spark, tmp_path, monkeypatch):
    """The adopted refresh a merge runs re-checks saturation: a stored
    width under half the bits-per-term target for the touched shards'
    distinct-term count warns loudly (a width that silently decays to a
    false-positive rate near 1), while a healthy width stays silent."""
    import warnings

    import solr_map_reduce_spark.term_blooms as tb

    out = str(tmp_path / "idx")
    # ~600 distinct terms over 4 shards (~150+/shard)
    df = spark.range(0, 600).select(
        F.col("id").cast("string").alias("id"),
        F.concat(F.lit("term"), F.col("id").cast("string")).alias("text"),
    )
    job = IndexJob(_cfg(micro_shards=8, routing="solr"))
    job.build(df, out)
    row = _shard_row(spark, out, 0)
    # healthy width: DEFAULT_M (2^16) over ~150 terms/shard -> silent
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        job.merge_into(row, out)
    # saturate: a target of 50k bits/term leaves the stored 2^16 width far
    # under half of it for ~150 terms/shard, as a corpus that outgrew its
    # width would
    monkeypatch.setattr(tb, "_BLOOM_BITS_PER_TERM", 50_000)
    with pytest.warns(UserWarning, match="bits/term .* shard pruning is degrading"):
        job.merge_into(row, out)
    # the adopted refresh still merged correctly despite the warning
    info = load_term_blooms(spark, out)["text"]
    assert info["m"] == tb.DEFAULT_M and set(info["shards"]) == {"0", "1", "2", "3"}
