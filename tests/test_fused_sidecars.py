"""write_search_sidecars (the one-pass full rebuild of blooms + BM25
stats/vocab) must produce sidecars IDENTICAL to the separate writers —
including on a text_general_rev field, where the bloom bitmaps must keep
the U+0001-marked reversed copies while the vocab/stats must ignore them
(the visibility filter commutes with the explode only because reversed
copies are distinct marked tokens)."""

import json
import os
import shutil

import pytest

from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
from solr_map_reduce_spark.schema import Field, IndexSchema
from solr_map_reduce_spark.search_stats import (
    load_search_stats,
    write_search_sidecars,
    write_search_stats,
)
from solr_map_reduce_spark.term_blooms import load_term_blooms, write_term_blooms

SCHEMA = IndexSchema(
    fields=(
        Field("id", "string", required=True),
        Field("text", "text_general"),
        Field("title", "text_general_rev"),  # emits marked reversed copies
    ),
    unique_key="id",
)


@pytest.fixture(scope="module")
def pairs(spark, tmp_path_factory):
    """The same bare artifact twice per bloom sizing: ``a`` gets the
    separate writers, ``b`` the fused one.  The inflated bits-per-term
    target makes the tiny corpus outgrow the 2^16 width floor, so both
    writers must pick the same width from the same per-shard distinct-term
    counts — the rev field's marked reversed copies DOUBLE its count on
    both alike."""
    import solr_map_reduce_spark.term_blooms as tb

    rows = [
        (str(i), f"alpha beta word{i % 7} " + ("target " * (i % 3)),
         f"title{i % 5} wildcard")
        for i in range(90)
    ]
    df = spark.createDataFrame(rows, "id string, text string, title string")
    job = IndexJob(
        IndexJobConfig(schema=SCHEMA, shards=4, dedup="none", routing="native")
    )
    out = []
    for bits in (tb._BLOOM_BITS_PER_TERM, 50_000):
        root = tmp_path_factory.mktemp(f"fusedidx{bits}")
        a, b = str(root / "a"), str(root / "b")
        job.build(df, a)  # no sidecar flags: writers run explicitly below
        shutil.copytree(a, b)
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(tb, "_BLOOM_BITS_PER_TERM", bits)
            write_term_blooms(spark, a)
            write_search_stats(spark, a)
            write_search_sidecars(spark, b)
        out.append((a, b))
    return out


def test_stats_identical(spark, pairs):
    for a, b in pairs:
        assert load_search_stats(spark, a) == load_search_stats(spark, b)


def test_blooms_identical_including_reversed_copies(spark, pairs):
    import solr_map_reduce_spark.term_blooms as tb

    widths = []
    for a, b in pairs:
        ba, bb = load_term_blooms(spark, a), load_term_blooms(spark, b)
        assert set(ba) == set(bb) == {"text", "title"}
        for f in ba:
            assert ba[f]["m"] == bb[f]["m"] and ba[f]["k"] == bb[f]["k"]
            assert dict(ba[f]["shards"]) == dict(bb[f]["shards"])
        widths.append(ba["text"]["m"])
    assert widths[0] == tb.DEFAULT_M < widths[1]  # the width actually grew


def _parquet_bytes(vocab_dir):
    """{bucket dir: sorted contents of its parquet files} — file names
    carry a per-write id, contents must not."""
    out = {}
    for d, _dirs, files in os.walk(vocab_dir):
        out[os.path.relpath(d, vocab_dir)] = sorted(
            open(os.path.join(d, f), "rb").read()
            for f in files if f.endswith(".parquet")
        )
    return out


def test_vocab_identical_rows_and_meta(spark, pairs):
    for a, b in pairs:
        for field in ("text", "title"):
            va = _parquet_bytes(os.path.join(a, "_vocab", field))
            vb = _parquet_bytes(os.path.join(b, "_vocab", field))
            assert va == vb and any(va.values())
            # the rev field's vocab must hold NO reversed-marked terms
            rows = spark.read.parquet(os.path.join(b, "_vocab", field)).collect()
            assert rows and not any(r["term"].startswith("\x01") for r in rows)
        meta_a = json.loads(
            open(os.path.join(a, "_vocab", "_VOCAB_META.json")).read()
        )
        meta_b = json.loads(
            open(os.path.join(b, "_vocab", "_VOCAB_META.json")).read()
        )
        assert meta_a == meta_b


def test_build_inner_routes_both_through_dispatcher(spark, tmp_path):
    """A build with both sidecar flags produces a complete, loadable pair
    through write_search_sidecars."""
    rows = [(str(i), "alpha beta gamma") for i in range(20)]
    df = spark.createDataFrame(rows, "id string, text string")
    path = str(tmp_path / "index")
    IndexJob(
        IndexJobConfig(
            schema=SCHEMA, shards=2, dedup="none", routing="native",
            term_blooms=True, search_stats=True,
        )
    ).build(df.withColumn("title", df.text), path)
    assert load_search_stats(spark, path)["text"]["n_docs"] == 20
    assert set(load_term_blooms(spark, path)) == {"text", "title"}
