"""The term sidecars (term Blooms + BM25 stats/``_vocab``) against an
independent oracle: the artifact's rows are collected and each field's
statistics, visible-term dfs and per-shard term sets are computed in
Python; the expected bitmaps set the driver-side XXH64 positions
(``_term_positions``) of every term a shard holds.  Checked after a build,
``merge_into``, ``update_fields`` and a torn-stats rebuild (exact), and
after ``delete_where`` (the stats exact, the bitmaps a superset), on a
``text_general_rev`` field whose reversed copies the Blooms keep and the
stats drop, at the default and at an inflated bits-per-term target.
Also: the one vocab writer against the df-delta join it replaced, and a
structural guard that one pass explodes the stored tokens."""

import ast
import base64
import os
import shutil
import warnings
import zlib

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

import solr_map_reduce_spark.term_blooms as tb
from solr_map_reduce_spark import search_stats
from solr_map_reduce_spark.extensions.search import REV_MARK
from solr_map_reduce_spark.fs import get_fs
from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig, read_index
from solr_map_reduce_spark.schema import Field, IndexSchema
from solr_map_reduce_spark.search_stats import load_search_stats, load_vocab_meta

SCHEMA = IndexSchema(
    fields=(
        Field("id", "string", required=True),
        Field("text", "text_general"),
        Field("title", "text_general_rev"),  # emits marked reversed copies
    ),
    unique_key="id",
)
COLS = "id string, text string, title string"
FIELDS = {"text": "text__tokens", "title": "title__tokens"}
WIDE = 50_000  # bits per term: the tiny corpus outgrows the 2^16 floor


def _job():
    return IndexJob(IndexJobConfig(
        schema=SCHEMA, shards=4, dedup="none", routing="native",
        term_blooms=True, search_stats=True,
    ))


def _rows(ids, marker=""):
    return [
        (str(i), f"alpha beta word{i % 7} {marker} " + ("target " * (i % 3)),
         f"title{i % 5} wildcard {marker}")
        for i in ids
    ]


@pytest.fixture(scope="module", params=["default", "wide"])
def built(request, spark, tmp_path_factory):
    bits = WIDE if request.param == "wide" else tb._BLOOM_BITS_PER_TERM
    path = str(tmp_path_factory.mktemp(f"terms_{request.param}") / "idx")
    rows = _rows(range(90)) + [("blank", "", None)]
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(tb, "_BLOOM_BITS_PER_TERM", bits)
        _job().build(spark.createDataFrame(rows, COLS), path)
    return path, bits


@pytest.fixture
def artifact(built, tmp_path, monkeypatch):
    path, bits = built
    out = str(tmp_path / "idx")
    shutil.copytree(path, out)
    monkeypatch.setattr(tb, "_BLOOM_BITS_PER_TERM", bits)
    return out


def _oracle(spark, path):
    """Per field: the BM25 scalars, the visible-term dfs and each shard's
    full term set (reversed copies included), from the collected rows."""
    rows = read_index(spark, path).select("shard", *FIELDS.values()).collect()
    out = {}
    for field, col in FIELDS.items():
        stats = {"n_docs": len(rows), "sum_dl": 0, "n_dl": 0}
        dfs, shards = {}, {}
        for r in rows:
            toks = r[col]
            if toks is None:
                continue
            visible = [t for t in toks if not t.startswith(REV_MARK)]
            stats["sum_dl"] += len(visible)
            stats["n_dl"] += 1
            for t in set(visible):
                dfs[t] = dfs.get(t, 0) + 1
            if toks:
                shards.setdefault(str(r["shard"]), set()).update(toks)
        out[field] = stats, dfs, shards
    return out


def _bitmap(terms, m, k):
    bm = bytearray(m // 8)
    for t in terms:
        for p in tb._term_positions(t, m, k):
            bm[p // 8] |= 1 << (p % 8)
    return bytes(bm)


def _bucket_rows(bdir):
    """A bucket dir's ``(term, df)`` rows: one term-sorted file (for
    prefix seeks) whose ``df`` is a non-nullable bigint."""
    files = [f for f in os.listdir(bdir) if f.endswith(".parquet")]
    assert len(files) == 1, (bdir, files)
    table = pq.read_table(os.path.join(bdir, files[0]))
    df = table.schema.field("df")
    assert str(df.type) == "int64" and not df.nullable
    terms = table.column("term").to_pylist()
    assert terms == sorted(terms)
    return dict(zip(terms, table.column("df").to_pylist()))


def _stored_vocab(path, field, n_buckets):
    """The stored ``(term, df)`` rows; every row sits in its term's bucket."""
    vocab = {}
    root = os.path.join(path, "_vocab", field)
    for bdir in os.listdir(root):
        if bdir.startswith("bucket="):
            rows = _bucket_rows(os.path.join(root, bdir))
            assert {zlib.crc32(t.encode("utf-8")) % n_buckets for t in rows} == {int(bdir[7:])}
            vocab.update(rows)
    return vocab


def _check(spark, path, m_want, exact=True):
    """The stored sidecars equal the oracle; with ``exact`` False the
    bitmaps only need to be a superset of it."""
    oracle = _oracle(spark, path)
    stats = load_search_stats(spark, path)
    blooms = tb.load_term_blooms(spark, path)
    n_buckets = load_vocab_meta(get_fs(path, spark), path)["n_buckets"]
    assert set(stats) == set(blooms) == set(FIELDS)
    for field, (scalars, dfs, shard_terms) in oracle.items():
        assert stats[field] == scalars
        assert _stored_vocab(path, field, n_buckets) == dfs
        info = blooms[field]
        m, k = info["m"], info["k"]
        assert (m, k) == (m_want[field], tb.DEFAULT_K)
        stored = {s: base64.b64decode(b) for s, b in info["shards"].items()}
        want = {s: _bitmap(ts, m, k) for s, ts in shard_terms.items()}
        if exact:
            assert stored == want
        else:
            assert set(want) <= set(stored)
            for s, bm in want.items():
                assert all(a & ~b == 0 for a, b in zip(bm, stored[s])), s
    # the rev field's dictionary holds no reversed copy, its Blooms do
    assert not any(t.startswith(REV_MARK) for t in oracle["title"][1])
    assert any(t.startswith(REV_MARK) for ts in oracle["title"][2].values() for t in ts)


def _sized(spark, path):
    """The width a full write gives each field: sized from the largest
    per-shard distinct-term count."""
    return {field: tb._auto_bloom_m(max(map(len, shards.values()), default=0))
            for field, (_s, _d, shards) in _oracle(spark, path).items()}


def test_build_matches_the_oracle(spark, artifact):
    m = _sized(spark, artifact)
    _check(spark, artifact, m)
    if tb._BLOOM_BITS_PER_TERM == WIDE:
        assert m["text"] > tb.DEFAULT_M and m["title"] > tb.DEFAULT_M
    else:
        assert m == {"text": tb.DEFAULT_M, "title": tb.DEFAULT_M}


def _merge(spark, path):
    _job().merge_into(spark.createDataFrame(
        _rows([3, 95, 96], "zzmerge") + [("4", "only text now", None)], COLS), path)


def _update(spark, path):
    _job().update_fields(spark.createDataFrame(
        [("5", "fresh zzupdate", "new title"), ("6", "", "zztitle")], COLS), path)


def _torn(spark, path):
    shutil.rmtree(os.path.join(path, "_vocab", "title"))
    _merge(spark, path)


@pytest.mark.parametrize("mutate", [_merge, _update, _torn],
                         ids=["merge_into", "update_fields", "torn_stats"])
def test_mutation_matches_the_oracle(spark, artifact, mutate):
    # a merge or an update adopts the stored widths; the torn-stats
    # rebuild is a full write, which sizes them again
    stored = {f: info["m"] for f, info in tb.load_term_blooms(spark, artifact).items()}
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # an adopted wide width saturates
        mutate(spark, artifact)
    _check(spark, artifact, _sized(spark, artifact) if mutate is _torn else stored)


def test_delete_keeps_a_bitmap_superset(spark, artifact):
    before = tb.load_term_blooms(spark, artifact)
    stored = {f: info["m"] for f, info in before.items()}
    gone = F.col("id").isin("0", "1", "2", "blank")
    assert _job().delete_where(spark, artifact, gone) == 4
    _check(spark, artifact, stored, exact=False)
    assert tb.load_term_blooms(spark, artifact) == before  # kept as it was


# -- the one vocab writer ------------------------------------------------------


def test_vocab_writer_equals_the_delta_join(spark, artifact):
    """The union-and-sum writer stages exactly the rows the full-outer
    join of the stored buckets with the df delta gave: a term that rises,
    one that falls, one that falls to 0 (dropped), a new one; reversed
    copies and unchanged terms stage nothing of their own."""
    fs = get_fs(artifact, spark)
    n = load_vocab_meta(fs, artifact)["n_buckets"]
    stored = _stored_vocab(artifact, "text", n)
    assert stored["alpha"] > 2 and stored["target"] > 1 and stored["word1"] == 13
    delta = {"alpha": 2, "target": -1, "word1": -13, "zznew": 1, "beta": 0,
             REV_MARK + "ahpla": 1}
    terms = spark.createDataFrame(
        [(t, d, [0]) for t, d in delta.items()],
        "term string, _ddf bigint, _shards array<int>",
    )
    buckets = sorted({search_stats.term_bucket(t, n) for t in delta
                      if not t.startswith(REV_MARK) and delta[t]})
    search_stats._write_vocab(spark, artifact, "text", terms, n, buckets)
    joined = {
        t: stored.get(t, 0) + delta.get(t, 0)
        for t in set(stored) | {t for t in delta if not t.startswith(REV_MARK)}
        if search_stats.term_bucket(t, n) in buckets
    }
    want = {t: df for t, df in joined.items() if df > 0}
    assert "word1" not in want and want["zznew"] == 1
    pending = os.path.join(artifact, "_vocab", "text__pending")
    got = {}
    for bdir in os.listdir(pending):
        if bdir.startswith("bucket="):
            assert int(bdir[7:]) in buckets
            got.update(_bucket_rows(os.path.join(pending, bdir)))
    assert got == want


# -- structure -------------------------------------------------------------------

PKG = os.path.join(os.path.dirname(__file__), os.pardir, "solr_map_reduce_spark")


def test_one_pass_explodes_the_stored_tokens():
    """``array_distinct`` over a stored token column appears in the one
    term pass only: no second path builds either term sidecar."""
    found = []
    for module in ("term_blooms.py", "search_stats.py"):
        with open(os.path.join(PKG, module)) as fh:
            tree = ast.parse(fh.read())
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef):
                found += [
                    (module, fn.name) for node in ast.walk(fn)
                    if isinstance(node, ast.Call)
                    and getattr(node.func, "attr", getattr(node.func, "id", None))
                    == "array_distinct"
                ]
    assert found == [("search_stats.py", "_term_pass")]
