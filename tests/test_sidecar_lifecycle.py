"""One sidecar lifecycle for every artifact mutation: after merge_into,
update_fields, delete_where, compact and an appended build, every serving
sidecar (term Blooms, BM25 stats + ``_vocab``, key ranges, ANN) answers
exactly what a fresh rebuild would; a torn stats sidecar is rebuilt by every
path; the reader's delete keeps every sidecar; sidecars commit before the
generation advance; and the mutation paths reach the sidecars only through
the one policy table.  On the read side, sidecars load only through one
loader table, every bounded memo is the one LRU, and a layout the engine no
longer writes reads as no sidecar."""

import ast
import json
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from solr_map_reduce_spark import term_blooms
from solr_map_reduce_spark.extensions import ann_sidecar
from solr_map_reduce_spark.fs import get_fs
from solr_map_reduce_spark.index_reader import SearchIndex
from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig, compact
from solr_map_reduce_spark.key_ranges import write_key_ranges
from solr_map_reduce_spark.schema import Field, IndexSchema
from solr_map_reduce_spark.search_stats import load_search_stats, write_search_stats

DIM, NC = 8, 4
COLS = "id string, text string, v long, embedding array<double>"
SCHEMA = IndexSchema(
    fields=(
        Field("id", "string", required=True),
        Field("text", "text_general"),
        Field("v", "long"),
        Field("embedding", "array<double>"),
    ),
    unique_key="id",
)
QUERIES = np.random.RandomState(3).randn(2, DIM)


def _job():
    return IndexJob(IndexJobConfig(
        schema=SCHEMA, shards=2, dedup="retain_most_recent", order_field="v",
        term_blooms=True, search_stats=True, key_ranges=True,
        max_records_per_file=10,
    ))


def _rows(ids, v, marker, seed):
    rng = np.random.RandomState(seed)
    return [
        (f"k{i:03d}", f"w{i % 7} t{i % 11} common {marker}", v,
         [float(x) for x in rng.randn(DIM)])
        for i in ids
    ]


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("lifecycle") / "base")
    _job().build(spark.createDataFrame(_rows(range(60), 1, "base", 1), COLS), path)
    SearchIndex.open(spark, path).build_ann(
        "embedding", kind="ivf", n_centroids=NC, nprobe=NC
    )
    return path


@pytest.fixture
def artifact(base, tmp_path):
    path = str(tmp_path / "idx")
    shutil.copytree(base, path)
    return path


def _merge(spark, path):
    batch = _rows([3, 70], 2, "zzmerge", 2)
    _job().merge_into(spark.createDataFrame(batch, COLS), path)


def _update(spark, path):
    rows = [("k004", "fresh zzupdate words", [1.0] * DIM),
            ("k005", "w1 zzupdate", [float(x) for x in range(DIM)])]
    _job().update_fields(
        spark.createDataFrame(rows, "id string, text string, embedding array<double>"),
        path,
    )


def _delete(spark, path):
    assert _job().delete_where(spark, path, F.col("id").isin("k001", "k010", "k011")) == 3


def _compact(spark, path):
    compact(spark, path, max_segments=1)


def _append(spark, path):
    _job().build(spark.createDataFrame(_rows([80, 81, 82], 3, "zzappend", 3), COLS),
                 path, mode="append")


MUTATIONS = {
    "merge_into": _merge,
    "update_fields": _update,
    "delete_where": _delete,
    "compact": _compact,
    "build_append": _append,
}


def _vocab(spark, path):
    return {
        r["term"]: r["df"]
        for r in spark.read.parquet(os.path.join(path, "_vocab", "text")).collect()
    }


def _key_range_files(path):
    base = os.path.join(path, "_key_ranges")
    out = {}
    for name in sorted(os.listdir(base)):
        if name.endswith(".json"):
            with open(os.path.join(base, name)) as fh:
                out[name] = json.load(fh)
    return out


def _assert_stats_fresh(spark, path):
    # stats + _vocab equal a fresh rebuild
    stats, vocab = load_search_stats(spark, path), _vocab(spark, path)
    assert stats is not None and stats == write_search_stats(spark, path)
    assert vocab == _vocab(spark, path)


def _assert_sidecars_fresh(spark, path):
    _assert_stats_fresh(spark, path)
    # key ranges equal a fresh full rebuild
    ranges = _key_range_files(path)
    write_key_ranges(spark, path)
    assert ranges == _key_range_files(path)
    # every stored token's shard is still a Bloom candidate
    blooms = term_blooms.load_term_blooms(spark, path)
    per_shard = (
        spark.read.parquet(path)
        .select("shard", F.explode("text__tokens").alias("t"))
        .groupBy("shard").agg(F.collect_set("t").alias("ts")).collect()
    )
    for r in per_shard:
        assert r["shard"] in term_blooms.candidate_shards(
            spark, blooms, "text", sorted(r["ts"])
        ), r
    # knn returns the exact top-10 over the artifact's own rows
    idx = SearchIndex.open(spark, path)
    rows = spark.read.parquet(path).select("id", "embedding").collect()
    vecs = np.array([r["embedding"] for r in rows])
    for q in QUERIES:
        cos = vecs @ q / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
        want = [rows[i]["id"] for i in np.argsort(-cos, kind="stable")[:10]]
        got = [r["id"] for r in idx.knn(q.tolist(), k=10).collect()]
        assert got == want


@pytest.mark.parametrize("op", sorted(MUTATIONS))
def test_every_path_leaves_sidecars_fresh(spark, artifact, op):
    MUTATIONS[op](spark, artifact)
    _assert_sidecars_fresh(spark, artifact)
    if op != "build_append":
        # maintained, not merely stale: {!knn} still routes through the sidecar
        assert SearchIndex.open(spark, artifact)._ann_sidecar("embedding") is not None


@pytest.mark.parametrize("op", sorted(MUTATIONS))
def test_torn_stats_sidecar_is_rebuilt(spark, artifact, op):
    shutil.rmtree(os.path.join(artifact, "_vocab", "text"))
    MUTATIONS[op](spark, artifact)
    _assert_stats_fresh(spark, artifact)


def test_reader_delete_keeps_pinned_ann_sidecar(spark, artifact, tmp_path):
    out = str(tmp_path / "deleted")
    res = SearchIndex.open(spark, artifact).delete_where(F.col("id") == "k002", out)
    assert res.count() == 59
    fs = get_fs(out, spark)
    meta = ann_sidecar.load_meta(fs, ann_sidecar.side_path(out, "embedding"))
    assert meta["built_generation"] == ann_sidecar.manifest_generation_hash(fs, out)
    assert res._ann_sidecar("embedding") is not None
    assert not os.path.exists(os.path.join(out, "_BACKUP_META.json"))
    _assert_sidecars_fresh(spark, out)


def test_merge_commits_sidecars_before_the_generation(spark, artifact, monkeypatch):
    # a live handle querying mid-commit must not cache the pre-merge
    # bitmaps under the post-merge generation (a Bloom false negative)
    idx = SearchIndex.open(spark, artifact)
    assert idx.contains_all(["common"]).count() == 60
    real = term_blooms.write_term_blooms

    def querying(*a, **kw):
        try:
            idx.contains_all(["zzmerge"]).count()
        except Exception:
            pass  # the handle may still point at swapped-out files
        return real(*a, **kw)

    monkeypatch.setattr(term_blooms, "write_term_blooms", querying)
    _merge(spark, artifact)
    assert idx.contains_all(["zzmerge"]).count() == 2


def test_mutations_return_the_committed_manifest(spark, artifact):
    def on_disk():
        with open(os.path.join(artifact, "_INDEX_MANIFEST.json")) as fh:
            return json.load(fh)

    before = on_disk()["generation"]
    merged = _job().merge_into(
        spark.createDataFrame(_rows([90], 5, "x", 5), COLS), artifact
    )
    assert merged == on_disk() and merged["generation"] == before + 1
    updated = _job().update_fields(
        spark.createDataFrame([("k090", 7)], "id string, v long"), artifact
    )
    assert updated == on_disk() and updated["generation"] == before + 2


# -- structure ----------------------------------------------------------------

PKG = os.path.join(os.path.dirname(__file__), os.pardir, "solr_map_reduce_spark")
SIDECAR_NAMES = {
    "term_blooms", "search_stats", "key_ranges", "ann_sidecar",
    "BLOOMS", "STATS", "VOCAB_DIR", "VOCAB_META", "KEY_RANGES",
    "KEY_RANGES_DIR", "ANN_DIR", "ANN_META",
}
SIDECAR_FILES = {
    "_TERM_BLOOMS.json", "_SEARCH_STATS.json", "_vocab", "_KEY_RANGES.json",
    "_key_ranges", "_ann",
}
MUTATORS = {
    "indexing.py": {"IndexJob.merge_into", "IndexJob.update_fields",
                    "IndexJob.delete_where", "IndexJob._build_inner", "compact"},
    "index_reader.py": {"SearchIndex.delete_where"},
}


def _functions(tree):
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            yield node.name, node
        elif isinstance(node, ast.ClassDef):
            for item in node.body:
                if isinstance(item, ast.FunctionDef):
                    yield f"{node.name}.{item.name}", item


def _sidecar_refs(fn):
    for node in ast.walk(fn):
        if isinstance(node, ast.Name):
            name = node.id
        elif isinstance(node, ast.Attribute):
            name = node.attr
        elif isinstance(node, ast.alias):
            name = node.name.rsplit(".", 1)[-1]
        elif isinstance(node, ast.ImportFrom):
            name = (node.module or "").rsplit(".", 1)[-1]
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value in SIDECAR_FILES:
                yield node.value
            continue
        else:
            continue
        if name in SIDECAR_NAMES:
            yield name


@pytest.mark.parametrize("module", sorted(MUTATORS))
def test_mutation_paths_reach_sidecars_only_through_the_table(module):
    with open(os.path.join(PKG, module)) as fh:
        tree = ast.parse(fh.read())
    found = {name: sorted(set(_sidecar_refs(fn))) for name, fn in _functions(tree)
             if name in MUTATORS[module]}
    assert set(found) == MUTATORS[module]
    assert found == {name: [] for name in found}


def _package_trees():
    for root, _dirs, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                full = os.path.join(root, f)
                with open(full) as fh:
                    yield os.path.relpath(full, PKG), ast.parse(fh.read())


def _names(tree):
    # an attribute (attr), a bare name (id), an imported or defined name (name)
    for node in ast.walk(tree):
        for a in ("attr", "id", "name"):
            if isinstance(getattr(node, a, None), str):
                yield getattr(node, a)


ENV_READS = {"environ", "environb", "getenv"}


def test_only_the_session_reads_the_environment():
    """Sizing rules are constants or derived from the artifact, never
    environment knobs: only session.py (the deployment's Spark settings)
    may read os.environ / os.getenv, in any spelling."""
    readers = {rel for rel, tree in _package_trees() if set(_names(tree)) & ENV_READS}
    assert readers <= {"session.py"}


LOADERS = {"load_term_blooms", "load_search_stats", "load_key_ranges"}


def test_one_lru_and_one_sidecar_loader_table():
    """Every bounded memo is the one LRU class, and the reader loads its
    sidecars only through its loader table (where a freshness check
    belongs)."""
    trees = dict(_package_trees())
    assert {rel for rel, tree in trees.items()
            if {"move_to_end", "popitem"} & set(_names(tree))} == {"lru.py"}
    table = [node for node in trees["index_reader.py"].body
             if isinstance(node, ast.Assign)
             and [getattr(t, "id", None) for t in node.targets] == ["_SIDECAR_LOADERS"]]
    assert len(table) == 1 and LOADERS <= set(_names(table[0]))
    rest = [n for n in trees["index_reader.py"].body if n is not table[0]]
    assert not LOADERS & {name for node in rest for name in _names(node)}


# -- older layouts ------------------------------------------------------------


def _rows_of(df):
    return sorted(map(repr, df.collect()))


def test_older_layouts_read_as_absent(spark, artifact, tmp_path):
    """Key ranges only as the monolithic _KEY_RANGES.json and a _vocab
    without _VOCAB_META.json are layouts the engine no longer writes: they
    serve exactly like no sidecar, and the next merge writes the current
    stats layout."""
    bare = str(tmp_path / "bare")
    shutil.copytree(artifact, bare)
    for side in ("_key_ranges", "_vocab"):
        shutil.rmtree(os.path.join(bare, side))
    os.remove(os.path.join(bare, "_SEARCH_STATS.json"))
    ranges = SearchIndex.open(spark, artifact)._sidecar("key_ranges")
    with open(os.path.join(artifact, "_KEY_RANGES.json"), "w") as fh:
        json.dump({"key_type": ranges["key_type"], "shards": ranges["shards"]}, fh)
    shutil.rmtree(os.path.join(artifact, "_key_ranges"))
    vocab = os.path.join(artifact, "_vocab")
    text_vocab = os.path.join(vocab, "text")
    flat = spark.read.parquet(text_vocab).select("term", "df").collect()
    shutil.rmtree(vocab)
    spark.createDataFrame(flat, "term string, df bigint").write.parquet(text_vocab)

    older, want = SearchIndex.open(spark, artifact), SearchIndex.open(spark, bare)
    assert older._sidecar("key_ranges") is None and older._sidecar("stats") is None
    assert older.count() == want.count() == 60
    for read in (
        lambda idx: idx.get("k007"),
        lambda idx: idx.key_range("k010", "k020"),
        lambda idx: idx.prefix_key("k01"),
        lambda idx: idx.bm25(["common", "w3", "t5"], k=20),
        lambda idx: idx.terms(limit=50),
    ):
        assert _rows_of(read(older)) == _rows_of(read(want))

    _merge(spark, artifact)
    assert os.path.exists(os.path.join(vocab, "_VOCAB_META.json"))
    _assert_stats_fresh(spark, artifact)
