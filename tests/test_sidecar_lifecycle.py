"""One sidecar lifecycle for every artifact mutation: after merge_into,
update_fields, delete_where, compact and an appended build, every serving
sidecar (term Blooms, BM25 stats + ``_vocab``, ANN) answers exactly what a
fresh rebuild would, and the key spans, read from the parquet footers, name
exactly the data files; a torn stats sidecar is rebuilt by every
path; the reader's delete keeps every sidecar; sidecars commit before the
generation advance; and the mutation paths reach the sidecars only through
the one policy table.  On the read side, sidecars load only through one
loader table, every bounded memo is the one LRU, a layout the engine no
longer writes reads as no sidecar, and every dataset the engine writes is read
back with the schema its writer recorded."""

import ast
import json
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from solr_map_reduce_spark import indexing, search_stats, term_blooms
from solr_map_reduce_spark.extensions import ann_sidecar
from solr_map_reduce_spark.fs import get_fs
from solr_map_reduce_spark.index_reader import SearchIndex
from solr_map_reduce_spark.indexing import (
    IndexJob,
    IndexJobConfig,
    _Rewrite,
    compact,
    read_index,
)
from solr_map_reduce_spark.schema import Field, IndexSchema
from solr_map_reduce_spark.search_stats import load_search_stats, write_search_stats
from solr_map_reduce_spark.session import get_spark

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
        term_blooms=True, search_stats=True, max_records_per_file=10,
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


def _assert_stats_fresh(spark, path):
    # stats + _vocab equal a fresh rebuild
    stats, vocab = load_search_stats(spark, path), _vocab(spark, path)
    assert stats is not None and stats == write_search_stats(spark, path)
    assert vocab == _vocab(spark, path)


def _assert_sidecars_fresh(spark, path):
    _assert_stats_fresh(spark, path)
    # no key-range file is written; the footer spans name exactly the data
    # files and sum to Spark's count
    assert not os.path.exists(os.path.join(path, "_key_ranges"))
    ranges = SearchIndex.open(spark, path)._sidecar("key_ranges")
    spans = {(s, name) for s in range(2) for name, *_ in ranges._load_spans(s).files}
    assert spans == {
        (s, f) for s in range(2)
        for f in os.listdir(os.path.join(path, f"shard={s}")) if f.endswith(".parquet")
    }
    assert ranges.total_rows() == spark.read.parquet(path).count()
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
    # bitmaps under the post-merge generation (a Bloom false negative):
    # it queries just before the commit writes _TERM_BLOOMS.json
    idx = SearchIndex.open(spark, artifact)
    assert idx.contains_all(["common"]).count() == 60
    real, commits = search_stats.prepare_stats_delta, []

    def preparing(*a, **kw):
        finalize = real(*a, **kw)

        def querying():
            commits.append(term_blooms.load_term_blooms(spark, artifact))
            try:
                idx.contains_all(["zzmerge"]).count()
            except Exception:
                pass  # the handle may still point at swapped-out files
            return finalize()
        return querying

    monkeypatch.setattr(search_stats, "prepare_stats_delta", preparing)
    _merge(spark, artifact)
    assert len(commits) == 1  # the hook ran, before the new bitmaps landed
    assert commits[0] != term_blooms.load_term_blooms(spark, artifact)
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
    "BLOOMS", "STATS", "VOCAB_DIR", "VOCAB_META", "ANN_DIR", "ANN_META",
}
SIDECAR_FILES = {"_TERM_BLOOMS.json", "_SEARCH_STATS.json", "_vocab", "_ann"}
# names of the key-range sidecar, which the key spans in the footers replaced
KEY_RANGE_FILES = {"_key_ranges", "_KEY_RANGES.json", "KEY_RANGES_DIR", "KEY_RANGES"}
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


def test_no_module_names_a_key_range_file():
    """No package module names a key-range sidecar file or its constant,
    as a name or a string: nothing writes or reads one."""
    found = {
        rel for rel, tree in _package_trees()
        if KEY_RANGE_FILES & (set(_names(tree)) | {
            node.value for node in ast.walk(tree)
            if isinstance(node, ast.Constant) and isinstance(node.value, str)
        })
    }
    assert found == set()


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
    """A monolithic _KEY_RANGES.json, a _vocab without _VOCAB_META.json and
    an ANN sidecar whose manifest records no base schema are layouts the
    engine no longer writes: they serve exactly like no sidecar (the key
    spans come from the footers either way), the next merge writes the
    current stats layout and leaves the ANN sidecar stale, and a manifest
    without a recorded schema is refused."""
    bare = str(tmp_path / "bare")
    shutil.copytree(artifact, bare)
    for side in ("_vocab", "_ann"):
        shutil.rmtree(os.path.join(bare, side))
    os.remove(os.path.join(bare, "_SEARCH_STATS.json"))
    ivf_manifest = os.path.join(artifact, "_ann", "embedding", "_IVF_MANIFEST.json")
    with open(ivf_manifest) as fh:
        ivf = json.load(fh)
    del ivf["vectors_schema"]
    with open(ivf_manifest, "w") as fh:
        json.dump(ivf, fh)
    with open(os.path.join(artifact, "_KEY_RANGES.json"), "w") as fh:
        json.dump({"key_type": "string", "shards": {"0": {}, "1": {}}}, fh)
    vocab = os.path.join(artifact, "_vocab")
    text_vocab = os.path.join(vocab, "text")
    flat = spark.read.parquet(text_vocab).select("term", "df").collect()
    shutil.rmtree(vocab)
    spark.createDataFrame(flat, "term string, df bigint").write.parquet(text_vocab)

    older, want = SearchIndex.open(spark, artifact), SearchIndex.open(spark, bare)
    assert older._sidecar("stats") is None
    assert older._ann_sidecar("embedding") is None
    assert older.count() == want.count() == 60
    for read in (
        lambda idx: idx.get("k007"),
        lambda idx: idx.key_range("k010", "k020"),
        lambda idx: idx.prefix_key("k01"),
        lambda idx: idx.bm25(["common", "w3", "t5"], k=20),
        lambda idx: idx.terms(limit=50),
        lambda idx: idx.knn(QUERIES[0].tolist(), k=10),
    ):
        assert _rows_of(read(older)) == _rows_of(read(want))

    _merge(spark, artifact)
    assert os.path.exists(os.path.join(vocab, "_VOCAB_META.json"))
    _assert_stats_fresh(spark, artifact)
    fs = get_fs(artifact, spark)
    meta = ann_sidecar.load_meta(fs, ann_sidecar.side_path(artifact, "embedding"))
    assert meta["built_generation"] != ann_sidecar.manifest_generation_hash(fs, artifact)

    manifest_path = os.path.join(bare, "_INDEX_MANIFEST.json")
    with open(manifest_path) as fh:
        manifest = json.load(fh)
    del manifest["schema_json"]
    with open(manifest_path, "w") as fh:
        json.dump(manifest, fh)
    for open_ in (read_index, SearchIndex.open):
        with pytest.raises(ValueError, match="schema_json"):
            open_(spark, bare)


# -- read job budget ------------------------------------------------------------


def _jobs(spark, group, fn):
    """Spark jobs ``fn`` runs, counted per job group by the status tracker."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("default", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_planning_runs_no_job(spark, artifact):
    """On a warm handle over an artifact with every sidecar, after a
    ``merge_into`` left an ANN delta and tombstones, planning a search,
    facet, get or bm25 runs no Spark job (Bloom probes and df lookups run
    in the driver, segment reads are schema-pinned), a sidecar knn answer
    (probed in the driver) and a get no segment admits are local frames
    that collect without a job, and a filtered knn runs one job: the
    semi-join of the probed pairs with the filter's key set."""
    _merge(spark, artifact)
    assert all(os.path.isdir(os.path.join(artifact, "_ann", "embedding", sub))
               for sub in ("delta", "tombstones"))
    idx = SearchIndex.open(spark, artifact)
    idx.search(q="w1 AND common", filters={"v": 1}, select=["id"], limit=5).collect()
    idx.facet("v", q="t3").collect()
    idx.get("k001").collect()
    idx.bm25(["w1", "common"], k=5).collect()
    idx.knn(QUERIES[0].tolist(), k=5).collect()
    idx.knn(QUERIES[0].tolist(), k=5, filters={"v": 1}).collect()
    # fresh terms and keys: nothing a warm-up could have memoized
    reads = {
        "search": lambda: idx.search(q="w2 AND t4", filters={"v": 1},
                                     select=["id"], limit=5),
        "facet": lambda: idx.facet("v", q="t5"),
        "get": lambda: idx.get("k007"),
        "get_absent": lambda: idx.get("zzz-absent").collect(),
        "bm25": lambda: idx.bm25(["w3", "t6"], k=5),
        "knn": lambda: idx.knn(QUERIES[1].tolist(), k=5).collect(),
        "knn_filtered": lambda: idx.knn(QUERIES[1].tolist(), k=5,
                                        filters={"v": 2}).collect(),
    }
    assert {name: _jobs(spark, f"budget-{name}", fn) for name, fn in reads.items()} == {
        **{name: 0 for name in reads}, "knn_filtered": 1,
    }
    assert len(idx.knn(QUERIES[1].tolist(), k=5).collect()) == 5
    assert idx.get("zzz-absent").count() == 0


def test_collected_reads_run_their_job_budget(spark, artifact):
    """The jobs each read kind runs when collected, on a warm handle after
    a ``merge_into``: a get reads its admitted segments (1), a bm25 with
    stored statistics is one scan with the statistics as literal columns
    (1, no broadcast of a stats row), a sorted search is one TakeOrdered
    (1), a facet is the aggregate's shuffle map, the single-partition
    sort and the result (3, no range-partition sampling) and a sidecar
    knn is a local frame (0)."""
    _merge(spark, artifact)
    idx = SearchIndex.open(spark, artifact)
    idx.search(q="w1 AND common", filters={"v": 1}, sort=[("id", "asc")],
               select=["id"], limit=5).collect()
    idx.facet("v", q="t3").collect()
    idx.get("k001").collect()
    idx.bm25(["w1", "common"], k=5).collect()
    idx.knn(QUERIES[0].tolist(), k=5).collect()
    reads = {
        "get": lambda: idx.get("k007").collect(),
        "bm25": lambda: idx.bm25(["w3", "t6"], k=5).collect(),
        "search": lambda: idx.search(q="w2 AND t4", filters={"v": 1},
                                     sort=[("id", "asc")], select=["id"],
                                     limit=5).collect(),
        "facet": lambda: idx.facet("v", q="t5").collect(),
        "knn": lambda: idx.knn(QUERIES[1].tolist(), k=5).collect(),
    }
    assert {name: _jobs(spark, f"collect-{name}", fn) for name, fn in reads.items()} == {
        "get": 1, "bm25": 1, "search": 1, "facet": 3, "knn": 0,
    }


def _round_trips(spark, fn):
    """py4j commands ``fn`` sends to the JVM, counted by wrapping the
    gateway client's ``send_command``."""
    client = type(spark.sparkContext._gateway._gateway_client)
    send = client.send_command
    sent = []

    def counting(self, *args, **kwargs):
        sent.append(1)
        return send(self, *args, **kwargs)

    client.send_command = counting
    try:
        fn()
    finally:
        client.send_command = send
    return len(sent)


def test_bm25_planning_stays_under_a_round_trip_bound(spark, artifact, monkeypatch):
    """Planning a 2-term bm25 on a warm handle sends about 250 py4j
    commands with the engine session's call-site capture off (about 900
    with it on: every DataFrame and Column call then reads the session
    and its conf, and sets and clears the JVM-side origin).  The session
    reports the flag off, and ``extra_conf`` hands the builder of a new
    session the caller's value instead (the flag is static, so it is
    checked at the builder, not on the running session)."""
    flag = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(flag) == "false"
    idx = SearchIndex.open(spark, artifact)
    idx.bm25(["w1", "common"], k=5)
    assert _round_trips(spark, lambda: idx.bm25(["w3", "t6"], k=5)) < 350
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda b: b._options)
    assert get_spark()[flag] == "false"
    assert get_spark(extra_conf={flag: "true"})[flag] == "true"


def test_file_uri_answers_equal_the_plain_path(spark, artifact):
    """A ``file://`` URI of the artifact goes through ``HadoopFS``, and its
    driver-side reads (ANN probe files, ``_vocab`` buckets) answer knn,
    filtered knn and bm25 exactly as the plain path does."""
    _merge(spark, artifact)
    plain = SearchIndex.open(spark, artifact)
    uri = SearchIndex.open(spark, "file://" + os.path.abspath(artifact))
    assert type(get_fs(uri.path, spark)).__name__ == "HadoopFS"
    assert uri._ann_sidecar("embedding") is not None
    for q in QUERIES.tolist():
        assert uri.knn(q, k=7).collect() == plain.knn(q, k=7).collect()
        assert (uri.knn(q, k=7, filters={"v": 1}).collect()
                == plain.knn(q, k=7, filters={"v": 1}).collect())
    for terms in (["w1", "common"], ["zzmerge", "t3"]):
        assert (uri.bm25(terms, k=10).select("id", "score").collect()
                == plain.bm25(terms, k=10).select("id", "score").collect())


def test_first_read_after_a_mutation_runs_no_job(spark, artifact):
    """The reads that pay a live handle's generation reload plan from the
    manifest's recorded schema, as do opening the artifact and reading a
    rewrite's staging dir back: no footer inference, so no job.  ``count()``
    sums the footers' row counts in the driver, on a live handle and on a
    fresh one, although the artifact was built without asking for key
    ranges."""
    idx = SearchIndex.open(spark, artifact)
    idx.get("k001").collect()
    _merge(spark, artifact)
    counts = []
    reads = {
        "get": lambda: idx.get("k070"),
        "get_many": lambda: idx.get_many(["k003", "k070"]),
        "key_range": lambda: idx.key_range("k010", "k020"),
        "prefix_key": lambda: idx.prefix_key("k07"),
        "count": lambda: counts.append(idx.count()),
        "count_fresh": lambda: counts.append(SearchIndex.open(spark, artifact).count()),
        "read_index": lambda: read_index(spark, artifact),
    }
    assert not _job().config.key_ranges
    assert {name: _jobs(spark, f"reload-{name}", fn) for name, fn in reads.items()} == {
        name: 0 for name in reads
    }
    assert idx.get("k070").count() == 1
    assert counts == [61, 61] == [read_index(spark, artifact).count()] * 2

    rows = read_index(spark, artifact)
    tmp = artifact + "._staged_tmp"
    _job()._write_shards(rows, tmp, partitions=2)
    rw = _Rewrite(spark, get_fs(artifact, spark), artifact, "upsert", {},
                  rows=rows, tmp=tmp)
    staged = []
    assert _jobs(spark, "reload-staged", lambda: staged.append(rw.staged())) == 0
    assert _rows_of(staged[0]) == _rows_of(rows)


def _counted(spark, monkeypatch, module, name, group, jobs):
    """Wrap ``module.name`` so that the Spark jobs of each call, and of
    the ``finalize()`` it may return, add up in ``jobs``."""
    real = getattr(module, name)

    def counted(*args, **kw):
        out = []
        jobs.append(_jobs(spark, group, lambda: out.append(real(*args, **kw))))
        if not callable(out[0]):
            return out[0]

        def finalize():
            done = []
            jobs.append(_jobs(spark, group + "-commit", lambda: done.append(out[0]())))
            return done[0]
        return finalize

    monkeypatch.setattr(module, name, counted)


def test_merge_maintains_sidecars_in_few_jobs(spark, artifact, monkeypatch):
    """A merge_into keeps the term sidecars, the BM25 stats and the touched
    shards' Blooms alike, by one signed term pass over the touched shards:
    at most 6 jobs per analyzed field, its commit included, and no full
    write."""
    jobs, full = [], []
    _counted(spark, monkeypatch, search_stats, "prepare_stats_delta", "merge-terms", jobs)
    for module, name in ((search_stats, "write_search_sidecars"),
                         (search_stats, "write_search_stats"),
                         (term_blooms, "write_term_blooms")):
        _counted(spark, monkeypatch, module, name, f"merge-{name}", full)
    _merge(spark, artifact)
    assert len(jobs) == 2 and sum(jobs) <= 6, jobs
    assert full == []
    _assert_sidecars_fresh(spark, artifact)


def test_ann_pass_runs_few_jobs(spark, artifact, monkeypatch):
    """The ANN row maintains its sidecar with one prepare (one checkpointed
    batch frame, before the swap) and one commit: a merge_into runs 4 jobs
    for the frame and 4 for the commit (the batch's per-bucket norm
    aggregate, the delta write, the tombstone write), a delete_where 1 and
    1."""
    jobs = {}
    ann = next(s for s in indexing._SIDECARS if s.after_generation)

    def counted(fn, phase):
        def run(rw, *state):
            out = []
            jobs.setdefault(rw.effect, []).append(_jobs(
                spark, f"ann-{rw.effect}-{phase}", lambda: out.append(fn(rw, *state))
            ))
            return out[0]
        return run

    cells = {effect: (counted(prepare, "prepare"), counted(commit, "commit"))
             for effect, (prepare, commit) in ann.cells.items()}
    monkeypatch.setattr(indexing, "_SIDECARS", tuple(
        s._replace(cells=cells) if s is ann else s for s in indexing._SIDECARS
    ))
    _merge(spark, artifact)
    _delete(spark, artifact)
    assert set(jobs) == {"upsert", "delete"}
    assert jobs["upsert"][0] <= 4 and jobs["upsert"][1] <= 4, jobs
    assert jobs["delete"] == [1, 1], jobs
    assert SearchIndex.open(spark, artifact)._ann_sidecar("embedding") is not None


def _depth(line):
    return len(line) - len(line.lstrip(" :+-"))


def test_ann_frame_shuffles_only_batch_rows(spark, artifact, monkeypatch):
    """The ANN batch frame filters the staged scan by the batch keys before
    any shuffle, also when the touched shards are too large to broadcast
    (the broadcast threshold is lowered below the fixture's shard size)."""
    ann = next(s for s in indexing._SIDECARS if s.after_generation)
    prepare, commit = ann.cells["upsert"]
    plans = []

    def recorded(rw):
        frame_class = type(rw.keys)
        checkpoint = frame_class.localCheckpoint

        def record(df, *a, **kw):
            out = checkpoint(df, *a, **kw)
            plans.append(df._jdf.queryExecution().executedPlan().toString())
            return out

        with monkeypatch.context() as m:
            m.setattr(frame_class, "localCheckpoint", record)
            return prepare(rw)

    monkeypatch.setattr(indexing, "_SIDECARS", tuple(
        s._replace(cells={**s.cells, "upsert": (recorded, commit)}) if s is ann else s
        for s in indexing._SIDECARS
    ))
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "100")
    try:
        _merge(spark, artifact)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert len(plans) == 1, plans
    lines = plans[0].split("== Initial Plan ==")[0].splitlines()
    scans = [i for i, line in enumerate(lines) if "FileScan parquet" in line]
    assert scans, plans[0]
    for i in scans:
        # the operators above the scan, innermost first, up to the semi join
        above, depth = [], _depth(lines[i])
        for line in reversed(lines[:i]):
            if _depth(line) < depth:
                depth = _depth(line)
                above.append(line)
                if "LeftSemi" in line:
                    break
        assert "LeftSemi" in above[-1], plans[0]
        assert not any("Exchange" in line for line in above), plans[0]


def test_build_writes_term_sidecars_in_few_jobs(spark, tmp_path, monkeypatch):
    """A build writes both term sidecars from one term pass: at most 6
    jobs per analyzed field."""
    jobs = []
    _counted(spark, monkeypatch, search_stats, "write_search_sidecars", "build-terms", jobs)
    path = str(tmp_path / "idx")
    _job().build(spark.createDataFrame(_rows(range(60), 1, "base", 1), COLS), path)
    assert len(jobs) == 1 and jobs[0] <= 6, jobs
    _assert_stats_fresh(spark, path)


# Modules whose reads of engine-written datasets the guards below cover.
ENGINE_READ_MODULES = ("indexing.py", "index_reader.py", "search_stats.py",
                       "term_blooms.py", "key_ranges.py",
                       "extensions/ann_sidecar.py")


def _chain(node, assigned, seen=()):
    """Attribute names along a method chain, following a bare-name
    receiver to what the enclosing function assigned to it."""
    if isinstance(node, ast.Attribute):
        return [node.attr, *_chain(node.value, assigned, seen)]
    if isinstance(node, ast.Call):
        return _chain(node.func, assigned, seen)
    if isinstance(node, ast.Name) and node.id not in seen:
        return [a for value in assigned.get(node.id, ())
                for a in _chain(value, assigned, (*seen, node.id))]
    return []


def _unpinned_reads(tree):
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        assigned = {}
        for node in ast.walk(fn):
            if isinstance(node, ast.Assign):
                for t in node.targets:
                    if isinstance(t, ast.Name):
                        assigned.setdefault(t.id, []).append(node.value)
        for node in ast.walk(fn):
            if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "parquet"):
                chain = _chain(node.func.value, assigned)
                if "write" not in chain and "schema" not in chain:
                    yield node.lineno


def test_engine_reads_are_pinned_to_the_recorded_schema():
    """Every parquet read of a dataset the engine wrote chains through
    ``.schema(...)``: the writer's recorded schema, never footer inference
    (a Spark job per open).  Write chains are exempt.  The ``_vocab``
    layout is named only by its module, whose one reader serves every
    caller."""
    found = {}
    for rel in ENGINE_READ_MODULES:
        with open(os.path.join(PKG, rel)) as fh:
            lines = sorted(set(_unpinned_reads(ast.parse(fh.read()))))
        if lines:
            found[rel] = lines
    assert found == {}
    vocab = {rel for rel, tree in _package_trees()
             if {"_VOCAB_SCHEMA", "VOCAB_DIR"} & set(_names(tree))}
    assert vocab == {"search_stats.py"}
    # driver-side reads: pyarrow.parquet is named only by the fs helpers
    # (one data reader, one footer reader), and every read_table passes
    # the recorded schema
    assert set(_pyarrow_parquet_users()) == {("fs.py", "read_parquet"),
                                             ("fs.py", "read_footer")}
    unpinned = [(rel, node.lineno) for rel, tree in _package_trees()
                for node in ast.walk(tree)
                if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "read_table"
                and "schema" not in {kw.arg for kw in node.keywords}]
    assert unpinned == []


def _pyarrow_parquet_users():
    """(module, innermost function) of every place naming pyarrow.parquet:
    an import of it, of a name from it, or the attribute path itself."""
    def visit(node, rel, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        named = (
            isinstance(node, ast.Import)
            and any(a.name.startswith("pyarrow.parquet") for a in node.names)
        ) or (
            isinstance(node, ast.ImportFrom) and node.module
            and (node.module.startswith("pyarrow.parquet")
                 or (node.module == "pyarrow"
                     and any(a.name == "parquet" for a in node.names)))
        ) or (isinstance(node, ast.Attribute) and node.attr == "parquet"
              and isinstance(node.value, ast.Name)
              and node.value.id in ("pyarrow", "pa"))
        if named:
            yield rel, fn
        for child in ast.iter_child_nodes(node):
            yield from visit(child, rel, fn)

    for rel, tree in _package_trees():
        yield from visit(tree, rel, None)


LOCAL_FRAME_MODULES = ("index_reader.py", "term_blooms.py", "indexing.py",
                       "search_stats.py", "key_ranges.py",
                       "extensions/ann_sidecar.py", "extensions/similarity.py",
                       "extensions/stream_expr.py", "session.py")


def _enclosing_functions(tree, name):
    """Names of the innermost functions whose bodies name ``name``."""
    found = set()

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if name in (getattr(node, "attr", None), getattr(node, "id", None)):
            found.add(fn)
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, None)
    return found


def _writes_naming(tree, names):
    """Innermost functions holding a ``.write...parquet(path)`` whose path
    expression names one of ``names``."""
    found = set()

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
                and "write" in _chain(node.func.value, {})
                and names & {n.id for a in node.args for n in ast.walk(a)
                             if isinstance(n, ast.Name)}):
            found.add(fn)
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, None)
    return found


def test_one_ann_pass_writes_every_mutation():
    """Every mutation maintains the ANN sidecars through one pass: in
    ann_sidecar.py only build, compact and that pass (delta_upsert) write
    a meta, and only that pass appends delta rows or tombstones."""
    with open(os.path.join(PKG, "extensions", "ann_sidecar.py")) as fh:
        tree = ast.parse(fh.read())
    assert _enclosing_functions(tree, "write_meta") == {"build", "compact", "delta_upsert"}
    assert _writes_naming(tree, {"DELTA", "TOMBSTONES"}) == {"delta_upsert"}


def test_local_frames_are_built_only_by_the_helper():
    """Driver-side rows cross into Spark only through session.local_frame
    (an Arrow table: no job, no Python worker)."""
    found = {}
    for rel in LOCAL_FRAME_MODULES:
        with open(os.path.join(PKG, rel)) as fh:
            fns = _enclosing_functions(ast.parse(fh.read()), "createDataFrame")
        if fns:
            found[rel] = fns
    assert found == {"session.py": {"local_frame"}}
