"""{!knn} routed through the ANN sidecar (build_ann): sublinear serving
with partition-pruned IVF probes, exact-scan fallback on exact=/preFilter=/
dot/stale-generation.  Reference parity: Solr 9 KnnQParser serves from an
HNSW graph (sublinear per query); the partitioned-storage analog here is
IVF bucket pruning, with the same approximate-topK contract."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from solr_map_reduce_spark.extensions.similarity import IvfIndex
from solr_map_reduce_spark.index_reader import SearchIndex
from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
from solr_map_reduce_spark.schema import Field, IndexSchema

N, DIM, NC = 200, 8, 8

rng = np.random.RandomState(7)
VECS = rng.randn(N, DIM).astype(np.float64)
QUERIES = rng.randn(3, DIM).astype(np.float64)


def _exact_ids(q, k):
    """numpy oracle: cosine top-k ids, tiebreak id asc."""
    norms = np.linalg.norm(VECS, axis=1) * np.linalg.norm(q)
    cos = (VECS @ q) / norms
    order = sorted(range(N), key=lambda i: (-cos[i], i))
    return [i for i in order[:k]]


def _build_artifact(spark, out):
    schema = IndexSchema(
        fields=(Field("vec_id", "long", required=True),
                Field("embedding", "array<double>"),
                Field("label", "string")),
        unique_key="vec_id",
    )
    rows = [(i, [float(x) for x in VECS[i]], "even" if i % 2 == 0 else "odd")
            for i in range(N)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    IndexJob(IndexJobConfig(schema=schema, shards=2, dedup="none")).build(
        df, out
    )
    return SearchIndex.open(spark, out)


def _vec_literal(q):
    return "[" + ", ".join(f"{x:.10f}" for x in q) + "]"


@pytest.fixture(scope="module")
def aidx(spark, tmp_path_factory):
    idx = _build_artifact(
        spark, str(tmp_path_factory.mktemp("knn_ann") / "idx")
    )
    side = idx.build_ann("embedding", kind="ivf", n_centroids=NC, nprobe=2)
    assert os.path.exists(os.path.join(side, "_ANN_META.json"))
    return idx


class TestKnnAnnRouting:
    def test_full_probe_equals_exact(self, aidx):
        # nprobe = n_centroids probes every bucket: routed must be
        # IDENTICAL to the brute-force scan, order and all
        for q in QUERIES:
            routed = [r["vec_id"] for r in aidx.query(
                f"{{!knn f=embedding topK=10 nprobe={NC}}}{_vec_literal(q)}"
            ).collect()]
            assert routed == _exact_ids(q, 10)

    def test_routed_schema_matches_exact_path(self, aidx):
        q = QUERIES[0]
        routed = aidx.query(
            f"{{!knn f=embedding topK=5}}{_vec_literal(q)}"
        )
        exact = aidx.query(
            f"{{!knn f=embedding topK=5 exact=true}}{_vec_literal(q)}"
        )
        assert routed.columns == exact.columns
        assert routed.count() == 5

    def test_default_nprobe_recall(self, aidx):
        # golden recall: 2 of 8 buckets probed must still land a solid
        # fraction of the true top-10
        hits = total = 0
        for q in QUERIES:
            want = set(_exact_ids(q, 10))
            got = {r["vec_id"] for r in aidx.query(
                f"{{!knn f=embedding topK=10}}{_vec_literal(q)}"
            ).collect()}
            assert len(got) == 10
            hits += len(got & want)
            total += 10
        assert hits / total >= 0.5, f"recall {hits}/{total}"

    def test_probe_plan_is_partition_pruned(self, aidx):
        handle = aidx._ann_sidecar("embedding")
        assert handle is not None
        kind, ivf, side, meta = handle
        got = ivf.search_stored(aidx.spark, side, QUERIES[0], k=5, nprobe=2)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "bucket" in plan, plan

    def test_prefilter_routes_full_probe_exact(self, aidx):
        # preFilter routes through the sidecar (Solr 9.1 filters DURING
        # traversal): filter keys semi-join probed rows BEFORE topK.
        # At nprobe = n_centroids every bucket is read, so the routed
        # page must equal the numpy oracle over the even-labelled half.
        # (Defined before the tamper test below: it reads EVERY bucket.)
        q = QUERIES[0]
        norms = np.linalg.norm(VECS, axis=1) * np.linalg.norm(q)
        cos = (VECS @ q) / norms
        evens = [i for i in range(N) if i % 2 == 0]
        want = sorted(evens, key=lambda i: (-cos[i], i))[:5]
        got = [r["vec_id"] for r in aidx.query(
            f"{{!knn f=embedding topK=5 nprobe={NC} "
            "preFilter='label:even'}" + _vec_literal(q)
        ).collect()]
        assert got == want
        # exact=true opts out of routing and serves the same oracle
        got_exact = [r["vec_id"] for r in aidx.query(
            "{!knn f=embedding topK=5 exact=true preFilter='label:even'}"
            + _vec_literal(q)
        ).collect()]
        assert got_exact == want

    def test_prefilter_low_nprobe_fills_page(self, aidx):
        # a thinned probe pool widens nprobe instead of short-paging:
        # the page is always k rows when >= k matches exist, all of
        # them satisfying the preFilter
        q = QUERIES[0]
        got = [r["vec_id"] for r in aidx.query(
            "{!knn f=embedding topK=5 nprobe=1 preFilter='label:even'}"
            + _vec_literal(q)
        ).collect()]
        assert len(got) == 5
        assert all(i % 2 == 0 for i in got)

    def test_probe_reads_only_probed_buckets(self, aidx):
        # physical IO boundary: fill every NON-probed bucket's parquet
        # files with garbage — the routed query must not notice
        q = QUERIES[1]
        kind, ivf, side, meta = aidx._ann_sidecar("embedding")
        d = ((ivf.centroids - q[None, :]) ** 2).sum(axis=1)
        probe = {int(b) for b in d.argsort()[:2]}
        before = [r["vec_id"] for r in aidx.query(
            f"{{!knn f=embedding topK=7 nprobe=2}}{_vec_literal(q)}"
        ).collect()]
        vectors = os.path.join(side, "vectors")
        tampered = 0
        for bdir in os.listdir(vectors):
            if not bdir.startswith("bucket="):
                continue
            if int(bdir.split("=", 1)[1]) in probe:
                continue
            for fn in os.listdir(os.path.join(vectors, bdir)):
                if fn.endswith(".parquet"):
                    with open(os.path.join(vectors, bdir, fn), "wb") as fh:
                        fh.write(b"\x00garbage\x00" * 16)
                    tampered += 1
        assert tampered > 0  # the tamper must have bitten something
        # fresh handle: no memoized plan/sidecar state
        fresh = SearchIndex.open(aidx.spark, aidx.path)
        got = [r["vec_id"] for r in fresh.query(
            f"{{!knn f=embedding topK=7 nprobe=2}}{_vec_literal(q)}"
        ).collect()]
        assert got == before

    def test_exact_param_bypasses_sidecar(self, aidx):
        # runs AFTER the tamper above in file order is not guaranteed —
        # exact=true must never read the sidecar regardless
        q = QUERIES[2]
        got = [r["vec_id"] for r in aidx.query(
            f"{{!knn f=embedding topK=10 exact=true}}{_vec_literal(q)}"
        ).collect()]
        assert got == _exact_ids(q, 10)

    def test_fq_postfilters_compose_with_routed_path(self, aidx):
        # Solr default: {!knn} as the main query ranks topK FIRST, fq
        # filters after — identical composition on the routed path
        q = QUERIES[0]
        got = sorted(r["vec_id"] for r in aidx.search(
            q=f"{{!knn f=embedding topK=10 nprobe={NC}}}{_vec_literal(q)}",
            filters={"label": "even"}, select=["vec_id"],
        ).collect())
        want = sorted(i for i in _exact_ids(q, 10) if i % 2 == 0)
        assert got == want

    def test_dot_full_probe_equals_exact(self, spark, tmp_path):
        # non-unit corpus: dot ROUTES via MIPS probe ranking (r12);
        # full probe is provably the exact inner-product top-k.  Fresh
        # artifact: aidx's non-probed buckets get garbaged by the
        # pruning test above, and a FULL probe reads every bucket.
        idx = _build_artifact(spark, str(tmp_path / "dotfp"))
        idx.build_ann("embedding", kind="ivf", n_centroids=NC, nprobe=2)
        q = QUERIES[1]
        got = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK=5 similarity=dot nprobe={NC}}}"
            + _vec_literal(q)
        ).collect()]
        dots = VECS @ q
        want = sorted(range(N), key=lambda i: (-dots[i], i))[:5]
        assert got == want


def _job(dedup="none"):
    return IndexJob(IndexJobConfig(
        schema=IndexSchema(
            fields=(Field("vec_id", "long", required=True),
                    Field("embedding", "array<double>"),
                    Field("label", "string")),
            unique_key="vec_id",
        ),
        shards=2, dedup=dedup,
    ))


class TestStalenessAndVariants:
    def test_delete_delta_maintains_routing(self, spark, tmp_path):
        # deletes don't stale the sidecar: tombstones + generation
        # re-pin keep {!knn} on the routed path, deleted docs excluded
        idx = _build_artifact(spark, str(tmp_path / "idx"))
        idx.build_ann("embedding", kind="ivf", n_centroids=NC, nprobe=NC)
        q = QUERIES[0]
        top1 = _exact_ids(q, 1)[0]
        n = _job().delete_where(spark, idx.path, F.col("vec_id") == top1)
        assert n == 1
        assert idx._ann_sidecar("embedding") is not None  # still routed
        got = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK=5 nprobe={NC}}}{_vec_literal(q)}"
        ).collect()]
        assert top1 not in got
        assert got == [i for i in _exact_ids(q, 6) if i != top1][:5]
        # and so does the exact path, on the post-delete corpus
        exact = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK=5 exact=true}}{_vec_literal(q)}"
        ).collect()]
        assert exact == got

    def test_delete_tombstones_accumulate(self, spark, tmp_path):
        idx = _build_artifact(spark, str(tmp_path / "idx"))
        idx.build_ann("embedding", kind="ivf", n_centroids=NC, nprobe=NC)
        q = QUERIES[1]
        doomed = _exact_ids(q, 3)
        job = _job()
        for d in doomed:  # three separate mutations, three appends
            job.delete_where(spark, idx.path, F.col("vec_id") == d)
        got = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK=5 nprobe={NC}}}{_vec_literal(q)}"
        ).collect()]
        assert not set(got) & set(doomed)
        assert got == [i for i in _exact_ids(q, 8) if i not in doomed][:5]

    def _routed_equals_exact(self, idx, q, k=5):
        routed = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK={k} nprobe={NC}}}{_vec_literal(q)}"
        ).collect()]
        exact = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK={k} exact=true}}{_vec_literal(q)}"
        ).collect()]
        assert routed == exact, (routed, exact)
        return routed

    def test_upsert_delta_maintains_routing(self, spark, tmp_path):
        # merge_into appends the post-resolution vectors at a fresh
        # epoch and tombstones the batch keys: {!knn} stays routed and
        # serves the NEW corpus (new doc visible, replaced vector dead)
        idx = _build_artifact(spark, str(tmp_path / "idx"))
        idx.build_ann("embedding", kind="ivf", n_centroids=NC, nprobe=NC)
        q = QUERIES[2]
        top = _exact_ids(q, 2)
        batch = spark.createDataFrame(
            [
                # NEW doc whose vector is exactly the query: must rank #1
                (500, [float(x) for x in q], "new"),
                # REPLACE the current #1 with an orthogonal-ish vector:
                # must drop out of the page
                (top[0], [float(-x) for x in q], "flipped"),
            ],
            "vec_id long, embedding array<double>, label string",
        )
        _job("retain_most_recent").merge_into(batch, idx.path)
        assert idx._ann_sidecar("embedding") is not None  # still routed
        got = self._routed_equals_exact(idx, q, k=5)
        assert got[0] == 500          # the upserted doc serves
        assert top[0] not in got      # its old vector is dead

    def test_upsert_epoch_chain_same_key(self, spark, tmp_path):
        # replace the same key twice: only the LATEST epoch's row serves
        idx = _build_artifact(spark, str(tmp_path / "idx"))
        idx.build_ann("embedding", kind="ivf", n_centroids=NC, nprobe=NC)
        q = QUERIES[0]
        job = _job("retain_most_recent")
        mk = lambda vec: spark.createDataFrame(
            [(777, [float(x) for x in vec], "v")],
            "vec_id long, embedding array<double>, label string",
        )
        job.merge_into(mk(q), idx.path)          # epoch 1: equals query
        job.merge_into(mk(-np.asarray(q)), idx.path)  # epoch 2: opposite
        got = self._routed_equals_exact(idx, q, k=5)
        assert 777 not in got  # only the epoch-2 (opposite) row is alive
        job.merge_into(mk(q), idx.path)          # epoch 3: back on top
        got = self._routed_equals_exact(idx, q, k=5)
        assert got[0] == 777

    def test_delete_then_upsert_compose(self, spark, tmp_path):
        idx = _build_artifact(spark, str(tmp_path / "idx"))
        idx.build_ann("embedding", kind="ivf", n_centroids=NC, nprobe=NC)
        q = QUERIES[1]
        top = _exact_ids(q, 2)
        job = _job("retain_most_recent")
        job.delete_where(spark, idx.path, F.col("vec_id") == top[0])
        batch = spark.createDataFrame(
            [(top[0], [float(x) for x in q], "back")],
            "vec_id long, embedding array<double>, label string",
        )
        job.merge_into(batch, idx.path)  # re-insert the deleted key
        got = self._routed_equals_exact(idx, q, k=5)
        assert got[0] == top[0]  # resurrected at a later epoch -> alive

    def test_update_fields_nonvector_repins(self, spark, tmp_path):
        # updating a NON-vector column provably leaves vectors exact:
        # the sidecar just re-pins and stays routed
        idx = _build_artifact(spark, str(tmp_path / "idx"))
        idx.build_ann("embedding", kind="ivf", n_centroids=NC, nprobe=NC)
        q = QUERIES[0]
        upd = spark.createDataFrame(
            [(i, "relabelled") for i in _exact_ids(q, 3)],
            "vec_id long, label string",
        )
        _job().update_fields(upd, idx.path)
        assert idx._ann_sidecar("embedding") is not None
        got = self._routed_equals_exact(idx, q, k=5)
        assert got == _exact_ids(q, 5)

    def test_update_fields_vector_delta_maintains(self, spark, tmp_path):
        idx = _build_artifact(spark, str(tmp_path / "idx"))
        idx.build_ann("embedding", kind="ivf", n_centroids=NC, nprobe=NC)
        q = QUERIES[1]
        victim = _exact_ids(q, 1)[0]
        upd = spark.createDataFrame(
            [(victim, [float(-x) for x in q])],
            "vec_id long, embedding array<double>",
        )
        _job().update_fields(upd, idx.path)
        assert idx._ann_sidecar("embedding") is not None
        got = self._routed_equals_exact(idx, q, k=5)
        assert victim not in got  # its vector now points the other way

    def test_rebuild_clears_delta_and_tombstones(self, spark, tmp_path):
        idx = _build_artifact(spark, str(tmp_path / "idx"))
        side = idx.build_ann("embedding", kind="ivf", n_centroids=NC,
                             nprobe=NC)
        job = _job("retain_most_recent")
        job.delete_where(spark, idx.path, F.col("vec_id") == 0)
        batch = spark.createDataFrame(
            [(501, [float(x) for x in QUERIES[2]], "new")],
            "vec_id long, embedding array<double>, label string",
        )
        job.merge_into(batch, idx.path)
        assert os.path.isdir(os.path.join(side, "tombstones"))
        assert os.path.isdir(os.path.join(side, "delta"))
        idx.build_ann("embedding", kind="ivf", n_centroids=NC, nprobe=NC)
        assert not os.path.exists(os.path.join(side, "tombstones"))
        assert not os.path.exists(os.path.join(side, "delta"))
        got = self._routed_equals_exact(idx, QUERIES[2], k=5)
        assert got[0] == 501

    def test_compact_folds_delta_and_tombstones(self, spark, tmp_path):
        # delete + replace + insert, then compact: delta/tombstones
        # fold into the base buckets, serving results unchanged
        idx = _build_artifact(spark, str(tmp_path / "idx"))
        side = idx.build_ann("embedding", kind="ivf", n_centroids=NC,
                             nprobe=NC)
        q = QUERIES[0]
        top = _exact_ids(q, 3)
        job = _job("retain_most_recent")
        job.delete_where(spark, idx.path, F.col("vec_id") == top[0])
        batch = spark.createDataFrame(
            [(top[1], [float(-x) for x in q], "flipped"),
             (900, [float(x) for x in q], "new")],
            "vec_id long, embedding array<double>, label string",
        )
        job.merge_into(batch, idx.path)
        before = self._routed_equals_exact(idx, q, k=7)
        meta_before = __import__("json").loads(
            open(os.path.join(side, "_ANN_META.json")).read()
        )
        out = idx.compact_ann("embedding")
        assert out["folded"] and out["affected_buckets"]
        assert not os.path.exists(os.path.join(side, "delta"))
        assert not os.path.exists(os.path.join(side, "tombstones"))
        meta_after = __import__("json").loads(
            open(os.path.join(side, "_ANN_META.json")).read()
        )
        # epoch stays monotone (never reset); compact BUMPS the artifact
        # generation (live handles must drop caches during the fold) and
        # re-pins the meta to the post-bump hash
        assert meta_after["epoch"] == meta_before["epoch"]
        assert meta_after["built_generation"] != \
            meta_before["built_generation"]
        from solr_map_reduce_spark.extensions.ann_sidecar import (
            manifest_generation_hash,
        )
        from solr_map_reduce_spark.fs import get_fs

        assert meta_after["built_generation"] == manifest_generation_hash(
            get_fs(idx.path, spark), idx.path
        )
        after = self._routed_equals_exact(idx, q, k=7)
        assert after == before
        assert after[0] == 900 and top[0] not in after and \
            top[1] not in after
        # base now holds exactly one row per present key
        vecs = idx.spark.read.parquet(os.path.join(side, "vectors"))
        assert vecs.count() == vecs.select("vec_id").distinct().count()
        # mutations after a compact keep composing
        job.delete_where(spark, idx.path, F.col("vec_id") == 900)
        got = self._routed_equals_exact(idx, q, k=5)
        assert 900 not in got

    def test_delta_probe_plan_stays_partition_pruned(
        self, spark, tmp_path, monkeypatch
    ):
        # with delta + tombstones present, the probe opens only the files
        # under the probed bucket dirs of the base and the delta, plus the
        # tombstones, counted through the driver-side parquet reader
        from solr_map_reduce_spark import fs as fs_mod
        from solr_map_reduce_spark.extensions import ann_sidecar

        idx = _build_artifact(spark, str(tmp_path / "idx"))
        idx.build_ann("embedding", kind="ivf", n_centroids=NC, nprobe=NC)
        job = _job("retain_most_recent")
        job.delete_where(spark, idx.path, F.col("vec_id") == 0)
        batch = spark.createDataFrame(
            [(901, [float(x) for x in QUERIES[0]], "new")],
            "vec_id long, embedding array<double>, label string",
        )
        job.merge_into(batch, idx.path)
        kind, index, side, meta = idx._ann_sidecar("embedding")
        opened = []
        read = fs_mod.read_parquet
        monkeypatch.setattr(
            fs_mod, "read_parquet",
            lambda fs, path, *a, **kw: opened.append(path) or read(fs, path, *a, **kw),
        )
        top = ann_sidecar.probe_topk(
            spark, side, meta, index, list(QUERIES[0]), k=5, nprobe=2
        )
        probe = ann_sidecar._probe_order(meta, kind, index, QUERIES[0], 2, "cosine")
        local = fs_mod.LocalFS()
        allowed = [
            f
            for sub in ("vectors", "delta")
            for b in probe
            for f in fs_mod.data_files(local, os.path.join(side, sub, f"bucket={b}"))
        ]
        tombs = fs_mod.data_files(local, os.path.join(side, "tombstones"))
        assert tombs and any("/delta/" in f for f in allowed)
        assert sorted(opened) == sorted(allowed + tombs)
        assert len(top.collect()) == 5
        idx = _build_artifact(spark, str(tmp_path / "idx"))
        idx.build_ann("embedding", kind="ivf", n_centroids=NC, nprobe=NC)
        out = idx.compact_ann("embedding")
        assert out == {"affected_buckets": [], "folded": False}
        with pytest.raises(ValueError, match="no ANN sidecar"):
            idx.compact_ann("label")
        # stale the sidecar via an out-of-band manifest bump
        from solr_map_reduce_spark.fs import get_fs
        from solr_map_reduce_spark.indexing import bump_generation

        bump_generation(get_fs(idx.path, spark), idx.path)
        # give it something to fold so the stale check is reached
        import json as _json
        side = os.path.join(idx.path, "_ann", "embedding")
        os.makedirs(os.path.join(side, "tombstones"), exist_ok=True)
        with pytest.raises(ValueError, match="stale"):
            idx.compact_ann("embedding")

    def test_already_stale_sidecar_is_never_revived(self, spark, tmp_path):
        # a sidecar left stale by an earlier mutation (crashed phase,
        # legacy skip, vector rewrite) must NOT be re-pinned by a later
        # mutation's delta maintenance — that would revive stale data.
        import json as _json

        idx = _build_artifact(spark, str(tmp_path / "idx"))
        side = idx.build_ann("embedding", kind="ivf", n_centroids=NC,
                             nprobe=NC)
        meta_path = os.path.join(side, "_ANN_META.json")
        meta = _json.loads(open(meta_path).read())
        # simulate the crashed phase-1 of an earlier mutation: epoch
        # consumed, generation no longer current
        meta["epoch"] = int(meta["epoch"]) + 1
        meta["built_generation"] = "gone-generation"
        open(meta_path, "w").write(_json.dumps(meta))
        assert idx._ann_sidecar("embedding") is None  # stale
        job = _job("retain_most_recent")
        # delete, upsert, and non-vector update must all leave it stale
        job.delete_where(spark, idx.path, F.col("vec_id") == 0)
        assert idx._ann_sidecar("embedding") is None
        job.merge_into(spark.createDataFrame(
            [(950, [float(x) for x in QUERIES[0]], "x")],
            "vec_id long, embedding array<double>, label string",
        ), idx.path)
        assert idx._ann_sidecar("embedding") is None
        job.update_fields(spark.createDataFrame(
            [(1, "y")], "vec_id long, label string"
        ), idx.path)
        assert idx._ann_sidecar("embedding") is None
        # the exact fallback serves the true post-mutation corpus
        q = QUERIES[0]
        got = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK=3}}{_vec_literal(q)}"
        ).collect()]
        assert got[0] == 950 and 0 not in got
        # and build_ann recovers the routed path
        idx.build_ann("embedding", kind="ivf", n_centroids=NC, nprobe=NC)
        assert idx._ann_sidecar("embedding") is not None
        assert self._routed_equals_exact(idx, q, k=3)[0] == 950

    def test_upsert_delta_maintains_ivfpq(self, spark, tmp_path):
        # the compressed sidecar delta-encodes upserts with the stored
        # codebooks; approximate ranking must still surface the new doc
        idx = _build_artifact(spark, str(tmp_path / "idx"))
        # m=8 on 8 dims (one subquantizer per component): reconstruction
        # is fine enough that the ADC ranking must surface the new doc
        idx.build_ann("embedding", kind="ivfpq", n_centroids=4, nprobe=4,
                      m=8, ksub=16)
        q = QUERIES[0]
        batch = spark.createDataFrame(
            [(600, [float(x) for x in q], "new")],
            "vec_id long, embedding array<double>, label string",
        )
        _job("retain_most_recent").merge_into(batch, idx.path)
        assert idx._ann_sidecar("embedding") is not None
        got = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK=5 nprobe=4}}{_vec_literal(q)}"
        ).collect()]
        assert 600 in got

    def test_ivfpq_routing(self, spark, tmp_path):
        idx = _build_artifact(spark, str(tmp_path / "idx"))
        idx.build_ann("embedding", kind="ivfpq", n_centroids=4, nprobe=4,
                      m=4, ksub=16)
        q = QUERIES[0]
        got = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK=10 nprobe=4}}{_vec_literal(q)}"
        ).collect()]
        assert len(got) == 10
        # ADC over UNIT vectors (build_ann normalizes for the cosine
        # contract): full-probe compressed recall floor
        assert len(set(got) & set(_exact_ids(q, 10))) >= 5

    def test_unknown_kind_is_loud(self, spark, tmp_path):
        idx = _build_artifact(spark, str(tmp_path / "idx"))
        with pytest.raises(ValueError, match="unsupported"):
            idx.build_ann("embedding", kind="hnsw")

    def test_cli_ann_build(self, spark, tmp_path, capsys):
        import json

        from solr_map_reduce_spark import cli

        idx = _build_artifact(spark, str(tmp_path / "idx"))
        rc = cli.main([
            "ann-build", "--path", idx.path, "--field", "embedding",
            "--n-centroids", str(NC), "--nprobe", str(NC),
        ])
        assert rc == 0
        meta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert meta["kind"] == "ivf" and os.path.isdir(meta["sidecar"])
        q = QUERIES[0]
        got = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK=5 nprobe={NC}}}{_vec_literal(q)}"
        ).collect()]
        assert got == _exact_ids(q, 5)
        rc = cli.main(["ann-compact", "--path", idx.path,
                       "--field", "embedding"])
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out == {"affected_buckets": [], "folded": False}


class TestDegenerateVectors:
    """A NULL vector is no vector and an all-zero one has no direction:
    neither breaks a sidecar build nor its answers."""

    def _artifact(self, spark, out, vec0):
        rows = [(i, vec0 if i == 0 else [float(x) for x in VECS[i]],
                 "even" if i % 2 == 0 else "odd") for i in range(N)]
        _job().build(spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label string"
        ), out)
        return SearchIndex.open(spark, out)

    def test_build_ann_over_a_null_vector(self, spark, tmp_path):
        idx = self._artifact(spark, str(tmp_path / "idx"), None)
        idx.build_ann("embedding", kind="ivf", n_centroids=NC, nprobe=NC)
        assert idx._ann_sidecar("embedding") is not None
        for q in QUERIES.tolist():
            routed = [r["vec_id"] for r in idx.knn(q, k=10).collect()]
            exact = [r["vec_id"] for r in idx.knn(q, k=10, exact=True).collect()]
            assert routed == exact and 0 not in routed

    def test_ivf_assign_leaves_a_null_vector_unbucketed(self, spark):
        ivf = IvfIndex(VECS[:NC], id_col="vec_id")
        df = spark.createDataFrame(
            [(0, None), (1, [float(x) for x in VECS[1]])],
            "vec_id long, embedding array<double>",
        )
        got = {r["vec_id"]: r["bucket"] for r in ivf.assign(df).collect()}
        assert got == {0: None, 1: 1}

    def test_merge_of_null_vectors_tombstones_and_appends_nothing(
        self, spark, tmp_path
    ):
        # an existing key's vector set to NULL and a new key without one:
        # both keys are tombstoned, neither reaches the delta
        import pyarrow.parquet as pq

        idx = self._artifact(spark, str(tmp_path / "idx"),
                             [float(x) for x in VECS[0]])
        side = idx.build_ann("embedding", kind="ivf", n_centroids=NC, nprobe=NC)
        gone = _exact_ids(QUERIES[0], 1)[0]
        batch = spark.createDataFrame(
            [(gone, None, "x"), (700, None, "x")],
            "vec_id long, embedding array<double>, label string",
        )
        _job("retain_most_recent").merge_into(batch, idx.path)
        assert idx._ann_sidecar("embedding") is not None
        for q in QUERIES.tolist():
            routed = [r["vec_id"] for r in idx.knn(q, k=10).collect()]
            exact = [r["vec_id"] for r in idx.knn(q, k=10, exact=True).collect()]
            assert routed == exact and not {gone, 700} & set(routed)

        def keys(sub):
            return {k for root, _d, files in os.walk(os.path.join(side, sub))
                    for f in files if f.endswith(".parquet")
                    for k in pq.read_table(os.path.join(root, f),
                                           columns=["vec_id"])["vec_id"].to_pylist()}

        assert keys("tombstones") == {gone, 700}
        assert keys("delta") == set()

    def test_ivfpq_over_a_zero_vector_serves_finite_scores(self, spark, tmp_path):
        idx = self._artifact(spark, str(tmp_path / "idx"), [0.0] * DIM)
        idx.build_ann("embedding", kind="ivfpq", n_centroids=4, nprobe=4,
                      m=4, ksub=16)
        assert idx._ann_sidecar("embedding") is not None
        for q in QUERIES.tolist():
            rows = idx.knn(q, k=10).collect()
            assert len(rows) == 10
            assert all(np.isfinite(r["score"]) for r in rows)


class TestJoinFromIndex:
    """{!join fromIndex=...} cross-collection join uses the vector
    fixture artifacts (two handles over distinct corpora)."""

    def test_attached_and_path_forms(self, spark, tmp_path):
        a = _build_artifact(spark, str(tmp_path / "a"))
        # second collection: a narrow "allowlist" of even ids
        ddl = "vec_id long, embedding array<double>, label string"
        rows = [(i, [0.0] * DIM, "keep" if i % 10 == 0 else "drop")
                for i in range(50)]
        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
        b_path = str(tmp_path / "b")
        IndexJob(IndexJobConfig(
            schema=IndexSchema(
                fields=(Field("vec_id", "long", required=True),
                        Field("embedding", "array<double>"),
                        Field("label", "string")),
                unique_key="vec_id"),
            shards=1, dedup="none",
        )).build(spark.createDataFrame(rows, ddl), b_path)
        b = SearchIndex.open(spark, b_path)
        a.attach_collection("allow", b)
        got = sorted(r["vec_id"] for r in a.query(
            "{!join fromIndex=allow from=vec_id to=vec_id}label:keep"
        ).collect())
        assert got == [0, 10, 20, 30, 40]
        # an unregistered name is an error even when it happens to be a
        # readable artifact path (Solr errors on an unknown core; the
        # silent open would read arbitrary directories)
        from solr_map_reduce_spark.extensions.search import QuerySyntaxError

        with pytest.raises(QuerySyntaxError, match="fromIndex"):
            a.query(
                f"{{!join fromIndex={b_path} from=vec_id to=vec_id}}"
                "label:keep"
            )
        # explicit opt-in restores the open-by-path form
        a.allow_path_from_index = True
        got2 = sorted(r["vec_id"] for r in a.query(
            f"{{!join fromIndex={b_path} from=vec_id to=vec_id}}label:keep"
        ).collect())
        assert got2 == got
        a.allow_path_from_index = False

    def test_unknown_from_index_is_loud(self, spark, tmp_path):
        from solr_map_reduce_spark.extensions.search import QuerySyntaxError

        a = _build_artifact(spark, str(tmp_path / "a"))
        with pytest.raises(QuerySyntaxError, match="fromIndex"):
            a.query("{!join fromIndex=nope from=x to=y}foo:bar")

    def test_cli_attach_cross_join(self, spark, tmp_path, capsys):
        from solr_map_reduce_spark import cli
        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig

        a = _build_artifact(spark, str(tmp_path / "a"))
        b_path = str(tmp_path / "b")
        IndexJob(IndexJobConfig(
            schema=IndexSchema(
                fields=(Field("vec_id", "long", required=True),
                        Field("embedding", "array<double>"),
                        Field("label", "string")),
                unique_key="vec_id"),
            shards=1, dedup="none",
        )).build(spark.createDataFrame(
            [(i, [0.0] * DIM, "keep" if i < 3 else "drop")
             for i in range(20)],
            "vec_id long, embedding array<double>, label string"), b_path)
        rc = cli.main([
            "query", "--path", a.path, "--attach", f"allow={b_path}",
            "--q", "{!join fromIndex=allow from=vec_id to=vec_id}"
                   "label:keep",
            "--select", "vec_id",
        ])
        assert rc == 0
        import json as _json
        got = sorted(
            _json.loads(line)["vec_id"]
            for line in capsys.readouterr().out.strip().splitlines()
        )
        assert got == [0, 1, 2]


class TestMultiIndexKnn:
    def test_alias_knn_is_global_topk(self, spark, tmp_path):
        """{!knn} over a collection alias must return the GLOBAL topK
        (the unpartitioned-collection contract), not the union of
        per-member topKs."""
        from solr_map_reduce_spark.index_reader import MultiIndex
        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig

        schema = IndexSchema(
            fields=(Field("vec_id", "long", required=True),
                    Field("embedding", "array<double>"),
                    Field("label", "string")),
            unique_key="vec_id",
        )
        halves = []
        for part in (0, 1):
            rows = [
                (i, [float(x) for x in VECS[i]], "x")
                for i in range(N) if i % 2 == part
            ]
            p = str(tmp_path / f"m{part}")
            IndexJob(IndexJobConfig(
                schema=schema, shards=1, dedup="none",
            )).build(spark.createDataFrame(
                rows, "vec_id long, embedding array<double>, label string"
            ), p)
            halves.append(SearchIndex.open(spark, p))
        alias = MultiIndex(halves)
        q = QUERIES[0]
        got = [r["vec_id"] for r in alias.query(
            f"{{!knn f=embedding topK=7 exact=true}}{_vec_literal(q)}"
        ).collect()]
        assert got == _exact_ids(q, 7)  # exactly k rows, global order
        # ANN-routed members merge the same way
        for h in halves:
            h.build_ann("embedding", kind="ivf", n_centroids=4, nprobe=4)
        routed = [r["vec_id"] for r in alias.query(
            f"{{!knn f=embedding topK=7 nprobe=4}}{_vec_literal(q)}"
        ).collect()]
        assert routed == _exact_ids(q, 7)
        # preFilter composes through the alias: each member applies it
        # inside its own routed topK (full probe here, so exact), and
        # the global re-rank of the bounded union equals the filtered
        # oracle
        norms = np.linalg.norm(VECS, axis=1) * np.linalg.norm(q)
        cos = (VECS @ q) / norms
        filt = [r["vec_id"] for r in alias.query(
            "{!knn f=embedding topK=7 nprobe=4 preFilter='vec_id:[0 TO 99]'}"
            + _vec_literal(q)
        ).collect()]
        want = sorted(
            (i for i in range(100)), key=lambda i: (-cos[i], i)
        )[:7]
        assert filt == want


class TestProbeWideningAndSpaces:
    def test_underfilled_probe_widens_to_fill_page(self, spark, tmp_path):
        # deletes tombstone most of the query's nearest bucket: at
        # nprobe=1 the probed live pool holds < k rows, so the serving
        # loop widens nprobe instead of short-paging (Solr's HNSW never
        # returns fewer than k while k matches exist)
        idx = _build_artifact(spark, str(tmp_path / "idx"))
        side = idx.build_ann("embedding", kind="ivf", n_centroids=NC,
                             nprobe=1)
        assert os.path.exists(os.path.join(side, "_ANN_META.json"))
        kind, ivf, _side, meta = idx._ann_sidecar("embedding")
        q = QUERIES[0]
        d = ((ivf.centroids - q[None, :]) ** 2).sum(axis=1)
        b0 = int(d.argsort()[0])
        # bucket assignment mirrors IvfIndex.assign: nearest centroid
        assign = (
            ((VECS[:, None, :] - ivf.centroids[None, :, :]) ** 2)
            .sum(axis=2).argmin(axis=1)
        )
        members = [i for i in range(N) if assign[i] == b0]
        keep = set(members[:2])  # leave only 2 alive in the bucket
        doomed = [i for i in members if i not in keep]
        assert len(doomed) > 0
        _job().delete_where(
            spark, idx.path,
            F.col("vec_id").isin([int(i) for i in doomed]),
        )
        assert idx._ann_sidecar("embedding") is not None  # still routed
        got = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK=5 nprobe=1}}{_vec_literal(q)}"
        ).collect()]
        assert len(got) == 5, got
        assert not set(got) & set(doomed)

    def test_prefilter_underfill_widens_to_exact(self, spark, tmp_path):
        # a preFilter so selective that NO single bucket holds k
        # matches: widening must keep doubling until the page fills.
        # EXACTLY k matching ids makes the assertion centroid-geometry-
        # robust: the loop cannot stop before it has found all k (any
        # probed subset is short), so the page must be precisely the k
        # matches in cosine order — whatever buckets the fitted
        # centroids happened to spread them over.  (The earlier 6-id
        # form silently depended on the k-means draw never co-locating
        # 5 of them below full probe; the widening contract only
        # guarantees FULL pages, with exactness at full probe.)
        idx = _build_artifact(spark, str(tmp_path / "idx"))
        idx.build_ann("embedding", kind="ivf", n_centroids=NC, nprobe=1)
        q = QUERIES[1]
        norms = np.linalg.norm(VECS, axis=1) * np.linalg.norm(q)
        cos = (VECS @ q) / norms
        chosen = [5, 42, 97, 130, 166]
        upd = spark.createDataFrame(
            [(i, "picked") for i in chosen], "vec_id long, label string"
        )
        _job().update_fields(upd, idx.path)
        assert idx._ann_sidecar("embedding") is not None
        got = [r["vec_id"] for r in idx.query(
            "{!knn f=embedding topK=5 nprobe=1 preFilter='label:picked'}"
            + _vec_literal(q)
        ).collect()]
        want = sorted(chosen, key=lambda i: (-cos[i], i))
        assert got == want
        # and an explicit FULL probe is the provably exact filtered
        # top-k even with more matches than k
        upd2 = spark.createDataFrame(
            [(i, "picked") for i in chosen + [199, 23]],
            "vec_id long, label string",
        )
        _job().update_fields(upd2, idx.path)
        got_full = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK=5 nprobe={NC} "
            "preFilter='label:picked'}" + _vec_literal(q)
        ).collect()]
        want_full = sorted(
            chosen + [199, 23], key=lambda i: (-cos[i], i)
        )[:5]
        assert got_full == want_full

    @pytest.mark.slow  # scale-invariance sweep; probe selection covered by the fixed-scale probe/widening tests
    def test_ivfpq_probe_selection_is_scale_invariant(self, spark, tmp_path):
        # the ivfpq base is fit on UNIT vectors: probe-bucket ranking
        # must normalize the query into that same space, so a scaled
        # query (cosine is scale-invariant) probes the same buckets and
        # returns the same page
        idx = _build_artifact(spark, str(tmp_path / "idx"))
        idx.build_ann("embedding", kind="ivfpq", n_centroids=4, nprobe=1,
                      m=4, ksub=16)
        q = QUERIES[2]
        got = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK=5 nprobe=1}}{_vec_literal(q)}"
        ).collect()]
        scaled = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK=5 nprobe=1}}"
            + _vec_literal(1000.0 * q)
        ).collect()]
        assert got == scaled


class TestAnnBackupLifecycle:
    def test_restored_artifact_serves_routed_or_exact_loud(
        self, spark, tmp_path
    ):
        # backup tree-copies the _ann sidecar; the restored artifact's
        # manifest is byte-identical to the snapshot's, so the sidecar's
        # pinned generation matches and {!knn} serves ROUTED — and a
        # generation mismatch (tampered pin) must fall back to the exact
        # scan, never a stale answer
        from solr_map_reduce_spark.indexing import backup, restore

        path = str(tmp_path / "live")
        idx = _build_artifact(spark, path)
        idx.build_ann("embedding", kind="ivf", n_centroids=NC, nprobe=NC)
        q = QUERIES[0]
        want = _exact_ids(q, 5)
        dest = str(tmp_path / "bak")
        backup(path, dest)
        # the backup itself serves routed (its manifest copied verbatim)
        bidx = SearchIndex.open(spark, dest)
        assert bidx._ann_sidecar("embedding") is not None
        got_b = [r["vec_id"] for r in bidx.query(
            f"{{!knn f=embedding topK=5 nprobe={NC}}}{_vec_literal(q)}"
        ).collect()]
        assert got_b == want
        # mutate live (delete the top hit) — delta-maintained, routed,
        # and the answer reflects the mutation
        _job().delete_where(spark, path, F.col("vec_id") == want[0])
        idx2 = SearchIndex.open(spark, path)
        got_m = [r["vec_id"] for r in idx2.query(
            f"{{!knn f=embedding topK=5 nprobe={NC}}}{_vec_literal(q)}"
        ).collect()]
        assert want[0] not in got_m
        # restore: a fresh handle serves ROUTED again, pre-mutation rows
        restore(dest, path)
        ridx = SearchIndex.open(spark, path)
        assert ridx._ann_sidecar("embedding") is not None
        got_r = [r["vec_id"] for r in ridx.query(
            f"{{!knn f=embedding topK=5 nprobe={NC}}}{_vec_literal(q)}"
        ).collect()]
        assert got_r == want
        # generation-mismatch side: tamper the restored sidecar's pin —
        # the handle must refuse to route (exact fallback, still correct)
        import json
        meta_path = os.path.join(
            path, "_ann", "embedding", "_ANN_META.json"
        )
        m = json.loads(open(meta_path).read())
        m["built_generation"] = "not-the-current-generation"
        open(meta_path, "w").write(json.dumps(m))
        tampered = SearchIndex.open(spark, path)
        assert tampered._ann_sidecar("embedding") is None
        got_t = [r["vec_id"] for r in tampered.query(
            f"{{!knn f=embedding topK=5}}{_vec_literal(q)}"
        ).collect()]
        assert got_t == want


def test_cli_allow_path_from_index_flag(spark, tmp_path, capsys):
    from solr_map_reduce_spark import cli

    a = _build_artifact(spark, str(tmp_path / "a"))
    b_path = str(tmp_path / "b")
    IndexJob(IndexJobConfig(
        schema=IndexSchema(
            fields=(Field("vec_id", "long", required=True),
                    Field("embedding", "array<double>"),
                    Field("label", "string")),
            unique_key="vec_id"),
        shards=1, dedup="none",
    )).build(spark.createDataFrame(
        [(i, [0.0] * DIM, "keep" if i < 2 else "drop") for i in range(10)],
        "vec_id long, embedding array<double>, label string"), b_path)
    q = f"{{!join fromIndex={b_path} from=vec_id to=vec_id}}label:keep"
    # without the flag: unregistered path = loud error
    from solr_map_reduce_spark.extensions.search import QuerySyntaxError

    with pytest.raises(QuerySyntaxError, match="fromIndex"):
        cli.main(["query", "--path", a.path, "--q", q,
                  "--select", "vec_id"])
    capsys.readouterr()
    # with the flag: the path form serves
    rc = cli.main(["query", "--path", a.path, "--allow-path-from-index",
                   "--q", q, "--select", "vec_id"])
    assert rc == 0
    import json as _json
    got = sorted(
        _json.loads(line)["vec_id"]
        for line in capsys.readouterr().out.strip().splitlines()
    )
    assert got == [0, 1]


class TestAutoNprobe:
    def test_auto_picks_and_records(self, spark, tmp_path):
        # nprobe="auto": the serving default comes from a held-out
        # recall probe — the smallest p whose estimated recall@10 meets
        # the target, recorded auditable in the meta
        import json

        idx = _build_artifact(spark, str(tmp_path / "idx"))
        side = idx.build_ann(
            "embedding", kind="ivf", n_centroids=NC, nprobe="auto",
            target_recall=0.9,
        )
        meta = json.loads(
            open(os.path.join(side, "_ANN_META.json")).read()
        )
        p = meta["nprobe"]
        assert isinstance(p, int) and 1 <= p <= NC
        auto = meta["nprobe_auto"]
        assert auto["target_recall"] == 0.9
        assert auto["estimated_recall"] >= 0.9 or p == NC
        assert auto["sample_n"] > 0 and auto["n_queries"] > 0
        # the picked default serves (full page, routed)
        q = QUERIES[0]
        got = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK=10}}{_vec_literal(q)}"
        ).collect()]
        assert len(got) == 10

    def test_auto_monotone_with_target(self, spark, tmp_path):
        # a stricter target can never pick a SMALLER nprobe (recall(p)
        # is cumulative in p); target 1.0 on random gaussian vectors
        # needs more probes than target 0.5
        import json

        idx = _build_artifact(spark, str(tmp_path / "idx"))
        picks = {}
        for tgt in (0.5, 1.0):
            side = idx.build_ann(
                "embedding", kind="ivf", n_centroids=NC, nprobe="auto",
                target_recall=tgt,
            )
            meta = json.loads(
                open(os.path.join(side, "_ANN_META.json")).read()
            )
            picks[tgt] = meta["nprobe"]
        assert picks[0.5] <= picks[1.0], picks

    def test_auto_cli(self, spark, tmp_path, capsys):
        import json as _json

        from solr_map_reduce_spark import cli

        idx = _build_artifact(spark, str(tmp_path / "idx"))
        rc = cli.main([
            "ann-build", "--path", idx.path, "--field", "embedding",
            "--kind", "ivf", "--n-centroids", str(NC),
            "--nprobe", "auto",
        ])
        assert rc == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert isinstance(out["nprobe"], int)
        assert "nprobe_auto" in out


class TestAdaptiveNprobe:
    """nprobe='adaptive': per-query probe width from the query's own
    coarse-distance profile — probe the buckets within tau× the
    nearest-centroid distance (SPANN's ε-ball closure rule), tau
    calibrated at build from the same held-out sample machinery as
    nprobe='auto'."""

    def _clustered_artifact(self, spark, out, n_clusters=4, per=50):
        # well-separated clusters so "query at a centroid" vs "query
        # between two centroids" have sharply different profiles
        r = np.random.RandomState(13)
        centers = 20.0 * np.eye(n_clusters, DIM)
        V = np.vstack([
            centers[c] + 0.5 * r.randn(per, DIM) for c in range(n_clusters)
        ])
        schema = IndexSchema(
            fields=(Field("vec_id", "long", required=True),
                    Field("embedding", "array<double>")),
            unique_key="vec_id",
        )
        rows = [(i, [float(x) for x in V[i]]) for i in range(len(V))]
        IndexJob(IndexJobConfig(schema=schema, shards=2, dedup="none")).build(
            spark.createDataFrame(
                rows, "vec_id long, embedding array<double>"
            ), out)
        return SearchIndex.open(spark, out), V, centers

    def test_adaptive_calibrates_and_serves(self, spark, tmp_path):
        import json
        idx, V, centers = self._clustered_artifact(spark, str(tmp_path / "a"))
        side = idx.build_ann(
            "embedding", kind="ivf", n_centroids=4, nprobe="adaptive",
            target_recall=0.9,
        )
        meta = json.loads(open(os.path.join(side, "_ANN_META.json")).read())
        ad = meta["adaptive"]
        assert ad["tau"] is not None and ad["tau"] >= 1.0
        assert ad["estimated_recall"] >= 0.9
        assert isinstance(meta["nprobe"], int)  # integer fallback kept
        assert 1 <= ad["mean_nprobe"] <= ad["max_nprobe"] <= 4
        # the adaptive default serves a full correct page with NO
        # explicit nprobe param
        q = centers[0]
        cos = (V @ q) / (np.linalg.norm(V, axis=1) * np.linalg.norm(q))
        want = sorted(range(len(V)), key=lambda i: (-cos[i], i))[:10]
        got = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK=10}}{_vec_literal(q)}"
        ).collect()]
        assert len(got) == 10
        assert len(set(got) & set(want)) >= 8  # easy centroid query

    def test_per_query_width_tracks_the_profile(self, spark, tmp_path):
        from solr_map_reduce_spark.extensions.ann_sidecar import (
            adaptive_nprobe,
        )
        idx, V, centers = self._clustered_artifact(spark, str(tmp_path / "b"))
        idx.build_ann("embedding", kind="ivf", n_centroids=4,
                      nprobe="adaptive")
        kind, ivf, side_, meta = idx._ann_sidecar("embedding")
        # a query AT a fitted centroid has one dominant bucket; a query
        # at the midpoint of two centroids is ambiguous between them —
        # its probe width must be strictly larger
        easy = adaptive_nprobe(meta, ivf, ivf.centroids[0])
        mid = 0.5 * (ivf.centroids[0] + ivf.centroids[1])
        hard = adaptive_nprobe(meta, ivf, mid)
        assert easy < hard, (easy, hard)
        assert hard >= 2

    def test_explicit_params_override_and_validate(self, spark, tmp_path):
        from solr_map_reduce_spark.extensions.search import QuerySyntaxError
        idx, V, centers = self._clustered_artifact(spark, str(tmp_path / "c"))
        # uncalibrated sidecar: nprobe=adaptive must refuse loudly
        idx.build_ann("embedding", kind="ivf", n_centroids=4, nprobe=2)
        q = centers[1]
        with pytest.raises(QuerySyntaxError, match="adaptive"):
            idx.query(
                f"{{!knn f=embedding topK=5 nprobe=adaptive}}"
                + _vec_literal(q)
            )
        # calibrated sidecar: explicit INTEGER nprobe still overrides
        idx2 = SearchIndex.open(spark, idx.path)
        idx2.build_ann("embedding", kind="ivf", n_centroids=4,
                       nprobe="adaptive")
        got = [r["vec_id"] for r in idx2.query(
            f"{{!knn f=embedding topK=5 nprobe=4}}" + _vec_literal(q)
        ).collect()]
        cos = (V @ q) / (np.linalg.norm(V, axis=1) * np.linalg.norm(q))
        want = sorted(range(len(V)), key=lambda i: (-cos[i], i))[:5]
        assert got == want  # full probe == exact
        # and nprobe=adaptive as an explicit param works when calibrated
        got_a = [r["vec_id"] for r in idx2.query(
            f"{{!knn f=embedding topK=5 nprobe=adaptive}}" + _vec_literal(q)
        ).collect()]
        assert len(got_a) == 5

    def test_adaptive_on_ivfpq(self, spark, tmp_path):
        # the calibration and the per-query pick both run in the
        # ivfpq's unit space (same convention as probe selection)
        import json
        idx, V, centers = self._clustered_artifact(spark, str(tmp_path / "e"))
        side = idx.build_ann("embedding", kind="ivfpq", n_centroids=4,
                             nprobe="adaptive", m=4, ksub=16)
        meta = json.loads(open(os.path.join(side, "_ANN_META.json")).read())
        assert meta["adaptive"]["tau"] is not None
        q = centers[2]
        got = idx.query(
            f"{{!knn f=embedding topK=10}}{_vec_literal(q)}"
        ).collect()
        assert len(got) == 10

    def test_adaptive_mips_dot_calibrates_and_serves(self, spark, tmp_path):
        # a NON-unit corpus calibrated with nprobe="adaptive" gets a
        # SECOND tau (meta adaptive_dot) on the MIPS-augmented profile,
        # and {!knn similarity=dot} with no nprobe serves through it
        import json
        idx, V, centers = self._clustered_artifact(spark, str(tmp_path / "m"))
        side = idx.build_ann(
            "embedding", kind="ivf", n_centroids=4, nprobe="adaptive",
        )
        meta = json.loads(open(os.path.join(side, "_ANN_META.json")).read())
        assert not meta["unit_norms"]
        ad = meta["adaptive_dot"]
        assert ad["query_space"] == "mips_augmented"
        assert ad["tau"] is not None and ad["tau"] >= 1.01
        assert ad["estimated_recall"] >= 0.9
        q = centers[1]
        dots = V @ q
        want = sorted(range(len(V)), key=lambda i: (-dots[i], i))[:10]
        got = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK=10 similarity=dot}}{_vec_literal(q)}"
        ).collect()]
        assert len(got) == 10
        assert len(set(got) & set(want)) >= 8

    def test_adaptive_mips_ball_is_probe_order_prefix(self, spark, tmp_path):
        # the tau-ball adaptive_nprobe_dot counts must be a PREFIX of
        # _mips_probe_order's bucket ranking (monotone map between the
        # augmented score and the angular distance) — otherwise the
        # counted width and the probed set diverge
        from solr_map_reduce_spark.extensions.ann_sidecar import (
            _mips_probe_order,
            _mips_profile,
            adaptive_nprobe_dot,
        )
        idx, V, centers = self._clustered_artifact(spark, str(tmp_path / "p"))
        idx.build_ann("embedding", kind="ivf", n_centroids=4,
                      nprobe="adaptive")
        kind, ivf, side_, meta = idx._ann_sidecar("embedding")
        r = np.random.RandomState(5)
        for _ in range(10):
            q = r.randn(DIM) * r.uniform(0.1, 30.0)
            n = adaptive_nprobe_dot(meta, ivf, q)
            order = _mips_probe_order(meta, ivf.centroids)(q)
            d = _mips_profile(meta["dot_route"], ivf.centroids, q)
            ball = set(np.where(
                d <= meta["adaptive_dot"]["tau"] * max(d.min(), 1e-12)
            )[0].tolist())
            assert 1 <= n <= 4
            assert set(order[:n]) == ball or n == len(ball)

    def test_adaptive_dot_width_tracks_the_profile(self, spark, tmp_path):
        # a dot query aligned with one cluster's direction probes fewer
        # buckets than one aimed between two clusters
        from solr_map_reduce_spark.extensions.ann_sidecar import (
            adaptive_nprobe_dot,
        )
        idx, V, centers = self._clustered_artifact(spark, str(tmp_path / "w"))
        idx.build_ann("embedding", kind="ivf", n_centroids=4,
                      nprobe="adaptive")
        kind, ivf, side_, meta = idx._ann_sidecar("embedding")
        easy = adaptive_nprobe_dot(meta, ivf, ivf.centroids[0])
        mid = 0.5 * (ivf.centroids[0] + ivf.centroids[1])
        hard = adaptive_nprobe_dot(meta, ivf, mid)
        assert easy <= hard
        assert hard >= 2

    def test_adaptive_dot_scale_invariant(self, spark, tmp_path):
        # dot's top-k and the MIPS-augmented profile are both invariant
        # to a positive rescale of the query — the adaptive width must
        # be too
        from solr_map_reduce_spark.extensions.ann_sidecar import (
            adaptive_nprobe_dot,
        )
        idx, V, centers = self._clustered_artifact(spark, str(tmp_path / "s"))
        idx.build_ann("embedding", kind="ivf", n_centroids=4,
                      nprobe="adaptive")
        kind, ivf, side_, meta = idx._ann_sidecar("embedding")
        q = 0.7 * centers[0] + 0.3 * centers[2]
        widths = {adaptive_nprobe_dot(meta, ivf, s * q)
                  for s in (1e-4, 1.0, 1e4)}
        assert len(widths) == 1

    def test_adaptive_cosine_scale_invariant(self, spark, tmp_path):
        # cosine's answer depends only on the query DIRECTION: the
        # corpus-RMS rescale (query_space=corpus_rms) makes the
        # adaptive width invariant to the query's norm too — the raw
        # profile collapsed tiny-norm queries to ~1 bucket and forced
        # huge-norm ones toward full probe
        from solr_map_reduce_spark.extensions.ann_sidecar import (
            adaptive_nprobe,
        )
        idx, V, centers = self._clustered_artifact(spark, str(tmp_path / "c2"))
        idx.build_ann("embedding", kind="ivf", n_centroids=4,
                      nprobe="adaptive")
        kind, ivf, side_, meta = idx._ann_sidecar("embedding")
        assert meta["adaptive"]["query_space"] == "corpus_rms"
        assert meta["adaptive"]["rms_norm"] > 0
        q = 0.5 * (ivf.centroids[0] + ivf.centroids[1])
        widths = {adaptive_nprobe(meta, ivf, s * q)
                  for s in (1e-4, 1.0, 1e4)}
        assert len(widths) == 1
        # and the served page is identical across query scales
        pages = [
            tuple(r["vec_id"] for r in idx.query(
                f"{{!knn f=embedding topK=10}}{_vec_literal(s * centers[3])}"
            ).collect())
            for s in (1e-3, 1.0, 1e3)
        ]
        assert pages[0] == pages[1] == pages[2]

    def test_adaptive_dot_explicit_refuses_without_calibration(
        self, spark, tmp_path
    ):
        # a sidecar calibrated BEFORE the MIPS tau existed (meta has
        # adaptive but not adaptive_dot): explicit nprobe=adaptive on a
        # non-unit dot query refuses loudly instead of silently using
        # the wrong-space tau; implicit queries keep the integer
        # fallback
        import json
        from solr_map_reduce_spark.extensions.search import QuerySyntaxError
        idx, V, centers = self._clustered_artifact(spark, str(tmp_path / "l"))
        side = idx.build_ann("embedding", kind="ivf", n_centroids=4,
                             nprobe="adaptive")
        mp = os.path.join(side, "_ANN_META.json")
        meta = json.loads(open(mp).read())
        del meta["adaptive_dot"]
        with open(mp, "w") as f:
            f.write(json.dumps(meta))
        idx2 = SearchIndex.open(spark, idx.path)
        q = centers[0]
        with pytest.raises(QuerySyntaxError, match="MIPS"):
            idx2.query(
                "{!knn f=embedding topK=5 similarity=dot nprobe=adaptive}"
                + _vec_literal(q)
            )
        # implicit: integer fallback still serves a full page
        got = idx2.query(
            f"{{!knn f=embedding topK=5 similarity=dot}}{_vec_literal(q)}"
        ).collect()
        assert len(got) == 5

    def test_adaptive_cli(self, spark, tmp_path, capsys):
        import json as _json

        from solr_map_reduce_spark import cli

        idx, V, centers = self._clustered_artifact(spark, str(tmp_path / "d"))
        rc = cli.main([
            "ann-build", "--path", idx.path, "--field", "embedding",
            "--kind", "ivf", "--n-centroids", "4",
            "--nprobe", "adaptive", "--target-recall", "0.85",
        ])
        assert rc == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert isinstance(out["nprobe"], int)
        assert out["adaptive"]["target_recall"] == 0.85
        assert out["adaptive"]["tau"] >= 1.0


def test_ivfpq_residual_compact_preserves_page(spark, tmp_path):
    # residual PQ codes are BUCKET-RELATIVE (v̂ − c_bucket): compact
    # folds delta rows into their bucket directories without ever
    # reassigning buckets, so the codes stay valid — the routed page at
    # full probe is identical before and after the fold
    idx = _build_artifact(spark, str(tmp_path / "idx"))
    idx.build_ann("embedding", kind="ivfpq", n_centroids=4, nprobe=4,
                  m=8, ksub=16)
    q = QUERIES[0]
    batch = spark.createDataFrame(
        [(700, [float(x) for x in q], "new")],
        "vec_id long, embedding array<double>, label string",
    )
    _job("retain_most_recent").merge_into(batch, idx.path)
    assert idx._ann_sidecar("embedding") is not None
    before = [r["vec_id"] for r in idx.query(
        f"{{!knn f=embedding topK=5 nprobe=4}}{_vec_literal(q)}"
    ).collect()]
    assert 700 in before  # the delta row serves (residual-encoded)
    out = idx.compact_ann("embedding")
    assert out["folded"] is True
    assert not os.path.exists(
        os.path.join(idx.path, "_ann", "embedding", "delta")
    )
    fresh = SearchIndex.open(spark, idx.path)
    assert fresh._ann_sidecar("embedding") is not None
    after = [r["vec_id"] for r in fresh.query(
        f"{{!knn f=embedding topK=5 nprobe=4}}{_vec_literal(q)}"
    ).collect()]
    assert after == before


class TestDotRouting:
    """{!knn similarity=dot} routes through the sidecar iff the stored
    corpus is unit-norm (build-time invariant, upsert-downgraded)."""

    def _unit_artifact(self, spark, out):
        schema = IndexSchema(
            fields=(Field("vec_id", "long", required=True),
                    Field("embedding", "array<double>"),
                    Field("label", "string")),
            unique_key="vec_id",
        )
        U = VECS / np.linalg.norm(VECS, axis=1, keepdims=True)
        rows = [(i, [float(x) for x in U[i]], "x") for i in range(N)]
        IndexJob(IndexJobConfig(schema=schema, shards=2, dedup="none")).build(
            spark.createDataFrame(
                rows, "vec_id long, embedding array<double>, label string"
            ), out)
        return SearchIndex.open(spark, out), U

    def test_unit_corpus_routes_dot_full_probe_exact(self, spark, tmp_path):
        import json
        idx, U = self._unit_artifact(spark, str(tmp_path / "u"))
        side = idx.build_ann("embedding", kind="ivf", n_centroids=NC,
                             nprobe=NC)
        meta = json.loads(open(os.path.join(side, "_ANN_META.json")).read())
        assert meta["unit_norms"] is True
        q = QUERIES[0]
        dots = U @ q
        want = sorted(range(N), key=lambda i: (-dots[i], i))[:7]
        got = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK=7 similarity=dot nprobe={NC}}}"
            + _vec_literal(q)
        ).collect()]
        assert got == want
        # routing proof: garbage every NON-probed bucket at nprobe=2 —
        # a corpus scan would die, the routed read must not notice
        kind, ivf, side_, _m = idx._ann_sidecar("embedding")
        d = ((ivf.centroids - q[None, :]) ** 2).sum(axis=1)
        probe = {int(b) for b in d.argsort()[:2]}
        before = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK=5 similarity=dot nprobe=2}}"
            + _vec_literal(q)
        ).collect()]
        vectors = os.path.join(side_, "vectors")
        for bdir in os.listdir(vectors):
            if bdir.startswith("bucket=") and \
                    int(bdir.split("=", 1)[1]) not in probe:
                for fn in os.listdir(os.path.join(vectors, bdir)):
                    if fn.endswith(".parquet"):
                        with open(os.path.join(vectors, bdir, fn), "wb") as fh:
                            fh.write(b"\x00garbage\x00" * 16)
        fresh = SearchIndex.open(spark, idx.path)
        got2 = [r["vec_id"] for r in fresh.query(
            f"{{!knn f=embedding topK=5 similarity=dot nprobe=2}}"
            + _vec_literal(q)
        ).collect()]
        assert got2 == before

    def test_nonunit_corpus_dot_exact_at_full_probe(self, spark, tmp_path):
        import json
        idx = _build_artifact(spark, str(tmp_path / "raw"))
        side = idx.build_ann("embedding", kind="ivf", n_centroids=NC,
                             nprobe=NC)
        meta = json.loads(open(os.path.join(side, "_ANN_META.json")).read())
        assert meta["unit_norms"] is False
        assert "dot_route" in meta  # r12: MIPS stats recorded at build
        q = QUERIES[1]
        dots = VECS @ q
        want = sorted(range(N), key=lambda i: (-dots[i], i))[:5]
        got = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK=5 similarity=dot}}{_vec_literal(q)}"
        ).collect()]
        assert got == want  # routed MIPS at full probe == exact

    def test_nonunit_upsert_downgrades_dot_only(self, spark, tmp_path):
        import json
        idx, U = self._unit_artifact(spark, str(tmp_path / "u2"))
        side = idx.build_ann("embedding", kind="ivf", n_centroids=NC,
                             nprobe=NC)
        q = QUERIES[2]
        # upsert a LONG (non-unit) vector aligned with the query: it
        # must top the dot ranking but not cosine's by magnitude
        # and a NaN vector, which turns unit_norms off but must not poison
        # the MIPS stats
        batch = spark.createDataFrame(
            [(900, [float(5.0 * x) for x in (q / np.linalg.norm(q))], "x"),
             (902, [float("nan")] * DIM, "x")],
            "vec_id long, embedding array<double>, label string",
        )
        _job("retain_most_recent").merge_into(batch, idx.path)
        meta = json.loads(open(os.path.join(side, "_ANN_META.json")).read())
        assert meta["unit_norms"] is False  # invariant broken by batch
        dr = meta["dot_route"]
        assert np.isfinite([dr["max_norm"], *dr["sum_nrm2"]]).all()
        # dot: serves the long vector first (r12: routed MIPS at full
        # probe — was the exact fallback before the dot_route stats)
        got = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK=3 similarity=dot}}{_vec_literal(q)}"
        ).collect()]
        assert got[0] == 900
        # cosine: STILL routed (sidecar live) and the new doc serves
        assert idx._ann_sidecar("embedding") is not None
        got_c = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK=3 nprobe={NC}}}{_vec_literal(q)}"
        ).collect()]
        assert got_c[0] == 900

    def test_vacuous_upsert_keeps_dot_routed(self, spark, tmp_path):
        import json
        idx, U = self._unit_artifact(spark, str(tmp_path / "u3"))
        side = idx.build_ann("embedding", kind="ivf", n_centroids=NC,
                             nprobe=NC)
        # a batch that adds NO vectors (null embedding) cannot break
        # the unit invariant
        from pyspark.sql.types import (
            ArrayType, DoubleType, LongType, StringType, StructField,
            StructType,
        )
        batch = spark.createDataFrame(
            [(901, None, "x")],
            StructType([
                StructField("vec_id", LongType()),
                StructField("embedding", ArrayType(DoubleType())),
                StructField("label", StringType()),
            ]),
        )
        _job("retain_most_recent").merge_into(batch, idx.path)
        meta = json.loads(open(os.path.join(side, "_ANN_META.json")).read())
        assert meta["unit_norms"] is True


class TestDotRoutingIvfPq:
    """Unit-norm dot routes on ivfpq-kind sidecars too: PQ codes are
    unit-encoded, so the ADC score (cosine over the decoded vector)
    EQUALS dot under the stored-corpus unit-norm invariant — the
    ``kind == "ivf"`` conjunct was one stricter than the math
    requires (r11 verdict Missing #2 sub-case)."""

    def _unit_artifact(self, spark, out):
        schema = IndexSchema(
            fields=(Field("vec_id", "long", required=True),
                    Field("embedding", "array<double>"),
                    Field("label", "string")),
            unique_key="vec_id",
        )
        U = VECS / np.linalg.norm(VECS, axis=1, keepdims=True)
        rows = [(i, [float(x) for x in U[i]], "x") for i in range(N)]
        IndexJob(IndexJobConfig(schema=schema, shards=2, dedup="none")).build(
            spark.createDataFrame(
                rows, "vec_id long, embedding array<double>, label string"
            ), out)
        return SearchIndex.open(spark, out), U

    def test_unit_corpus_routes_dot_ivfpq(self, spark, tmp_path):
        import json
        idx, U = self._unit_artifact(spark, str(tmp_path / "pq_u"))
        side = idx.build_ann("embedding", kind="ivfpq", n_centroids=4,
                             nprobe=4, m=8, ksub=16)
        meta = json.loads(open(os.path.join(side, "_ANN_META.json")).read())
        assert meta["unit_norms"] is True
        q = QUERIES[0]
        dots = U @ q
        want = sorted(range(N), key=lambda i: (-dots[i], i))[:10]
        got = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK=10 similarity=dot nprobe=4}}"
            + _vec_literal(q)
        ).collect()]
        # ADC is approximate: full-probe compressed recall floor (same
        # bound the cosine ivfpq routing test uses)
        assert len(got) == 10
        assert len(set(got) & set(want)) >= 5
        # the ADC scores ARE the cosine scores, so the dot page must
        # equal the cosine page at the same nprobe — the equality that
        # justifies routing
        got_cos = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK=10 nprobe=4}}" + _vec_literal(q)
        ).collect()]
        assert got == got_cos

    def test_ivfpq_dot_probe_is_pruned(self, spark, tmp_path):
        # routing proof: garbage every NON-probed codes bucket at
        # nprobe=1 — an exact corpus fallback or unpruned read would
        # die, the routed read must not notice
        idx, U = self._unit_artifact(spark, str(tmp_path / "pq_t"))
        side = idx.build_ann("embedding", kind="ivfpq", n_centroids=4,
                             nprobe=4, m=8, ksub=16)
        q = QUERIES[1]
        kind, index, side_, _m = idx._ann_sidecar("embedding")
        assert kind == "ivfpq"
        qn = q / np.linalg.norm(q)  # probe selection is in unit space
        d = ((index.ivf.centroids - qn[None, :]) ** 2).sum(axis=1)
        probe = {int(d.argsort()[0])}
        before = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK=3 similarity=dot nprobe=1}}"
            + _vec_literal(q)
        ).collect()]
        codes = os.path.join(side_, "codes")
        for bdir in os.listdir(codes):
            if bdir.startswith("bucket=") and \
                    int(bdir.split("=", 1)[1]) not in probe:
                for fn in os.listdir(os.path.join(codes, bdir)):
                    if fn.endswith(".parquet"):
                        with open(os.path.join(codes, bdir, fn), "wb") as fh:
                            fh.write(b"\x00garbage\x00" * 16)
        fresh = SearchIndex.open(spark, idx.path)
        got = [r["vec_id"] for r in fresh.query(
            f"{{!knn f=embedding topK=3 similarity=dot nprobe=1}}"
            + _vec_literal(q)
        ).collect()]
        assert got == before

    def test_nonunit_ivfpq_keeps_dot_exact(self, spark, tmp_path):
        import json
        idx = _build_artifact(spark, str(tmp_path / "pq_raw"))
        side = idx.build_ann("embedding", kind="ivfpq", n_centroids=4,
                             nprobe=4, m=8, ksub=16)
        meta = json.loads(open(os.path.join(side, "_ANN_META.json")).read())
        assert meta["unit_norms"] is False
        q = QUERIES[2]
        dots = VECS @ q
        want = sorted(range(N), key=lambda i: (-dots[i], i))[:5]
        got = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK=5 similarity=dot}}{_vec_literal(q)}"
        ).collect()]
        assert got == want  # exact fallback, correct

    def test_nonunit_upsert_downgrades_ivfpq_dot(self, spark, tmp_path):
        import json
        idx, U = self._unit_artifact(spark, str(tmp_path / "pq_u2"))
        side = idx.build_ann("embedding", kind="ivfpq", n_centroids=4,
                             nprobe=4, m=8, ksub=16)
        q = QUERIES[2]
        batch = spark.createDataFrame(
            [(900, [float(5.0 * x) for x in (q / np.linalg.norm(q))], "x")],
            "vec_id long, embedding array<double>, label string",
        )
        _job("retain_most_recent").merge_into(batch, idx.path)
        meta = json.loads(open(os.path.join(side, "_ANN_META.json")).read())
        assert meta["unit_norms"] is False  # invariant broken by batch
        # dot: exact fallback serves the long vector first (correct)
        got = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK=3 similarity=dot}}{_vec_literal(q)}"
        ).collect()]
        assert got[0] == 900
        # cosine: STILL routed (sidecar live) and the new doc serves
        assert idx._ann_sidecar("embedding") is not None
        got_c = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK=3 nprobe=4}}{_vec_literal(q)}"
        ).collect()]
        assert got_c[0] == 900


class TestMipsDotRouting:
    """{!knn similarity=dot} on a NON-unit corpus routes via
    norm-augmented centroids — the public MIPS→cosine reduction
    (Bachrach et al. 2014; Neyshabur & Srebro 2015).  The fixture is
    adversarial for plain centroid ranking: a unit-norm cluster hugs
    the query direction (cosine-favored) while a norm-10 cluster sits
    36.9° off it (dot-favored, dot ≈ 8 vs ≈ 1) — L2/cosine probe
    ranking picks the WRONG bucket at nprobe=1, the augmented ranking
    must pick the right one."""

    N_EACH = 40
    Q = np.array([1.0, 0.0, 0.0, 0.0])

    def _mips_fixture(self, spark, out):
        r = np.random.RandomState(11)
        a = np.tile([1.0, 0, 0, 0], (self.N_EACH, 1)) \
            + 0.02 * r.randn(self.N_EACH, 4)
        a /= np.linalg.norm(a, axis=1, keepdims=True)
        b = np.tile(10.0 * np.array([0.8, 0.6, 0.0, 0.0]),
                    (self.N_EACH, 1)) + 0.05 * r.randn(self.N_EACH, 4)
        V = np.vstack([a, b])
        schema = IndexSchema(
            fields=(Field("vec_id", "long", required=True),
                    Field("embedding", "array<double>")),
            unique_key="vec_id",
        )
        rows = [(i, [float(x) for x in V[i]]) for i in range(len(V))]
        IndexJob(IndexJobConfig(schema=schema, shards=2, dedup="none")).build(
            spark.createDataFrame(
                rows, "vec_id long, embedding array<double>"
            ), out)
        return SearchIndex.open(spark, out), V

    def _exact_dot(self, V, q, k):
        dots = V @ q
        return sorted(range(len(V)), key=lambda i: (-dots[i], i))[:k]

    def test_full_probe_equals_exact(self, spark, tmp_path):
        import json
        idx, V = self._mips_fixture(spark, str(tmp_path / "m"))
        side = idx.build_ann("embedding", kind="ivf", n_centroids=2,
                             nprobe=2)
        meta = json.loads(open(os.path.join(side, "_ANN_META.json")).read())
        assert meta["unit_norms"] is False
        dr = meta["dot_route"]
        assert len(dr["n"]) == 2 and sum(dr["n"]) == len(V)
        assert abs(dr["max_norm"] - np.linalg.norm(V, axis=1).max()) < 1e-9
        got = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK=7 similarity=dot nprobe=2}}"
            + _vec_literal(self.Q)
        ).collect()]
        assert got == self._exact_dot(V, self.Q, 7)

    def test_low_nprobe_picks_the_dot_bucket(self, spark, tmp_path):
        from solr_map_reduce_spark.extensions.ann_sidecar import (
            _mips_probe_order,
        )
        idx, V = self._mips_fixture(spark, str(tmp_path / "m1"))
        idx.build_ann("embedding", kind="ivf", n_centroids=2, nprobe=2)
        kind, ivf, side_, meta = idx._ann_sidecar("embedding")
        # plain L2-to-centroid ranking picks the SHORT aligned cluster
        # (the wrong bucket for dot) — this is what makes the fixture a
        # real MIPS test rather than one cosine would also pass
        d = ((ivf.centroids - self.Q[None, :]) ** 2).sum(axis=1)
        l2_first = int(d.argsort()[0])
        assert np.linalg.norm(ivf.centroids[l2_first]) < 2.0
        mips_first = _mips_probe_order(meta, ivf.centroids)(self.Q)[0]
        assert mips_first != l2_first
        # the routed page at nprobe=1 is the LONG cluster's exact top-k
        got = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK=3 similarity=dot nprobe=1}}"
            + _vec_literal(self.Q)
        ).collect()]
        assert got == self._exact_dot(V, self.Q, 3)
        assert all(i >= self.N_EACH for i in got)  # all from cluster B

    def test_mips_probe_is_pruned(self, spark, tmp_path):
        from solr_map_reduce_spark.extensions.ann_sidecar import (
            _mips_probe_order,
        )
        idx, V = self._mips_fixture(spark, str(tmp_path / "m2"))
        idx.build_ann("embedding", kind="ivf", n_centroids=2, nprobe=2)
        kind, ivf, side_, meta = idx._ann_sidecar("embedding")
        probe = {_mips_probe_order(meta, ivf.centroids)(self.Q)[0]}
        before = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK=3 similarity=dot nprobe=1}}"
            + _vec_literal(self.Q)
        ).collect()]
        vectors = os.path.join(side_, "vectors")
        for bdir in os.listdir(vectors):
            if bdir.startswith("bucket=") and \
                    int(bdir.split("=", 1)[1]) not in probe:
                for fn in os.listdir(os.path.join(vectors, bdir)):
                    if fn.endswith(".parquet"):
                        with open(os.path.join(vectors, bdir, fn), "wb") as fh:
                            fh.write(b"\x00garbage\x00" * 16)
        fresh = SearchIndex.open(spark, idx.path)
        got = [r["vec_id"] for r in fresh.query(
            f"{{!knn f=embedding topK=3 similarity=dot nprobe=1}}"
            + _vec_literal(self.Q)
        ).collect()]
        assert got == before

    def test_upsert_folds_stats_and_stays_exact(self, spark, tmp_path):
        import json
        idx, V = self._mips_fixture(spark, str(tmp_path / "m3"))
        side = idx.build_ann("embedding", kind="ivf", n_centroids=2,
                             nprobe=2)
        job = IndexJob(IndexJobConfig(
            schema=IndexSchema(
                fields=(Field("vec_id", "long", required=True),
                        Field("embedding", "array<double>")),
                unique_key="vec_id",
            ), shards=2, dedup="retain_most_recent",
        ))
        batch = spark.createDataFrame(
            [(900, [20.0, 0.0, 0.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
        job.merge_into(batch, idx.path)
        meta = json.loads(open(os.path.join(side, "_ANN_META.json")).read())
        assert abs(meta["dot_route"]["max_norm"] - 20.0) < 1e-9
        assert sum(meta["dot_route"]["n"]) == len(V) + 1
        assert idx._ann_sidecar("embedding") is not None  # still routed
        got = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK=1 similarity=dot nprobe=2}}"
            + _vec_literal(self.Q)
        ).collect()]
        assert got == [900]  # full probe: the new 20-norm doc tops dot

    def test_legacy_sidecar_without_stats_falls_back_exact(
        self, spark, tmp_path
    ):
        import json
        import shutil
        idx, V = self._mips_fixture(spark, str(tmp_path / "m4"))
        side = idx.build_ann("embedding", kind="ivf", n_centroids=2,
                             nprobe=2)
        mpath = os.path.join(side, "_ANN_META.json")
        meta = json.loads(open(mpath).read())
        del meta["dot_route"]  # simulate a pre-r12 sidecar
        with open(mpath, "w") as fh:
            fh.write(json.dumps(meta))
        # destroy the sidecar's vectors: a routed dot read would die,
        # the exact corpus-scan fallback must not notice
        shutil.rmtree(os.path.join(side, "vectors"))
        fresh = SearchIndex.open(spark, idx.path)
        got = [r["vec_id"] for r in fresh.query(
            f"{{!knn f=embedding topK=5 similarity=dot}}"
            + _vec_literal(self.Q)
        ).collect()]
        assert got == self._exact_dot(V, self.Q, 5)


def test_dsl_knn_routes_through_sidecar(spark, tmp_path):
    # SearchIndex.knn (the DSL form) shares the qparser's probe +
    # widening loop when a sidecar exists: same (id, score) shape, and
    # at full probe the filtered page equals the exact path's
    idx = _build_artifact(spark, str(tmp_path / "idx"))
    q = QUERIES[0]
    exact_all = [tuple(r) for r in idx.knn(q, k=5).collect()]
    exact_even = [
        tuple(r) for r in idx.knn(q, k=5, filters={"label": "even"}).collect()
    ]
    idx.build_ann("embedding", kind="ivf", n_centroids=NC, nprobe=NC)
    routed_all = [tuple(r) for r in idx.knn(q, k=5).collect()]
    routed_even = [
        tuple(r) for r in idx.knn(q, k=5, filters={"label": "even"}).collect()
    ]
    assert [r[0] for r in routed_all] == [r[0] for r in exact_all]
    assert [r[0] for r in routed_even] == [r[0] for r in exact_even]
    # scores agree to float noise; column shape identical
    for a, b in zip(routed_all, exact_all):
        assert abs(a[1] - b[1]) < 1e-9
    assert len(routed_even) == 5


def test_nprobe_zero_clamps_instead_of_hanging(aidx):
    # nprobe=0 would probe nothing and never grow under doubling — the
    # serving loop clamps to 1 instead of spinning forever
    q = QUERIES[1]
    got = [r["vec_id"] for r in aidx.query(
        f"{{!knn f=embedding topK=3 nprobe=0}}{_vec_literal(q)}"
    ).collect()]
    assert len(got) == 3


def test_dsl_knn_exact_param_opts_out(spark, tmp_path):
    # knn(exact=True) is the {!knn} exact=true equivalent: the sidecar
    # is never consulted even when present
    idx = _build_artifact(spark, str(tmp_path / "idx"))
    idx.build_ann("embedding", kind="ivf", n_centroids=NC, nprobe=1)
    q = QUERIES[2]
    got = [r["vec_id"] for r in idx.knn(q, k=5, exact=True).collect()]
    assert got == _exact_ids(q, 5)


def test_malformed_int_params_are_clean_errors(aidx):
    from solr_map_reduce_spark.extensions.search import QuerySyntaxError

    q = _vec_literal(QUERIES[0])
    with pytest.raises(QuerySyntaxError, match="topK"):
        aidx.query("{!knn f=embedding topK=ten}" + q)
    with pytest.raises(QuerySyntaxError, match="nprobe"):
        aidx.query("{!knn f=embedding topK=5 nprobe=two}" + q)


class TestLifecycleHardening:
    def test_failed_rebuild_reads_stale_not_wrong(self, spark, tmp_path,
                                                  monkeypatch):
        # rebuild ordering: the OLD meta is staled before anything else
        # touches disk, so a rebuild that dies mid-fit leaves the
        # sidecar reading as STALE (exact fallback) — never the old
        # meta as generation-current over a half-rebuilt base
        idx = _build_artifact(spark, str(tmp_path / "idx"))
        idx.build_ann("embedding", kind="ivf", n_centroids=NC, nprobe=NC)
        q = QUERIES[0]
        top = _exact_ids(q, 1)[0]
        # a mutation so the sidecar carries tombstones + delta
        batch = spark.createDataFrame(
            [(top, [float(x) for x in VECS[top]], "same")],
            "vec_id long, embedding array<double>, label string",
        )
        _job("retain_most_recent").merge_into(batch, idx.path)
        assert idx._ann_sidecar("embedding") is not None
        from solr_map_reduce_spark.extensions import similarity as sim

        def _boom(*a, **k):
            raise RuntimeError("injected mid-rebuild crash")

        monkeypatch.setattr(sim.IvfIndex, "fit", _boom)
        with pytest.raises(RuntimeError, match="injected"):
            idx.build_ann("embedding", kind="ivf", n_centroids=NC)
        monkeypatch.undo()
        fresh = SearchIndex.open(spark, idx.path)
        assert fresh._ann_sidecar("embedding") is None  # stale, not live
        got = [r["vec_id"] for r in fresh.query(
            f"{{!knn f=embedding topK=5}}{_vec_literal(q)}"
        ).collect()]
        assert got == _exact_ids(q, 5)  # exact fallback, correct
        # a real rebuild recovers routing
        idx2 = SearchIndex.open(spark, idx.path)
        idx2.build_ann("embedding", kind="ivf", n_centroids=NC, nprobe=NC)
        assert idx2._ann_sidecar("embedding") is not None

    def test_compact_preserves_ann_sidecar(self, spark, tmp_path):
        # small-files compaction must not silently destroy the (often
        # expensive) ANN sidecar: it rides across and re-pins, and the
        # routed page is unchanged
        from solr_map_reduce_spark.indexing import compact

        idx = _build_artifact(spark, str(tmp_path / "idx"))
        idx.build_ann("embedding", kind="ivf", n_centroids=NC, nprobe=NC)
        q = QUERIES[1]
        before = [r["vec_id"] for r in idx.query(
            f"{{!knn f=embedding topK=5 nprobe={NC}}}{_vec_literal(q)}"
        ).collect()]
        compact(spark, idx.path)
        fresh = SearchIndex.open(spark, idx.path)
        assert fresh._ann_sidecar("embedding") is not None
        after = [r["vec_id"] for r in fresh.query(
            f"{{!knn f=embedding topK=5 nprobe={NC}}}{_vec_literal(q)}"
        ).collect()]
        assert after == before
