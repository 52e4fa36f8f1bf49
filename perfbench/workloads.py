"""The benchmark's operations, driven through the package's public API.

An *ingest* is the reference's indexer job preceded by the near-duplicate
pass: raw JSON-lines files -> ``minhash_dedup`` (larger id of each pair
loses) -> ``IndexJob.build`` with term Blooms, BM25 stats + ``_vocab`` and
key ranges -> ``SearchIndex.build_ann``.

A *merge* is one ``merge_into`` batch with every sidecar's delta
maintenance.  A *requery* is two reads of each query kind right after an
ingest or a merge; the first of each pays the handle's (re)load of the new
artifact generation.

Every operation is checked outside its timed span; a wrong answer counts as
a failed operation.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import pyspark.sql.functions as F
from pyspark.sql import types as T

import corpus as C
from oracle import Oracle, bm25_matches
from spans import tree_cpu_s
from solr_map_reduce_spark.extensions.text_dedup import minhash_dedup
from solr_map_reduce_spark.index_reader import SearchIndex
from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig, read_index
from solr_map_reduce_spark.schema import Field, IndexSchema
from solr_map_reduce_spark.sources.readers import read_input

RAW_SCHEMA = T.StructType([
    T.StructField("id", T.StringType()),
    T.StructField("ver", T.LongType()),
    T.StructField("lang", T.StringType()),
    T.StructField("source", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("embedding", T.ArrayType(T.DoubleType())),
])
INDEX_SCHEMA = IndexSchema(
    fields=(
        Field("id", "string", required=True),
        Field("ver", "long"),
        Field("lang", "string"),
        Field("source", "string"),
        Field("text", "text_en"),
        Field("embedding", "array<double>"),
    ),
    unique_key="id",
)
SHARDS = C.SHARDS
MICRO_SHARDS = 8
ANN = dict(kind="ivf", n_centroids=16, nprobe=4)
NEARDUP_THRESHOLD = 0.8


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(path) for f in files
    )


class Bench:
    """One run's state: the corpus, the live document set the gate checks
    against, and the outcome counts."""

    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.corpus = C.make_corpus(seed)
        C.write_corpus(self.corpus, os.path.join(work, "input"))
        self.input_bytes = self.corpus.raw_bytes
        self.job = IndexJob(IndexJobConfig(
            schema=INDEX_SCHEMA, shards=SHARDS, micro_shards=MICRO_SHARDS,
            order_field="ver", routing="solr",
            term_blooms=True, search_stats=True, key_ranges=True,
        ))
        self.oracle = Oracle()
        self.raw_max = self.oracle.raw_max_ver(self.corpus.files)
        self.docs: dict[str, dict] = {}   # the live documents, set by ingest
        self.attempted = 0
        self.failed = 0
        self.recall: list[float] = []
        self.reads: list[tuple[str, object]] = []   # (kind, value) of every read
        self.batches: list[dict] = []               # per merge: keys, bytes

    # -- outcome bookkeeping ---------------------------------------------------
    def outcome(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: FAILED check: {what}", file=sys.stderr)

    # -- ingest ------------------------------------------------------------------
    def ingest(self, out: str, request: str, dedup: bool = True
               ) -> tuple[float, float, SearchIndex]:
        """One ingest into ``out``; returns its wall seconds, the CPU seconds
        of the process tree meanwhile, and a handle on the new artifact.
        ``dedup=False`` skips the near-duplicate pass (a seed artifact that
        only needs to exist)."""
        shutil.rmtree(out, ignore_errors=True)
        tr = self.tracer
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        with tr.span("ingest", request=request):
            docs = read_input(self.spark, self.corpus.files, format="json",
                              schema=RAW_SCHEMA)
            losers = None
            if dedup:
                with tr.span("text_dedup.minhash"):
                    pairs = minhash_dedup(docs, "text", "id", threshold=NEARDUP_THRESHOLD)
                losers = pairs.select(F.greatest("id_a", "id_b").alias("id")).distinct()
                docs = docs.join(losers, "id", "left_anti")
            with tr.span("indexing.build"):
                self.job.build(docs, out)
            idx = SearchIndex.open(self.spark, out)
            idx.build_ann("embedding", **ANN)
        elapsed = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        dropped = {r["id"] for r in losers.collect()} if dedup else set()
        self._check_ingest(out, dropped, self.corpus.neardup_losers if dedup else set())
        self.docs = {}
        for row in self.corpus.rows:
            if row["id"] not in dropped and row["ver"] == self.raw_max[row["id"]]:
                self.docs[row["id"]] = row
        self.oracle.load(self.docs)
        return elapsed, cpu, idx

    def _check_ingest(self, out: str, dropped: set, planted: set) -> None:
        stored = {r["id"]: r["ver"] for r in read_index(self.spark, out).select("id", "ver").collect()}
        want = {k: v for k, v in self.raw_max.items() if k not in dropped}
        ok = (
            dropped == planted
            and len(stored) == len(self.raw_max) - len(dropped)
            and stored == want
        )
        self.outcome(ok, f"ingest {out}: {len(dropped)} near-dups dropped, "
                         f"{len(stored)} stored, {len(want)} expected")

    # -- reads -------------------------------------------------------------------
    def read(self, idx: SearchIndex, kind: str, value, layer: str) -> float:
        """One query through the public SearchIndex API; ``plan`` is the call
        returning the DataFrame, ``exec`` its collect."""
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span(layer + "." + kind, request=tr.new_request(kind)):
            with tr.span(layer + "." + kind + ".plan"):
                df = plan(idx, kind, value)
            with tr.span(layer + "." + kind + ".exec"):
                rows = df.collect()
        elapsed = time.perf_counter() - t0
        self.reads.append((kind, value))
        self.outcome(self._check_read(kind, value, rows), f"{kind} {value!r}")
        return elapsed

    def _check_read(self, kind: str, value, rows) -> bool:
        if kind == "get":
            want = [(value, self.docs[value]["ver"])] if value in self.docs else []
            return [(r["id"], r["ver"]) for r in rows] == want
        if kind == "search":
            q, lang = value
            return [tuple(r) for r in rows] == self.oracle.search(q.split(" AND "), lang)
        if kind == "facet":
            return [tuple(r) for r in rows] == self.oracle.facet(value)
        if kind == "bm25":
            return bm25_matches([(r[0], r[1]) for r in rows], self.oracle.bm25(value))
        want = self.oracle.knn(value)
        self.recall.append(len({r[0] for r in rows} & set(want)) / len(want))
        return len(rows) == len(want)

    def serve(self, idx: SearchIndex, n: int, stream: int, layer: str) -> list[float]:
        return [
            self.read(idx, kind, value, layer)
            for kind, value in C.serve_queries(self.corpus, self._live(), n, stream)
        ]

    # -- mutation ------------------------------------------------------------------
    def _live(self) -> dict[str, int]:
        return {k: d["ver"] for k, d in self.docs.items()}

    def merge(self, out: str) -> tuple[float, float]:
        """One merge_into batch from a fresh JSON-lines file; returns wall and
        CPU seconds like :meth:`ingest`.  Its gate is :meth:`check_merge`."""
        n = len(self.batches)
        rows = C.upsert_batch(self.corpus, self._live(), n)
        path = os.path.join(self.work, "batches", f"batch-{n:04d}.jsonl")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.writelines(json.dumps(r) + "\n" for r in rows)
        self.input_bytes += os.path.getsize(path)
        self.batches.append(dict(vers={r["id"]: r["ver"] for r in rows},
                                 bytes=os.path.getsize(path)))
        batch = read_input(self.spark, path, format="json", schema=RAW_SCHEMA)
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        with self.tracer.span("indexing.merge_into", request=f"merge-{n}"):
            self.job.merge_into(batch, out)
        elapsed = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        for r in rows:
            self.docs[r["id"]] = r
        self.oracle.load(self.docs)
        return elapsed, cpu

    def requery(self, idx: SearchIndex, stream: int) -> tuple[float, float]:
        """Two reads of each query kind right after an operation, the first
        five paying the handle's reload of the new generation; returns their
        summed latency and the process tree's CPU seconds over them (ten
        sub-second reads, so one slow read moves the sum less)."""
        cpu0 = tree_cpu_s()
        wall = sum(self.serve(idx, 2 * len(C.KINDS), 1000 + stream, "index_reader.requery"))
        return wall, tree_cpu_s() - cpu0

    def check_merge(self, idx: SearchIndex) -> None:
        """Gate for the last merge.  Runs after its requery, which must be
        the first use of the handle after the mutation."""
        want = self.batches[-1]["vers"]
        keys = sorted(want)
        count = idx.count()
        vers = {r["id"]: r["ver"] for r in idx.get_many(keys).select("id", "ver").collect()}
        marker = C.marker_token(len(self.batches) - 1)
        hits = sorted(r["id"] for r in idx.search(q=marker, select=["id"]).collect())
        ok = count == len(self.docs) and vers == want and hits == keys
        self.outcome(ok, f"merge: count {count}/{len(self.docs)}, "
                         f"marker hits {len(hits)}/{len(keys)}")

    def close(self) -> None:
        self.oracle.close()


def plan(idx: SearchIndex, kind: str, value):
    """The public call for each query kind, returning an unexecuted DataFrame."""
    if kind == "get":
        return idx.get(value).select("id", "ver")
    if kind == "bm25":
        return idx.bm25(value, k=10)
    if kind == "search":
        q, lang = value
        return idx.search(q=q, filters={"lang": lang}, sort=[("ver", "desc")],
                          limit=10, select=["id", "ver", "lang"])
    if kind == "facet":
        return idx.facet("source", q=value)
    return idx.knn(value, k=10, vec_col="embedding")

