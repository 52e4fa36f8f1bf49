"""Per-layer metrics from a traced run's span records.

Each layer is named after the package module it measures.  Which
end-to-end metric each one should move, on which workload, is listed in
README.md.  Values are medians over the operations of the run; the sidecar
writers are summed per enclosing operation first (a merge on
``upsert_serve``, an ingest on ``ingest_build``), from their own job groups
only, so a writer that delegates to another is not counted twice.
"""

from __future__ import annotations

import statistics

from solr_map_reduce_spark.key_ranges import candidate_files, load_key_ranges
from solr_map_reduce_spark.operators.routing import ShardRouter
from solr_map_reduce_spark.term_blooms import candidate_shards, load_term_blooms

KINDS = ("get", "bm25", "search", "facet", "knn")
SIDECARS = ("term_blooms.write", "search_stats.write", "search_stats.delta",
            "key_ranges.write")
UNIT = dict(s="s", self_s="s", cpu_s="s", jvm_cpu_s="s", jobs="count",
            tasks="count", input_bytes="bytes", output_bytes="bytes",
            shuffle_bytes="bytes", spill_bytes="bytes", plan_ms="ms",
            exec_ms="ms")

# (metric prefix, fields) for span-footprint metrics, in report order
SPAN_METRICS = (
    ("text_dedup.minhash", ("s", "cpu_s", "jvm_cpu_s", "jobs", "tasks",
                            "input_bytes", "shuffle_bytes")),
    ("analyzers.text_en", ("s", "cpu_s", "jvm_cpu_s")),
    ("indexing.build", ("s", "self_s", "cpu_s", "jvm_cpu_s", "jobs", "tasks",
                        "shuffle_bytes", "output_bytes", "spill_bytes")),
    ("indexing.merge_into", ("s", "self_s", "cpu_s", "jvm_cpu_s", "jobs",
                             "tasks", "input_bytes", "shuffle_bytes",
                             "output_bytes")),
    ("ann_sidecar.build", ("s", "jobs", "input_bytes", "output_bytes")),
    ("ann_sidecar.delta_upsert", ("s", "jobs")),
)


def metric_names() -> list[tuple[str, str]]:
    """Every per-layer (name, unit), in report order."""
    out = [("session.start_s", "s"), ("sources.scan_passes", "ratio")]
    for prefix, fields in SPAN_METRICS:
        out += [(f"{prefix}.{f}", UNIT[f]) for f in fields]
    out += [("indexing.merge_into.read_amp", "ratio"),
            ("indexing.merge_into.touched_shard_frac", "ratio")]
    for name in SIDECARS:
        out += [(f"{name}.{f}", UNIT[f]) for f in ("s", "jobs", "input_bytes")]
    out += [("term_blooms.shard_frac", "ratio"),
            ("key_ranges.files_per_get", "count")]
    for k in KINDS:
        out += [(f"index_reader.{k}.{f}", UNIT[f])
                for f in ("plan_ms", "exec_ms", "jobs", "tasks", "input_bytes")]
    for k in KINDS:
        out += [(f"index_reader.requery.{k}.{f}", "ms") for f in ("plan_ms", "exec_ms")]
    return out


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


class _Spans:
    def __init__(self, records: list[dict]):
        self.records = records
        self.children: dict[int, list[dict]] = {}
        for r in records:
            if r["parent"] is not None:
                self.children.setdefault(r["parent"], []).append(r)

    def named(self, name: str) -> list[dict]:
        return [r for r in self.records if r["name"] == name]

    def within(self, root: dict) -> list[dict]:
        out, todo = [], list(self.children.get(root["id"], []))
        while todo:
            r = todo.pop()
            out.append(r)
            todo.extend(self.children.get(r["id"], []))
        return out


def per_layer(records: list[dict], bench, session_s: float, workload: str,
              artifact: str) -> dict[str, float]:
    sp = _Spans(records)
    timed = [r for r in sp.named("ingest") if r["request"].startswith("ingest-")]
    ingests = timed or sp.named("ingest")
    merges = sp.named("indexing.merge_into")
    ops = merges if workload == "upsert_serve" else ingests
    out: dict[str, float] = {"session.start_s": session_s}

    def scan_passes(ing: dict) -> float:
        side = sum(r["own"]["input_bytes"] for r in sp.within(ing)
                   if r["name"] in SIDECARS or r["name"] == "ann_sidecar.build")
        return (ing["input_bytes"] - side) / bench.corpus.raw_bytes

    out["sources.scan_passes"] = _median(scan_passes(r) for r in ingests)
    scope = {"text_dedup.minhash": ingests, "indexing.build": ingests,
             "ann_sidecar.build": ingests, "ann_sidecar.delta_upsert": merges}
    for prefix, fields in SPAN_METRICS:
        roots = scope.get(prefix)
        spans = (
            [r for op in roots for r in sp.within(op) if r["name"] == prefix]
            if roots is not None else sp.named(prefix)
        )
        for f in fields:
            out[f"{prefix}.{f}"] = _median(r[f] for r in spans)
    out["indexing.merge_into.read_amp"] = _median(
        r["input_bytes"] / b["bytes"] for r, b in zip(merges, bench.batches))
    router = ShardRouter(shards=bench.job.config.shards)
    out["indexing.merge_into.touched_shard_frac"] = _median(
        len({router.shard_of(k) for k in b["vers"]}) / router.shards
        for b in bench.batches)
    for name in SIDECARS:
        per_op = [[r for r in sp.within(op) if r["name"] == name] for op in ops]
        out[f"{name}.s"] = _median(sum(r["self_s"] for r in rs) for rs in per_op)
        for f in ("jobs", "input_bytes"):
            out[f"{name}.{f}"] = _median(sum(r["own"][f] for r in rs) for rs in per_op)
    out.update(_pruning(bench, artifact))
    for k in KINDS:
        for layer in ("index_reader", "index_reader.requery"):
            spans = sp.named(f"{layer}.{k}")
            out[f"{layer}.{k}.plan_ms"] = 1e3 * _median(
                c["s"] for r in spans for c in sp.children[r["id"]] if c["name"].endswith(".plan"))
            out[f"{layer}.{k}.exec_ms"] = 1e3 * _median(
                c["s"] for r in spans for c in sp.children[r["id"]] if c["name"].endswith(".exec"))
            if layer == "index_reader":
                for f in ("jobs", "tasks", "input_bytes"):
                    out[f"{layer}.{k}.{f}"] = _median(r[f] for r in spans)
    return out


def _pruning(bench, artifact: str) -> dict[str, float]:
    """Useful-to-attempted ratios of the two pruning sidecars, computed with
    their public load/candidate functions over the run's own reads."""
    spark = bench.spark
    blooms = load_term_blooms(spark, artifact)
    ranges = load_key_ranges(spark, artifact)
    router = ShardRouter(shards=bench.job.config.shards)
    fracs, files = [], []
    for kind, value in bench.reads:
        if kind == "get":
            files.append(len(candidate_files(ranges, [value], shard=router.shard_of(value))))
            continue
        if kind == "knn":
            continue
        if kind == "bm25":
            terms, mode = list(value), "any"
        elif kind == "search":
            terms, mode = value[0].split(" AND "), "all"
        else:
            terms, mode = [value], "all"
        cands = candidate_shards(spark, blooms, "text", terms, mode)
        fracs.append(len(cands) / router.shards)
    return {"term_blooms.shard_frac": sum(fracs) / len(fracs),
            "key_ranges.files_per_get": sum(files) / len(files)}
