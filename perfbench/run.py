"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_build --seed 1 --seconds 5 --trace 0

Runs one workload from the root of a source checkout and prints, as the last
line of standard output, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``).  Host diagnostics and, for a traced
run, the span file go to ``.perfbench_work/`` and are named on stderr.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("ingest_build", "upsert_serve")
# Run environment: Spark below the host's core count, a fixed driver heap,
# JVM and native thread pools sized to the Spark cores so GC, JIT and BLAS
# threads do not oversubscribe a 4-core host, and every scratch file inside
# the checkout.
CORES = 2
DRIVER_MEM = "3g"


def pin_environment() -> None:
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # -XX:-UsePerfData: no /tmp/hsperfdata_<user> file from either JVM
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-XX:+UseParallelGC -XX:ParallelGCThreads={CORES} -XX:CICompilerCount=2 "
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    sys.path.insert(0, ROOT)


def cpu_times() -> list[float]:
    """Host-wide user, system, idle and steal seconds from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    tick = os.sysconf("SC_CLK_TCK")
    return [(f[0] + f[1]) / tick, f[2] / tick, f[3] / tick, f[7] / tick]


def diagnostics(spark, load_start, host_start) -> dict:
    return {
        "loadavg_start": load_start,
        "loadavg_end": list(os.getloadavg()),
        "host_cpu_s": dict(zip(("user", "system", "idle", "steal"),
                               (round(b - a, 2) for a, b in zip(host_start, cpu_times())))),
        "cores_used": CORES,
        "host_cores": os.cpu_count(),
        "work_dir": WORK,
        "driver_heap": DRIVER_MEM,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1,
                    help="input seed; 1 is the default, 2 is held out for checking claims")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    load_start = list(os.getloadavg())
    host_start = cpu_times()
    shutil.rmtree(WORK, ignore_errors=True)
    pin_environment()
    import solr_map_reduce_spark  # noqa: F401 - fails fast outside a checkout

    from solr_map_reduce_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    session_s = time.perf_counter() - T0
    gateway = spark.sparkContext._gateway
    try:
        spark.sparkContext.setLogLevel("ERROR")
        result = run(spark, args, session_s)
        result["diagnostics"] = diagnostics(spark, load_start, host_start)
    finally:
        spark.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    diag = os.path.join(WORK, f"run-{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(diag, "w") as fh:
        json.dump(result, fh, indent=1)
    print(f"perfbench: run record {diag}", file=sys.stderr)
    print(f"perfbench: diagnostics {json.dumps(result['diagnostics'])}", file=sys.stderr)
    for name, m in result["metrics"].items():
        print(f"{name:48s} {m['value']:>16.6g} {m['unit']}")
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


def log(msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - T0:7.2f}s {msg}", file=sys.stderr, flush=True)


def run(spark, args, session_s: float) -> dict:
    import statistics

    import layers
    from spans import Tracer
    from workloads import Bench, dir_bytes

    tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
    if args.trace:
        from solr_map_reduce_spark import key_ranges, search_stats, term_blooms
        from solr_map_reduce_spark.extensions import ann_sidecar

        tracer.wrap(term_blooms, "write_term_blooms", "term_blooms.write")
        tracer.wrap(search_stats, "write_search_sidecars", "search_stats.write")
        tracer.wrap(search_stats, "write_search_stats", "search_stats.write")
        tracer.wrap(search_stats, "prepare_stats_delta", "search_stats.delta")
        tracer.wrap(key_ranges, "write_key_ranges", "key_ranges.write")
        tracer.wrap(ann_sidecar, "build", "ann_sidecar.build")
        tracer.wrap(ann_sidecar, "delta_upsert", "ann_sidecar.delta_upsert")

    log("session up")
    bench = Bench(spark, tracer, args.seed, WORK)
    log("inputs written")
    out = os.path.join(WORK, "artifact")
    if args.workload == "ingest_build":
        def op():
            return bench.ingest(out, f"ingest-{len(ops)}")
    else:
        seconds, _cpu, idx = bench.ingest(out, "seed", dedup=False)
        log(f"seed ingest {seconds:.2f}s")

        def op():
            return (*bench.merge(out), idx)
    setup_s = time.perf_counter() - T0
    ops, ops_cpu, reads, reads_cpu = [], [], [], []
    while not ops or time.perf_counter() - T0 - setup_s < args.seconds:
        seconds, cpu, idx = op()
        ops.append(seconds)
        ops_cpu.append(cpu)
        wall, cpu = bench.requery(idx, len(ops))
        reads.append(wall)
        reads_cpu.append(cpu)
        if bench.batches:
            bench.check_merge(idx)
        log(f"op {seconds:.2f}s ({ops_cpu[-1]:.1f} cpu-s), "
            f"requery {wall:.2f}s ({cpu:.1f} cpu-s)")
    stored = dir_bytes(out) / bench.input_bytes

    if args.trace:
        if not bench.batches:  # the merge layers are reported on every workload
            bench.merge(out)
            bench.requery(idx, 0)
            bench.check_merge(idx)
        with tracer.span("analyzers.text_en"):
            tokenize_corpus(spark, bench, batch=args.workload == "upsert_serve")
        bench.serve(idx, 2 * len(layers.KINDS), 0, "index_reader")
        records = tracer.records()
        path = os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json")
        with open(path, "w") as fh:
            json.dump(records, fh)
        print(f"perfbench: trace {path}", file=sys.stderr)
        values = layers.per_layer(records, bench, session_s, args.workload, out)
        metrics = {name: {"value": values[name], "unit": unit}
                   for name, unit in layers.metric_names()}
    else:
        # The bounded metrics take CPU seconds, not wall seconds: on a shared
        # VM other tenants' steal moved single-operation wall times by up to
        # 60% between runs; the wall times stay in the run record.
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_cpu_s": (statistics.median(ops_cpu), "s"),
            "requery_cpu_s": (statistics.median(reads_cpu), "s"),
            "stored_bytes_per_input_byte": (stored, "ratio"),
            "knn_recall_at_10": (statistics.mean(bench.recall), "ratio"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    bench.close()
    log("done")
    return {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "correct": bench.failed == 0, "attempted": bench.attempted,
        "failed": bench.failed, "metrics": metrics,
        "op_s": ops, "op_cpu_s": ops_cpu, "requery_s": reads, "requery_cpu_s": reads_cpu,
    }


def tokenize_corpus(spark, bench, batch: bool) -> None:
    """Force the text_en analyzer over the corpus body column (or over one
    upsert batch), with nothing else in the plan."""
    import pyspark.sql.functions as F

    from solr_map_reduce_spark.functions.analyzers import tokenize_text_en
    from solr_map_reduce_spark.sources.readers import read_input
    from workloads import RAW_SCHEMA

    files = [os.path.join(WORK, "batches", "batch-0000.jsonl")] if batch else bench.corpus.files
    df = read_input(spark, files, format="json", schema=RAW_SCHEMA)
    df.select(F.size(tokenize_text_en(F.col("text"))).alias("n")).write.format(
        "noop").mode("overwrite").save()


if __name__ == "__main__":
    sys.exit(main())
