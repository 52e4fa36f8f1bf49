"""SparkSession factory with engine defaults.

Scale stance: these defaults are chosen for a real multi-executor cluster and
merely *also* work on local[N].  AQE is on (runtime coalescing, skew-join
splitting), shuffle partitions default to a cluster-ish value that AQE can
coalesce down, and the session timezone is pinned to UTC because the reference
data model treats all dates as UTC instants (Solr dates are
``yyyy-MM-dd'T'HH:mm:ss[.SSS]'Z'`` — SURVEY §1.3).
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_ENGINE_DEFAULTS: dict[str, str] = {
    # Adaptive execution: runtime partition coalescing + skew-join handling.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas UDF / applyInPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp semantics (Solr dates are UTC).
    "spark.sql.session.timeZone": "UTC",
    # Sane file-split sizing for large parquet scans.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Broadcast small dimension tables aggressively (region/nation/etc.).
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Read TIMESTAMP(NANOS) parquet columns as long (Spark has no ns type);
    # sources.load_table converts them to microsecond timestamps.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Read isAdjustedToUTC=false parquet timestamps as TIMESTAMP, not
    # TIMESTAMP_NTZ: with the session pinned UTC the instant is identical,
    # event-time operators (watermarks, epoch arithmetic) require the
    # instant type, and reading it natively keeps predicate pushdown on the
    # column (load_table's cast fallback covers foreign sessions where this
    # flag isn't set, at the cost of a projection).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Parquet niceties.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
}


def default_parallelism() -> int:
    """CPU budget: honour the driver's SPARK_GRAFT_CPUS, else all cores."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 4


def get_spark(
    app_name: str = "solr-map-reduce-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied.

    ``shuffle_partitions`` defaults to the CPU budget: on a real cluster this
    should be ~2-3x total cores and AQE coalesces the tail; on local[N] it
    avoids 200 tiny tasks per shuffle.
    """
    # Spark's Python workers unpickle engine UDFs by module reference, so the
    # package's parent dir must be importable worker-side.  Local/standalone:
    # propagate via PYTHONPATH (workers inherit the driver env).  On a real
    # cluster, additionally ship the package with --py-files / addPyFile.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{existing}" if existing else pkg_parent
        )

    cores = default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cores}]")
    conf = dict(_ENGINE_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cores)
    # Local mode runs driver + executors in ONE JVM; Spark's 1g default heap
    # starves 32 concurrent tasks (observed: GC-locker stalls at sf0.1, OOM
    # at 6M-row builds).  Only effective at JVM launch — a getOrCreate that
    # joins an existing session keeps that session's heap.
    conf.setdefault(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
    )
    # Throughput GC for batch work: Java 17 defaults to G1, whose pause-time
    # targeting yields run-to-run swings on allocation-heavy plans (sorted
    # writes, decimal aggregation, localCheckpoint) — measured 10.0-12.8 s
    # total across identical bench runs, with the spread concentrated in the
    # GC-heavy third (SCALING.md).  ParallelGC trades pause latency (which
    # batch jobs don't care about) for steadier throughput.  JVM-launch-only,
    # like driver.memory.
    conf.setdefault(
        "spark.driver.extraJavaOptions",
        os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"),
    )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: StructType | str
) -> DataFrame:
    """A DataFrame over driver-side rows (tuples in ``schema`` order), for
    bounded row counts only: query terms, a top-k answer, a literal tuple.

    The rows cross into Spark as one ``pyarrow.Table``, which the JVM
    turns into a local relation: no job and no Python worker, whether or
    not ``spark.sql.execution.arrow.pyspark.enabled`` is set.  A frame
    built from a Python list instead costs a job and a worker (~0.45 CPU-s
    on 2 cores) even when it is empty, which on the serving hot path is
    most of a query's cost.  Work that fits in the driver, such as query
    analysis (``PY_ANALYZERS``) and Bloom probes (``term_blooms``), stays
    there and never builds a frame at all.  ``schema`` is a
    ``StructType`` or a DDL string; the string is parsed without a job."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
