"""The engine's declared query surface (SURVEY §2.C + §5 strategy + the
LLM-pipeline extensions), each with a DuckDB oracle when ANSI-SQL can express
it.

Determinism rules (so value-hashes match across engines):
- Double aggregations go through exact decimal: per-row arithmetic stays in
  IEEE double (bit-identical across engines), the per-row value is cast to
  DECIMAL(18,6) (never at a rounding midpoint for binary doubles), summed
  exactly, and the final result cast back to double.
- Timestamps are emitted as formatted strings (Spark session is UTC; DuckDB
  reads the same parquet instants as naive UTC).
- Every ORDER BY ... LIMIT has a unique-key tiebreak.
- Aggregate/computed columns are aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from solr_map_reduce_spark.extensions import (
    hybrid,
    search,
    similarity,
    text_analysis,
    text_dedup,
)
from solr_map_reduce_spark.functions.analyzers import ENGLISH_STOP_WORDS
from solr_map_reduce_spark.operators import dedup
from solr_map_reduce_spark.operators.keys import generate_sequence_key
from solr_map_reduce_spark.operators.routing import with_shard_id
from solr_map_reduce_spark.schema import DynamicField, Field, IndexSchema


@dataclass(frozen=True)
class QueryDef:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


REGISTRY: dict[str, QueryDef] = {}


def _register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        REGISTRY[name] = QueryDef(spark=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from solr_map_reduce_spark.sources.readers import load_table

    return load_table(spark, sf_dir, name)


def _dec_sum(col: F.Column, alias: str) -> F.Column:
    """Exact, order-independent money aggregation WITHOUT per-row
    BigDecimal: split each value into integer part + rounded fractional
    micros, sum both as LONGs (whole-stage-codegen compact buffers),
    recombine in decimal on the aggregated rows only.  Value-identical
    to ``sum(cast(col as decimal(18,6)))`` — the DuckDB oracle keeps
    that independent formulation — but measured 2x faster at sf0.1
    (decimal sums with precision > 18 fall off Spark's compact-Long
    buffer onto JavaBigDecimal per row).

    Exactness: (1) TPC-H money expressions carry <= 6 decimal digits
    and their computed double is within ~1e-10 of the true value —
    vastly inside the 5e-7 rounding slack — so ``round(frac * 1e6)``
    recovers the exact decimal micros; (2) ``col - floor(col)`` is
    exact in IEEE (Sterbenz for |col| >= 1, floor = 0 below 1; an
    across-integer representation like 122.999... -> frac_micros =
    1_000_000 still recombines exactly); (3) the long sums cannot lose
    a unit: |int part| <= ~1e7 and frac_micros <= 1e6, safe to ~1e11
    rows PER GROUP at TPC-H magnitudes — ~30x the 100 TB target (the
    oracle's decimal form remains the unbounded-exact reference);
    (4) non-finite inputs match the decimal formulation: cast(NaN or
    Infinity as decimal) is NULL (skipped by sum), so both parts are
    NULLed for non-finite values — a group of only-NaN sums to NULL,
    an Inf never saturates the long total.

    The half-up rounding is written ``floor(y + 0.5)`` rather than
    ``round(y)``: Spark's ``Round`` on DoubleType routes every row
    through java.math.BigDecimal (allocate + setScale), measured ~1.7x
    slower on the q1 single-task scan+agg (r13 interleaved A/B, values
    bit-identical).  Equivalence on this contract: y = frac_micros is
    always in [0, 1e6] (frac ∈ [0,1) by construction, the 122.999…
    boundary gives exactly 1e6), and under (1) it lies within ~1e-4 of
    the true micros integer m, so y + 0.5 ∈ [m + 0.4999, m + 0.5001]
    and floor picks m — the same value BigDecimal HALF_UP picks; exact
    .5 midpoints (7+ decimal digits) sit outside the money contract,
    and for non-negative y floor(y+0.5) IS round-half-up anyway."""
    finite = ~(F.isnan(col) | (F.abs(col) == F.lit(float("inf"))))
    ip = F.when(finite, F.floor(col).cast("long"))
    fr = F.when(
        finite,
        F.floor((col - F.floor(col)) * F.lit(1000000.0) + F.lit(0.5)).cast(
            "long"
        ),
    )
    total = (
        F.sum(ip).cast("decimal(38,0)") * F.lit(1000000)
        + F.sum(fr).cast("decimal(38,0)")
    )
    return (
        (total.cast("decimal(38,6)") / F.lit(1000000)).cast("double")
        .alias(alias)
    )


def _dec_sum_global(col: F.Column, alias: str) -> F.Column:
    """Exact money aggregation for GLOBAL (ungrouped) single-sum
    shapes: the plain decimal(18,6) sum.  The per-shape gate from the
    r11 head-to-head (SCALING.md): on q6's single-sum-over-filtered-scan
    shape the decimal cast is ~13% faster than the long-split
    formulation (one compact-decimal buffer vs two long buffers +
    floor/round per row), while on grouped shapes (q1: 7 sums x 6
    groups over 590k rows) the long split wins ~18% — precision <= 18
    keeps the decimal sum on Spark's compact-Long buffer, so the
    BigDecimal escape `_dec_sum` exists for never applies to a single
    global aggregate.  Value-identical to `_dec_sum` (both match the
    oracle's decimal form bit-for-bit; non-finite inputs are NULL under
    the cast exactly as `_dec_sum` guards them)."""
    return F.sum(col.cast("decimal(18,6)")).cast("double").alias(alias)


_DEC_SQL = "CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE)"


# ===========================================================================
# C. Reference query surface
# ===========================================================================

@_register(
    "c1_count_all",
    "SELECT count(*) AS cnt FROM lineitem",
    "C1 match-all count (MatchAllDocsQuery/getNumFound parity)",
)
def c1_count_all(spark, sf_dir):
    return t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("cnt"))


@_register(
    "c2_point_lookup",
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
       FROM orders WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)""",
    "C2 term query by unique key",
)
def c2_point_lookup(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    mn = o.agg(F.min("o_orderkey").alias("_k"))
    return (
        o.join(F.broadcast(mn), o["o_orderkey"] == F.col("_k"))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    )


@_register(
    "c3_delete_by_query",
    """SELECT count(*) AS remaining FROM orders
       WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')""",
    "C3 delete-by-query as anti-join + surviving count",
)
def c3_delete_by_query(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    doomed = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    survivors = o.join(
        F.broadcast(doomed), o["o_custkey"] == doomed["c_custkey"], "left_anti"
    )
    return survivors.agg(F.count(F.lit(1)).alias("remaining"))


@_register(
    "c4_sort_page",
    """SELECT o_orderkey, o_totalprice FROM orders
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "C4 sort + paging with deterministic tiebreak",
)
def c4_sort_page(spark, sf_dir):
    return (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@_register(
    "c5_projection",
    "SELECT c_custkey, c_name, c_mktsegment FROM customer",
    "C5 field projection (column pruning reaches the scan)",
)
def c5_projection(spark, sf_dir):
    return t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")


@_register(
    "c6_upsert_latest",
    """WITH base AS (SELECT o_orderkey, o_orderstatus, 1 AS version FROM orders),
         upd AS (SELECT o_orderkey, 'U' AS o_orderstatus, 2 AS version FROM orders
                 WHERE o_orderkey % 100 = 0),
         unioned AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
         ranked AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
                    ORDER BY version DESC) AS rn FROM unioned)
       SELECT o_orderkey, o_orderstatus, version FROM ranked WHERE rn = 1""",
    "C6 upsert: re-added docs replace by version (A10 dedup-on-write)",
)
def c6_upsert_latest(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    base = o.select("o_orderkey", "o_orderstatus", F.lit(1).alias("version"))
    upd = (
        o.filter(F.col("o_orderkey") % 100 == 0)
        .select("o_orderkey", F.lit("U").alias("o_orderstatus"), F.lit(2).alias("version"))
    )
    return dedup.retain_most_recent(base.unionByName(upd), "o_orderkey", "version")


@_register(
    "a10_dedup_retain_most_recent",
    """SELECT user_id, event_id, event_type FROM (
         SELECT user_id, event_id, event_type,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
         FROM events) WHERE rn = 1""",
    "A10 retain-most-recent per key (argmax by order field, tiebreak id)",
)
def a10_dedup_retain_most_recent(spark, sf_dir):
    e = t(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "ts")
    return dedup.retain_most_recent(e, "user_id", "ts", tiebreak=["event_id"]).select(
        "user_id", "event_id", "event_type"
    )


@_register(
    "a11_dedup_sort_updates",
    """SELECT user_id,
              string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY ts, event_id)
                AS event_ids
       FROM events GROUP BY user_id""",
    "A11 per-key updates sorted ascending by order field",
)
def a11_dedup_sort_updates(spark, sf_dir):
    # the sorted update list is emitted as a comma-joined string: the array
    # order IS the contract under test, and a flat string stays hashable for
    # engine-independent row canonicalization (arrays are unhashable there)
    e = t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    sorted_updates = dedup.sort_updates(e, "user_id", "ts", tiebreak=["event_id"])
    return sorted_updates.select(
        "user_id",
        F.array_join(
            F.col("updates.event_id").cast("array<string>"), ","
        ).alias("event_ids"),
    )


@_register(
    "a12_collision_report",
    """SELECT user_id, count(*) AS n_docs FROM events
       GROUP BY user_id HAVING count(*) > 1""",
    "A12 reject-collisions: the violating keys a rejecting build would report",
)
def a12_collision_report(spark, sf_dir):
    return dedup.collision_report(t(spark, sf_dir, "events"), "user_id")


@_register(
    "b3_sequence_key",
    """SELECT doc_id,
              concat(source, '#', CAST(row_number() OVER (PARTITION BY source
                     ORDER BY doc_id) - 1 AS VARCHAR)) AS id
       FROM documents""",
    "B3 generateSolrSequenceKey: base#counter per session",
)
def b3_sequence_key(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return generate_sequence_key(
        d, "source", key="id", session_col="source", order_col="doc_id",
        preserve_existing=False,
    ).select("doc_id", "id")


_SANITIZE_SCHEMA = IndexSchema(
    fields=(
        Field("event_id", "long", required=True),
        Field("event_type", "string"),
        Field("value", "double"),
    ),
    unique_key="event_id",
    dynamic_fields=(DynamicField("extra_*", "string"),),
)


@_register(
    "b2_sanitize_fields",
    "SELECT event_id, event_type, value, props AS extra_props FROM events",
    "B2 sanitizeUnknownSolrFields: drop/rename-to-dynamic projection",
)
def b2_sanitize_fields(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    out = _SANITIZE_SCHEMA.sanitize(e, rename_prefix="extra_")
    return out.select("event_id", "event_type", "value", "extra_props")


@_register(
    "b6_extract_json",
    """SELECT event_type,
         CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
         count(*) AS n
       FROM events GROUP BY event_type""",
    "extractJsonPaths (the kite-morphlines JSON sibling of B6): path "
    "expressions over a JSON string column, JVM-side get_json_object, "
    "aggregated per event type",
)
def b6_extract_json(spark, sf_dir):
    from solr_map_reduce_spark.plans.pipeline import compile_pipeline

    e = t(spark, sf_dir, "events")
    pipe = compile_pipeline([{"op": "extract_json", "field": "props",
                              "paths": {"k": "/k"}}])
    return (
        pipe.run(e)
        .groupBy("event_type")
        .agg(
            F.sum(F.col("k").cast("long")).alias("sum_k"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@_register(
    "b4_tokenize_general",
    r"""SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text),
            '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
        FROM documents""",
    "B4 tokenizeText(text_general): word split + lowercase, one row per token",
)
def b4_tokenize_general(spark, sf_dir):
    from solr_map_reduce_spark.functions.analyzers import tokenize_text_general

    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.explode(tokenize_text_general(F.col("text"))).alias("token")
    )


@_register(
    "b4_tokenize_lowercase",
    "SELECT doc_id, lower(text) AS token FROM documents",
    "B4 tokenizeText(lowercase): keyword tokenizer + lowercase (single token)",
)
def b4_tokenize_lowercase(spark, sf_dir):
    from solr_map_reduce_spark.functions.analyzers import tokenize_lowercase

    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.explode(tokenize_lowercase(F.col("text"))).alias("token")
    )


@_register(
    "b8_convert_timestamp",
    "SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%S.%gZ') AS ts_iso FROM events",
    "B8 convertTimestamp: canonical Solr date format output",
)
def b8_convert_timestamp(spark, sf_dir):
    from solr_map_reduce_spark.functions.timestamps import format_timestamp

    e = t(spark, sf_dir, "events")
    return e.select("event_id", format_timestamp(F.col("ts")).alias("ts_iso"))


@_register(
    "facet_event_counts",
    "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type",
    "facet-style groupBy count over the artifact (SURVEY §2.C closing note)",
)
def facet_event_counts(spark, sf_dir):
    return t(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )


@_register(
    "ext_funnel_conversion",
    """WITH firsts AS (
         SELECT user_id,
                min(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
                min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
         FROM events GROUP BY user_id
       )
       SELECT count(*) AS signed_up,
              count(CASE WHEN first_purchase > first_signup THEN 1 END)
                AS converted
       FROM firsts WHERE first_signup IS NOT NULL""",
    "funnel/sequence analysis: users whose first purchase follows their "
    "first signup — conditional-min aggregation, single shuffle on user",
)
def ext_funnel_conversion(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("first_signup"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("first_purchase"),
    )
    return firsts.filter(F.col("first_signup").isNotNull()).agg(
        F.count(F.lit(1)).alias("signed_up"),
        F.count(
            F.when(F.col("first_purchase") > F.col("first_signup"), F.lit(1))
        ).alias("converted"),
    )


@_register(
    "ext_cohort_retention",
    """WITH firsts AS (
         SELECT user_id, date_trunc('day', min(ts)) AS cohort
         FROM events GROUP BY user_id
       ),
       activity AS (
         SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
       )
       SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
              CAST(datediff('day', cohort, d) AS INT) AS days_since,
              count(*) AS active_users
       FROM activity JOIN firsts USING (user_id)
       GROUP BY cohort, d""",
    "cohort retention matrix: users grouped by first-activity day, counted "
    "per days-since offset — two aggregations sharing the user_id shuffle",
)
def ext_cohort_retention(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort")
    )
    activity = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    ).distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff(F.col("d"), F.col("cohort")).cast("int").alias("days_since"),
        )
        .agg(F.count(F.lit(1)).alias("active_users"))
    )


@_register(
    "facet_range_value",
    """SELECT CAST(floor(value / 50.0) * 50 AS DOUBLE) AS bucket_start,
              count(*) AS cnt,
              CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
       FROM events WHERE value IS NOT NULL
       GROUP BY bucket_start""",
    "Solr range-facet analog: fixed-width numeric buckets with per-bucket "
    "count + exact sum (facet.range on the events value field)",
)
def facet_range_value(spark, sf_dir):
    e = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bucket = (F.floor(F.col("value") / 50.0) * 50).cast("double")
    return e.groupBy(bucket.alias("bucket_start")).agg(
        F.count(F.lit(1)).alias("cnt"),
        _dec_sum(F.col("value"), "sum_value"),
    )


_PIPELINE_SCHEMA = IndexSchema(
    fields=(
        Field("id", "string", required=True),
        Field("event_type", "string"),
        Field("ts_iso", "string"),
        Field("value", "double"),
        Field("pipeline", "string"),
    ),
    unique_key="id",
)


@_register(
    "pipeline_etl_events",
    """SELECT concat(CAST(user_id AS VARCHAR), '#',
              CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1
                   AS VARCHAR)) AS id,
              event_type,
              strftime(ts, '%Y-%m-%dT%H:%M:%S.%gZ') AS ts_iso,
              value,
              'smrs' AS pipeline
       FROM events""",
    "§3.3 morphline-chain analog: spec-compiled key->timestamp->constant->sanitize",
)
def pipeline_etl_events(spark, sf_dir):
    from solr_map_reduce_spark.functions.timestamps import format_timestamp
    from solr_map_reduce_spark.plans import compile_pipeline

    pipe = compile_pipeline(
        [
            {"op": "generate_key", "base_id_col": "user_id", "key": "id",
             "session_col": "user_id", "order_col": "event_id",
             "preserve_existing": False},
            lambda df: df.withColumn("ts_iso", format_timestamp(F.col("ts"))),
            {"op": "set_values", "values": {"pipeline": "smrs"}},
            {"op": "sanitize", "schema": _PIPELINE_SCHEMA},
        ]
    )
    return pipe.run(t(spark, sf_dir, "events"))


@_register(
    "window_hourly_counts",
    """SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S')
              AS window_start,
              event_type, count(*) AS cnt
       FROM events GROUP BY 1, 2""",
    "tumbling 1h window counts (batch form of the streaming facet query)",
)
def window_hourly_counts(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "cnt",
        )
    )


@_register(
    "c7_segment_contract",
    None,  # artifact-layout introspection; not a relational query
    "C7: build -> compact(max_segments=1) -> one file per shard "
    "(SegmentInfos.size()==1 analog, SolrIndexDriverTest.java:59-61)",
)
def c7_segment_contract(spark, sf_dir):
    import tempfile

    from solr_map_reduce_spark.indexing import (
        IndexJob, IndexJobConfig, compact, read_index, segment_counts,
    )

    schema = IndexSchema(
        fields=(
            Field("id", "string", required=True),
            Field("text", "text_en"),
            Field("n_chars", "long"),
        ),
        unique_key="id",
    )
    docs = t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("id"), "text", "n_chars"
    )
    out = tempfile.mkdtemp(prefix="smrs_c7_") + "/idx"
    job = IndexJob(
        IndexJobConfig(schema=schema, shards=2, micro_shards=8, dedup="none",
                       max_records_per_file=100)
    )
    job.build(docs, out)
    compact(spark, out, max_segments=1)
    counts = segment_counts(out)
    total = read_index(spark, out).count()
    return spark.createDataFrame(
        sorted((s, n, total) for s, n in counts.items()),
        "shard_dir string, segments int, total_docs long",
    )


@_register(
    "a8_routing_shards",
    None,  # hash parity is not SQL-expressible; golden-tested in tests/test_routing.py
    "A8/C8 SolrCloud-parity micro-shard routing of customer keys",
)
def a8_routing_shards(spark, sf_dir):
    c = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("id")
    )
    routed = with_shard_id(c, "id", shards=4, num_partitions=16, out_col="micro_shard")
    return routed.withColumn("root_shard", (F.col("micro_shard") / 4).cast("int"))


# ===========================================================================
# Analytics (bench headliners)
# ===========================================================================

_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
  {_DEC_SQL.format(expr='l_quantity')} AS sum_qty,
  {_DEC_SQL.format(expr='l_extendedprice')} AS sum_base_price,
  {_DEC_SQL.format(expr='l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
  {_DEC_SQL.format(expr='l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@_register(
    "q1_pricing_summary",
    _Q1_SQL,
    "flagship scan+agg: TPC-H Q1 shape with exact-decimal aggregation",
)
def q1_pricing_summary(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    charge = disc * (F.lit(1) + F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(F.col("l_quantity"), "sum_qty"),
            _dec_sum(F.col("l_extendedprice"), "sum_base_price"),
            _dec_sum(disc, "sum_disc_price"),
            _dec_sum(charge, "sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_Q3_SQL = f"""
SELECT o_orderkey,
  {_DEC_SQL.format(expr='l_extendedprice * (1 - l_discount)')} AS revenue,
  strftime(o_orderdate, '%Y-%m-%d') AS orderdate
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey LIMIT 10
"""


@_register(
    "q3_top_revenue",
    _Q3_SQL,
    "flagship join: broadcast dim filter + shuffle join + top-k",
)
def q3_top_revenue(spark, sf_dir):
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    l = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    disc = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("o_orderkey", "o_orderdate")
        .agg(_dec_sum(disc, "revenue"))
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


_Q5_SQL = f"""
SELECT n_name,
  {_DEC_SQL.format(expr='l_extendedprice * (1 - l_discount)')} AS revenue
FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1995-01-01 00:00:00'
GROUP BY n_name
"""


@_register(
    "q5_local_supplier",
    _Q5_SQL,
    "TPC-H Q5 shape: 6-table join, broadcast dims, same-nation join condition",
)
def q5_local_supplier(spark, sf_dir):
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1994-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    l = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select("r_regionkey")
    disc = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(
            F.broadcast(s),
            (l["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(_dec_sum(disc, "revenue"))
    )


@_register(
    "q6_revenue_change",
    f"""SELECT COALESCE({_DEC_SQL.format(expr='l_extendedprice * l_discount')}, 0.0) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24""",
    "TPC-H Q6 shape: multi-predicate scan + single agg (pushdown showcase)",
)
def q6_revenue_change(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _dec_sum_global(
                F.col("l_extendedprice") * F.col("l_discount"), "_rev"
            )
        )
        .select(F.coalesce(F.col("_rev"), F.lit(0.0)).alias("revenue"))
    )


@_register(
    "exists_big_order_customers",
    """SELECT c_custkey, c_name FROM customer
       WHERE EXISTS (SELECT 1 FROM orders
                     WHERE o_custkey = c_custkey AND o_totalprice > 300000)""",
    "correlated EXISTS as a left-semi join",
)
def exists_big_order_customers(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    big = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(
        big, c["c_custkey"] == big["o_custkey"], "left_semi"
    ).select("c_custkey", "c_name")


@_register(
    "window_topn_orders",
    """SELECT c_custkey, o_orderkey, o_totalprice FROM (
         SELECT c_custkey, o_orderkey, o_totalprice,
                row_number() OVER (PARTITION BY c_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
         FROM customer JOIN orders ON o_custkey = c_custkey) WHERE rn <= 2""",
    "window top-N per key (rank within group)",
)
def window_topn_orders(spark, sf_dir):
    from pyspark.sql import Window

    c = t(spark, sf_dir, "customer").select("c_custkey")
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    w = Window.partitionBy("c_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("c_custkey", "o_orderkey", "o_totalprice")
    )


@_register(
    "ext_asof_join",
    """SELECT l.event_id,
              strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS prior_purchase_ts,
              COALESCE(r.value, -1.0) AS prior_purchase_value
       FROM events l
       ASOF LEFT JOIN (SELECT user_id, ts, event_id, value FROM events
                       WHERE event_type = 'purchase') r
       ON l.user_id = r.user_id AND l.ts >= r.ts
       WHERE l.event_type = 'click'""",
    "as-of join: each click annotated with the user's latest prior purchase "
    "(union-tag window form vs DuckDB's native ASOF JOIN)",
)
def ext_asof_join(spark, sf_dir):
    from solr_map_reduce_spark.operators.asof import asof_join

    e = t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    joined = asof_join(clicks, purchases, on="user_id", ts="ts")
    return joined.select(
        "event_id",
        F.date_format("ts_r", "yyyy-MM-dd HH:mm:ss").alias("prior_purchase_ts"),
        F.coalesce(F.col("value_r"), F.lit(-1.0)).alias("prior_purchase_value"),
    )


@_register(
    "ext_range_join",
    """SELECT c.event_id AS click_id, p.event_id AS purchase_id
       FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
       JOIN (SELECT user_id, event_id,
                    ts - INTERVAL 1 HOUR AS start_ts,
                    ts + INTERVAL 1 HOUR AS end_ts
             FROM events WHERE event_type = 'purchase') p
         ON c.user_id = p.user_id
        AND c.ts >= p.start_ts AND c.ts <= p.end_ts""",
    "range join: clicks within ±1h of each same-user purchase "
    "(interval-binned equi-join vs the oracle's inequality join)",
)
def ext_range_join(spark, sf_dir):
    from solr_map_reduce_spark.operators.range_join import range_join

    e = t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end_ts"),
    )
    return range_join(
        clicks, purchases, "ts", "start_ts", "end_ts", on="user_id",
        bin_seconds=3600,
    ).select("click_id", "purchase_id")


@_register(
    "skew_salted_join",
    f"""SELECT p_brand, {_DEC_SQL.format(expr='l_quantity')} AS total_qty,
          count(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand""",
    "salted skew-join produces EXACTLY the plain join's result "
    "(operators/skew.salted_join; hot keys spread over 8 salt buckets)",
)
def skew_salted_join(spark, sf_dir):
    from solr_map_reduce_spark.operators.skew import salted_join

    big = t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("partkey"), "l_quantity"
    )
    small = t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("partkey"), "p_brand"
    )
    return (
        salted_join(big, small, "partkey", buckets=8)
        .groupBy("p_brand")
        .agg(
            _dec_sum(F.col("l_quantity"), "total_qty"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@_register(
    "star_join_enrich",
    f"""SELECT r_name, n_name, count(*) AS customers,
         {_DEC_SQL.format(expr='c_acctbal')} AS total_acctbal
       FROM customer JOIN nation ON c_nationkey = n_nationkey
                     JOIN region ON n_regionkey = r_regionkey
       GROUP BY r_name, n_name""",
    "star-schema broadcast join + rollup",
)
def star_join_enrich(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("customers"),
            _dec_sum(F.col("c_acctbal"), "total_acctbal"),
        )
    )


# ===========================================================================
# Extensions: dedup / similarity / text analysis
# ===========================================================================

def _docs_with_dupes(spark, sf_dir):
    """documents ∪ exact copies of every 7th doc under new ids — the dedup
    fixtures (the raw fixture has no duplicate texts)."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    copies = d.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    return d.unionByName(copies)


_DUPES_SQL = """
WITH docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
)
"""


@_register(
    "ext_exact_dedup",
    _DUPES_SQL
    + """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
           count(*) - 1 AS n_dupes
         FROM docs2 GROUP BY md5(text)""",
    "exact dedup: content-digest groupBy, min-id survivor",
)
def ext_exact_dedup(spark, sf_dir):
    return text_dedup.exact_dedup(_docs_with_dupes(spark, sf_dir), "text", "doc_id")


@_register(
    "ext_token_count",
    r"""SELECT doc_id,
          CAST(length(list_filter(regexp_split_to_array(text, '\s+'),
               x -> x <> '')) AS BIGINT) AS n_tokens
        FROM documents""",
    "whitespace token count",
)
def ext_token_count(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", text_analysis.token_count(F.col("text")).alias("n_tokens"))


_QUALITY_SQL = r"""
WITH f AS (
  SELECT doc_id,
    CAST(length(text) AS DOUBLE) AS n,
    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS digit,
    CAST(length(regexp_replace(text, '[^ \t\n]', '', 'g')) AS DOUBLE) AS space,
    list_filter(regexp_split_to_array(lower(text), '[^\p{{L}}\p{{N}}]+'), x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id, n, alpha, digit, space,
    CAST(length(toks) AS DOUBLE) AS ntok,
    CAST(length(list_filter(toks, x -> list_contains({stops}, x))) AS DOUBLE) AS nstop,
    CASE WHEN n > 0 THEN n ELSE 1.0 END AS safe,
    CASE WHEN length(toks) > 0 THEN CAST(length(toks) AS DOUBLE) ELSE 1.0 END AS safe_tok
  FROM f
)
SELECT doc_id,
  CAST(n AS BIGINT) AS n_chars,
  CAST(ntok AS BIGINT) AS n_tokens,
  alpha / safe AS alpha_ratio,
  digit / safe AS digit_ratio,
  space / safe AS space_ratio,
  (alpha + digit) / safe_tok AS mean_token_len,
  nstop / safe_tok AS stopword_ratio,
  least(ntok / 20.0, 1.0) * 0.4 + (alpha / safe) * 0.4
    + least((nstop / safe_tok) * 4.0, 1.0) * 0.2 AS quality_score
FROM g
""".format(stops="[" + ", ".join(f"'{w}'" for w in sorted(ENGLISH_STOP_WORDS)) + "]")


@_register(
    "ext_curation_pipeline",
    f"""WITH q AS ({_QUALITY_SQL}),
        keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
        SELECT d.doc_id, q.quality_score
        FROM documents d
        JOIN q ON d.doc_id = q.doc_id
        JOIN keep ON d.doc_id = keep.doc_id
        WHERE d.lang = 'en' AND q.quality_score >= 0.7""",
    "end-to-end curation: quality-score gate + language filter + exact-dedup "
    "survivor — ONE corpus scan and ONE shuffle: the dedup survivor check is "
    "a window-min over md5(text) instead of a self-join, and the quality "
    "score is a projection on the survivors",
)
def ext_curation_pipeline(spark, sf_dir):
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(F.col("text")))
    survivors = (
        d.withColumn("_keep", F.min("doc_id").over(w))
        .filter((F.col("lang") == "en") & (F.col("doc_id") == F.col("_keep")))
    )
    return text_analysis.quality_features(survivors).filter(
        F.col("quality_score") >= 0.7
    ).select("doc_id", "quality_score")


@_register(
    "ext_bpe_token_count",
    r"""SELECT doc_id,
          CAST(length(regexp_extract_all(text,
            '''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+'))
            AS BIGINT) AS n_bpe_tokens
        FROM documents""",
    "BPE-ish pre-token count (GPT-2 split regex) for corpus token budgeting",
)
def ext_bpe_token_count(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", text_analysis.bpe_token_count(F.col("text")).alias("n_bpe_tokens")
    )


@_register(
    "ext_quality_features",
    _QUALITY_SQL,
    "per-document quality features + composite score",
)
def ext_quality_features(spark, sf_dir):
    return text_analysis.quality_features(t(spark, sf_dir, "documents"))


@_register(
    "ext_chunk_docs",
    r"""
WITH f AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
  FROM documents
), c AS (
  SELECT doc_id, toks, len(toks) AS n,
    CASE WHEN len(toks) <= 0 THEN 0
         WHEN len(toks) <= 64 THEN 1
         ELSE (len(toks) - 64 + 48 - 1) // 48 + 1 END AS n_chunks
  FROM f
), e AS (
  SELECT doc_id, toks, i AS chunk_idx
  FROM c, unnest(generate_series(0, CAST(n_chunks AS INT) - 1)) AS u(i)
  WHERE n_chunks > 0
)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
  array_to_string(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ') AS chunk_text,
  CAST(len(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64]) AS BIGINT) AS n_tokens
FROM e
""",
    "overlapping token-window chunks (64-token windows, 16-token overlap) "
    "— long-document splitting upstream of sequence packing",
)
def ext_chunk_docs(spark, sf_dir):
    return text_analysis.chunk_documents(
        t(spark, sf_dir, "documents"), chunk_tokens=64, overlap=16
    )


@_register(
    "ext_gopher_rules",
    r"""
WITH f AS (
  SELECT doc_id, coalesce(text, '') AS text,
    list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'), x -> x <> '') AS words,
    list_filter(string_split(coalesce(text, ''), chr(10)), x -> trim(x) <> '') AS lines,
    list_distinct(list_filter(regexp_split_to_array(lower(coalesce(text, '')), '[^a-z0-9]+'),
                  x -> x <> '')) AS toks
  FROM documents
), m AS (
  SELECT doc_id,
    CAST(len(words) AS BIGINT) AS n_words,
    CASE WHEN len(words) > 0 THEN len(words) ELSE 1 END AS safe_w,
    CASE WHEN len(lines) > 0 THEN len(lines) ELSE 1 END AS safe_l,
    length(regexp_replace(text, '\s+', '', 'g')) AS nonspace,
    length(text) - length(replace(text, '#', '')) AS n_hash,
    len(regexp_extract_all(text, '\.\.\.')) AS n_ellipsis,
    len(list_filter(lines, x -> starts_with(trim(x), '•')
                          OR starts_with(trim(x), '-')
                          OR starts_with(trim(x), '*'))) AS n_bullet,
    len(list_filter(lines, x -> ends_with(trim(x), '...'))) AS n_ell_end,
    len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
    CAST(len(list_intersect(toks,
      ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_hits
  FROM f
)
SELECT doc_id, n_words,
  nonspace / CAST(safe_w AS DOUBLE) AS mean_word_len,
  (n_hash + n_ellipsis) / CAST(safe_w AS DOUBLE) AS symbol_word_ratio,
  n_bullet / CAST(safe_l AS DOUBLE) AS bullet_line_frac,
  n_ell_end / CAST(safe_l AS DOUBLE) AS ellipsis_line_frac,
  n_alpha / CAST(safe_w AS DOUBLE) AS alpha_word_frac,
  stop_hits,
  (n_words BETWEEN 50 AND 100000)
    AND nonspace / CAST(safe_w AS DOUBLE) BETWEEN 3.0 AND 10.0
    AND (n_hash + n_ellipsis) / CAST(safe_w AS DOUBLE) <= 0.1
    AND n_bullet / CAST(safe_l AS DOUBLE) <= 0.9
    AND n_ell_end / CAST(safe_l AS DOUBLE) <= 0.3
    AND n_alpha / CAST(safe_w AS DOUBLE) >= 0.8
    AND stop_hits >= 2 AS passes
FROM m
""",
    "published Gopher quality rules (word count, mean word length, symbol/"
    "bullet/ellipsis ratios, alpha fraction, stop probe) + pass verdict",
)
def ext_gopher_rules(spark, sf_dir):
    return text_analysis.gopher_rules(t(spark, sf_dir, "documents"))


_LANG_SQL = r"""
WITH f AS (
  SELECT doc_id, text,
    list_distinct(list_filter(regexp_split_to_array(lower(text), '[^\p{{L}}\p{{N}}]+'),
                  x -> x <> '')) AS toks
  FROM documents
), s AS (
  SELECT doc_id, text,
    {scores}
  FROM f
), b AS (
  SELECT *, greatest(s_de, s_en, s_es, s_fr) AS best FROM s
)
SELECT doc_id,
  CASE WHEN length(regexp_replace(text, '[^一-鿿]', '', 'g')) > 0 THEN 'zh'
       WHEN best = 0 THEN 'und'
       WHEN s_de = best THEN 'de'
       WHEN s_en = best THEN 'en'
       WHEN s_es = best THEN 'es'
       WHEN s_fr = best THEN 'fr'
       ELSE 'und' END AS lang_pred,
  CAST(best AS BIGINT) AS lang_score
FROM b
"""


def _lang_sql() -> str:
    scores = ",\n    ".join(
        "CAST(length(list_intersect(toks, [{probes}])) AS BIGINT) AS s_{lang}".format(
            probes=", ".join(f"'{w}'" for w in ws), lang=lang
        )
        for lang, ws in sorted(text_analysis.LANG_PROBES.items())
    )
    return _LANG_SQL.format(scores=scores)


@_register("ext_lang_id", _lang_sql(), "stopword-probe language identification")
def ext_lang_id(spark, sf_dir):
    return text_analysis.lang_id(t(spark, sf_dir, "documents"))


@_register(
    "ext_fingerprint",
    r"""SELECT doc_id,
          md5(array_to_string(list_sort(list_distinct(
            list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
                        x -> x <> ''))), ' ')) AS fingerprint
        FROM documents""",
    "bag-of-words fingerprint (key-collision dedup)",
)
def ext_fingerprint(spark, sf_dir):
    return text_analysis.fingerprint(t(spark, sf_dir, "documents"))


_ANN_SQL = """
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
  WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
)
SELECT vec_id FROM embeddings, q
ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv) DESC, vec_id
LIMIT 10
"""


@_register(
    "ext_ann_topk",
    _ANN_SQL,
    "brute-force cosine top-k (exact ANN baseline)",
)
def ext_ann_topk(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    qvec = (
        e.orderBy("vec_id").select("embedding").first()["embedding"]
    )
    return similarity.cosine_topk(e, qvec, k=10, with_score=False)


_MMR_SQL = """
WITH RECURSIVE q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
  WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
), cand AS (
  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS rel
  FROM embeddings e, q ORDER BY rel DESC, e.vec_id LIMIT 50
), pairs AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib, list_cosine_similarity(a.v, b.v) AS sim
  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
), sel AS (
  SELECT 1 AS step,
         (SELECT vec_id FROM cand ORDER BY rel DESC, vec_id LIMIT 1) AS picked,
         [(SELECT vec_id FROM cand ORDER BY rel DESC, vec_id LIMIT 1)] AS ids
  UNION ALL
  SELECT s.step + 1, nxt.vec_id, list_append(s.ids, nxt.vec_id)
  FROM sel s, LATERAL (
    SELECT c.vec_id FROM cand c
    WHERE NOT list_contains(s.ids, c.vec_id)
    ORDER BY 0.7 * c.rel - 0.3 * (
      SELECT max(p.sim) FROM pairs p
      WHERE p.ia = c.vec_id AND list_contains(s.ids, p.ib)
    ) DESC, c.vec_id
    LIMIT 1
  ) nxt
  WHERE s.step < 10
)
SELECT picked AS vec_id, CAST(step AS INTEGER) AS mmr_rank FROM sel
"""


@_register(
    "ext_mmr_rerank",
    _MMR_SQL,
    "Maximal Marginal Relevance diversified top-10 (SIGIR'98): greedy "
    "0.7*rel - 0.3*max-sim-to-selected over a 50-candidate cosine pool — "
    "relevance pass distributed, bounded pool collected, the inherently "
    "sequential greedy replayed exactly by a recursive-CTE oracle",
)
def ext_mmr_rerank(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    qvec = e.orderBy("vec_id").select("embedding").first()["embedding"]
    return similarity.mmr_rerank(e, qvec, k=10, pool=50, lam=0.7)


_SQ_FIT_CACHE: dict[str, tuple[float, float]] = {}

_SQ_SQL = """
WITH s AS (
  SELECT min(u) AS mn, max(u) AS mx
  FROM (SELECT unnest(CAST(embedding AS DOUBLE[])) AS u FROM embeddings)
), q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
  WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
), sc AS (
  SELECT greatest(abs(mn), abs(mx)) / 127 AS scale FROM s
), enc AS (
  SELECT e.vec_id,
         list_transform(CAST(e.embedding AS DOUBLE[]),
           x -> least(greatest(CAST(floor(x / sc.scale + 0.5) AS BIGINT), -127), 127)) AS c,
         list_transform(q.qv,
           x -> least(greatest(CAST(floor(x / sc.scale + 0.5) AS BIGINT), -127), 127)) AS qc
  FROM embeddings e, sc, q
)
SELECT vec_id, CAST(list_inner_product(c, qc) AS BIGINT) AS score
FROM enc ORDER BY score DESC, vec_id LIMIT 10
"""


@_register(
    "ext_sq_topk",
    _SQ_SQL,
    "symmetric int8 scalar-quantized top-k (the Lucene/FAISS SQ8 serving "
    "shape): codes from a one-pass global max-abs fit, score an EXACT "
    "integer dot-product fold monotone in the decoded dot — 4x smaller "
    "than float32, no float drift, one scan + TakeOrdered",
)
def ext_sq_topk(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    qvec = e.orderBy("vec_id").select("embedding").first()["embedding"]
    # the (min, max) codebook is a BUILD-time artifact (one corpus pass,
    # fitted once per corpus like the PQ/IVF codebooks) — serving reuses it
    if sf_dir not in _SQ_FIT_CACHE:
        _SQ_FIT_CACHE[sf_dir] = similarity.sq_fit(e)
    mn, mx = _SQ_FIT_CACHE[sf_dir]
    return similarity.sq_topk(e, qvec, k=10, mn=mn, mx=mx)


@_register(
    "ext_minhash_dedup",
    # r6: DuckDB-oracled against ALL-PAIRS exact 3-gram Jaccard — the
    # oracle is a standing exact-precision AND 100% recall check of the
    # full LSH pipeline (banding, candidate join, verification) at this
    # threshold/corpus; the repo's own all-pairs ground-truth tests
    # (tests/test_dedup_oracle.py) prove the same independently
    _DUPES_SQL
    + """,
tok AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
                     x -> x <> '') AS t
  FROM docs2
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                  FOR i IN generate_series(1, len(t) - 2)])
              ELSE [array_to_string(t, ' ')] END AS s
  FROM tok
),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.s, b.s)) AS inter,
         len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS uni
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, inter / CAST(uni AS DOUBLE) AS jaccard
FROM p WHERE inter / CAST(uni AS DOUBLE) >= 0.5
""",
    "MinHash+LSH near-duplicate pairs (verified Jaccard >= 0.5)",
)
def ext_minhash_dedup(spark, sf_dir):
    docs = _docs_with_dupes(spark, sf_dir)
    return text_dedup.minhash_dedup(docs, "text", "doc_id", threshold=0.5)


@_register(
    "ext_simhash",
    # r6: the whole majority-vote bit pipeline is DuckDB-oracled by running
    # the op under its SQL-reproducible hash profile (md5_60: 60-bit int
    # from the md5 hex prefix — identical tokens, votes, and packing; only
    # the token-hash function differs from the xxhash64 production default,
    # which stays golden-tested in tests/test_dedup.py)
    """
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
                     x -> x <> '') AS t
  FROM documents
),
th AS (
  SELECT doc_id, ('0x' || substr(md5(u.tok), 1, 15))::bigint AS h
  FROM tok, unnest(t) AS u(tok)
),
bits AS (
  SELECT doc_id, b.bit, sum((h >> b.bit) & 1) AS ones, count(*) AS n
  FROM th, (SELECT unnest(generate_series(0, 59)) AS bit) b
  GROUP BY doc_id, b.bit
),
sh AS (
  SELECT doc_id, sum(CASE WHEN ones * 2 > n THEN (1::bigint << bit) ELSE 0 END)::bigint AS simhash
  FROM bits GROUP BY doc_id
)
SELECT d.doc_id, coalesce(sh.simhash, 0)::bigint AS simhash
FROM documents d LEFT JOIN sh ON d.doc_id = sh.doc_id
""",
    "64-bit SimHash per document (SQL-reproducible md5_60 hash profile)",
)
def ext_simhash(spark, sf_dir):
    return text_dedup.simhash64(
        t(spark, sf_dir, "documents"), hash_fn="md5_60"
    ).select("doc_id", "simhash")


@_register(
    "ext_ngram_jaccard",
    # r6: DuckDB-oracled against ALL-PAIRS exact Jaccard — also a standing
    # 100% recall check on the LSH blocking at this threshold/corpus (the
    # repo's own all-pairs ground-truth tests proved the same)
    _DUPES_SQL
    + """,
tok AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
                     x -> x <> '') AS t
  FROM docs2
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 2
              THEN list_distinct([t[i] || ' ' || t[i+1] FOR i IN generate_series(1, len(t) - 1)])
              ELSE [array_to_string(t, ' ')] END AS s
  FROM tok
),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.s, b.s)) AS inter,
         len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS uni
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, inter / CAST(uni AS DOUBLE) AS jaccard
FROM p WHERE inter / CAST(uni AS DOUBLE) >= 0.4
""",
    "exact word-2gram Jaccard pairs (>= 0.4) over docs ∪ injected copies",
)
def ext_ngram_jaccard(spark, sf_dir):
    return text_dedup.ngram_jaccard_pairs(
        _docs_with_dupes(spark, sf_dir), "text", "doc_id", k=2, threshold=0.4
    )


_DECON_SQL = r"""
WITH tr AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
                     x -> x <> '') AS t
  FROM documents
), te AS (
  SELECT list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
                     x -> x <> '') AS t
  FROM documents WHERE doc_id % 13 = 0
), te_grams AS (
  SELECT DISTINCT array_to_string(t[g:g+4], ' ') AS g
  FROM (SELECT t, unnest(generate_series(1, len(t) - 4)) AS g
        FROM te WHERE len(t) >= 5)
  UNION
  SELECT array_to_string(t, ' ') FROM te WHERE len(t) BETWEEN 1 AND 4
), tr_grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[g:g+4], ' ') AS g
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS g
        FROM tr WHERE len(t) >= 5)
  UNION
  SELECT DISTINCT doc_id, array_to_string(t, ' ') FROM tr WHERE len(t) BETWEEN 1 AND 4
), hits AS (
  SELECT doc_id, CAST(count(DISTINCT g) AS BIGINT) AS n_hits
  FROM tr_grams JOIN te_grams USING (g) GROUP BY doc_id
)
SELECT d.doc_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
"""


@_register(
    "ext_decontaminate",
    _DECON_SQL,
    "train/test decontamination: flag train docs sharing any token 5-gram "
    "with the eval split (every 13th doc); broadcast test-gram hashes, "
    "hash-only shuffle",
)
def ext_decontaminate(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    test = d.filter(F.col("doc_id") % 13 == 0).select("text")
    return text_dedup.decontaminate(d, test, n=5)


@_register(
    "ext_simhash_pairs",
    # r6: DuckDB-oracled end to end under the md5_60 hash profile — the
    # oracle recomputes every simhash in SQL and takes the ALL-PAIRS
    # hamming ball, so it checks both the hashes and the pigeonhole
    # chunk-blocking's completeness (which is exact by construction, no
    # probabilistic recall: any pair within hamming 3 shares a chunk)
    _DUPES_SQL
    + """,
tok AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
                     x -> x <> '') AS t
  FROM docs2
),
th AS (
  SELECT doc_id, ('0x' || substr(md5(u.tok), 1, 15))::bigint AS h
  FROM tok, unnest(t) AS u(tok)
),
bits AS (
  SELECT doc_id, b.bit, sum((h >> b.bit) & 1) AS ones, count(*) AS n
  FROM th, (SELECT unnest(generate_series(0, 59)) AS bit) b
  GROUP BY doc_id, b.bit
),
shh AS (
  SELECT doc_id, sum(CASE WHEN ones * 2 > n THEN (1::bigint << bit) ELSE 0 END)::bigint AS simhash
  FROM bits GROUP BY doc_id
),
allsim AS (
  SELECT d.doc_id, coalesce(shh.simhash, 0)::bigint AS simhash
  FROM docs2 d LEFT JOIN shh ON d.doc_id = shh.doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b
FROM allsim a JOIN allsim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""",
    "SimHash near-dup pairs (hamming <= 3) over docs ∪ injected copies",
)
def ext_simhash_pairs(spark, sf_dir):
    sims = text_dedup.simhash64(_docs_with_dupes(spark, sf_dir), hash_fn="md5_60")
    return text_dedup.simhash_candidates(sims, max_hamming=3).select("id_a", "id_b")


_COS_PAIRS_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.2
"""


@_register(
    "ext_cosine_pairs",
    _COS_PAIRS_SQL,
    "embedding near-dup pairs (exact small-scale path; production path is "
    "cosine_pairs_lsh which blocks on sign-LSH)",
)
def ext_cosine_pairs(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    return similarity.cosine_pairs_blocked(e, threshold=0.2)


@_register(
    "ext_dedup_clusters",
    f"""WITH RECURSIVE pairs AS ({_COS_PAIRS_SQL}),
        edges AS (
          SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ),
        reach(a, b) AS (
          SELECT a, a FROM (SELECT DISTINCT a FROM edges)
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        )
        SELECT a AS id, min(b) AS cluster_id FROM reach GROUP BY a""",
    "dedup cluster resolution: near-dup pair graph -> connected components "
    "via iterative min-label propagation (O(diameter) rounds, one shuffle "
    "per round, checkpoint-truncated lineage); cluster_id = min vertex = "
    "the canonical doc to keep. Oracle: recursive-CTE transitive closure",
)
def ext_dedup_clusters(spark, sf_dir):
    pairs = ext_cosine_pairs(spark, sf_dir)
    return text_dedup.connected_components(pairs)


@_register(
    "ext_cosine_pairs_lsh",
    # r6: DuckDB-oracled against the ALL-PAIRS exact cosine graph — exact
    # precision is guaranteed (candidates verify against true cosine);
    # the oracle additionally witnesses 100% recall of the sign-LSH
    # blocking at this threshold/corpus (near-exact copies collide in
    # every plane bucket with overwhelming probability; the numpy gram-
    # matrix tests in tests/test_dedup_oracle.py prove copy-recall
    # independently)
    """
WITH emb2 AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 11 = 0
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM emb2 a JOIN emb2 b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.99
""",
    "embedding near-dup pairs via sign-LSH blocking (the 100 TB path: no "
    "cross join); fixture = embeddings ∪ copies of every 11th under new ids",
)
def ext_cosine_pairs_lsh(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    copies = e.filter(F.col("vec_id") % 11 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1_000_000)
    )
    both = e.unionByName(copies)
    return similarity.cosine_pairs_lsh(both, threshold=0.99).select("id_a", "id_b")


_IVF_INDEX_CACHE: dict[str, str] = {}


@_register(
    "ext_ivf_topk",
    None,  # approximate by design (IVF nprobe pruning)
    "IVF-bucketed approximate top-k",
)
def ext_ivf_topk(spark, sf_dir):
    # build-once, serve-many: fit/assign/save happens on first call; the
    # measured query is a partition-pruned scan of nprobe bucket dirs via
    # search_stored — the serving shape, not an index rebuild
    import os
    import tempfile

    e = t(spark, sf_dir, "embeddings")
    qvec = e.orderBy("vec_id").select("embedding").first()["embedding"]
    path = _IVF_INDEX_CACHE.get(sf_dir)
    if path is None or not os.path.isdir(path):
        index = similarity.IvfIndex.fit(e, n_centroids=8)
        path = tempfile.mkdtemp(prefix="smrs_ivf_")
        index.save(path, assigned=index.assign(e))
        _IVF_INDEX_CACHE[sf_dir] = path
    index = similarity.IvfIndex.load(spark, path)
    return index.search_stored(spark, path, qvec, k=10, nprobe=3).select("vec_id")


_IVFPQ_INDEX_CACHE: dict[str, str] = {}


@_register(
    "ext_ivfpq_topk",
    None,  # approximate by design (coarse pruning + PQ compression);
    # recall vs exact golden-tested in tests/test_similarity_pq.py
    "IVF+PQ approximate top-k: partition-pruned probe over 32x-compressed "
    "codes (ids + m-byte PQ codes only) — the 100 TB ANN serving shape",
)
def ext_ivfpq_topk(spark, sf_dir):
    import os
    import tempfile

    e = t(spark, sf_dir, "embeddings")
    qvec = e.orderBy("vec_id").select("embedding").first()["embedding"]
    path = _IVFPQ_INDEX_CACHE.get(sf_dir)
    if path is None or not os.path.isdir(path):
        index = similarity.IvfPqIndex.fit(e, n_centroids=8, m=8, ksub=16)
        path = tempfile.mkdtemp(prefix="smrs_ivfpq_")
        index.build(e, path)
        _IVFPQ_INDEX_CACHE[sf_dir] = path
    index = similarity.IvfPqIndex.load(spark, path)
    return index.search_stored(spark, path, qvec, k=10, nprobe=3).select("vec_id")


@_register(
    "ext_sessionize",
    None,  # filled in below (helper builds the SQL)
    "gap-based sessionization of the event stream (30 min gap)",
)
def ext_sessionize(spark, sf_dir):
    from solr_map_reduce_spark.streaming.sessionize import sessionize

    return sessionize(t(spark, sf_dir, "events"), "user_id", "ts", gap_seconds=1800)


def _wire_sessionize_oracle() -> None:
    from solr_map_reduce_spark.streaming.sessionize import sessionize_oracle_sql

    qd = REGISTRY["ext_sessionize"]
    REGISTRY["ext_sessionize"] = QueryDef(
        spark=qd.spark, oracle=sessionize_oracle_sql(gap_seconds=1800), doc=qd.doc
    )


_wire_sessionize_oracle()


@_register(
    "b12_detect_mime",
    """SELECT doc_id,
         CASE WHEN text IS NULL OR length(text) = 0 THEN 'application/x-empty'
              ELSE 'text/plain' END AS mime
       FROM documents""",
    "B12 detectMimeType: magic-byte sniff (text corpus → text/plain)",
)
def b12_detect_mime(spark, sf_dir):
    from solr_map_reduce_spark.sources.binary import detect_mime_type

    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", detect_mime_type(F.encode(F.col("text"), "utf-8")).alias("mime")
    )


# ===========================================================================
# Extensions: full-text search over the artifact (C9 + BM25)
# ===========================================================================

_TOKS_SQL = (
    r"list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')"
)

# Build-once cache of the documents search artifact per sf_dir: the reference
# analyzes at INDEX time (schema.xml text_en:119) and queries stored
# structures; re-tokenizing raw documents.text on every term query is the
# wrong cost model at scale.  The artifact stores `text__tokens`
# (text_general analysis == the oracle's regex split, so DuckDB parity is
# bit-identical) and every c9_*/bm25 query below reads it.
_INDEX_CACHE: dict[tuple, str] = {}
_INDEX_HANDLE: dict[tuple, object] = {}


def _cached_index(spark, sf_dir, name, schema, df_fn, **config_kw):
    """Build-once / open-once artifact per ``(name, sf_dir)``: the
    cache-staleness (isdir) revalidation, tempdir build, and handle
    reuse live HERE once — every query-registry artifact builder is a
    thin wrapper.  Reusing one handle per sf matters: its
    instance-level bloom/stats/df caches make repeated queries (the
    serving pattern, and the bench's best-of-N) skip sidecar re-reads."""
    import os
    import tempfile

    from solr_map_reduce_spark.index_reader import SearchIndex
    from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig

    key = (name, sf_dir)
    handle = _INDEX_HANDLE.get(key)
    if handle is not None and os.path.isdir(_INDEX_CACHE.get(key, "")):
        return handle
    path = _INDEX_CACHE.get(key)
    if path is None or not os.path.isdir(path):
        job = IndexJob(IndexJobConfig(schema=schema, **config_kw))
        path = os.path.join(
            tempfile.mkdtemp(prefix=f"smrs_{name}_idx_"), "index"
        )
        job.build(df_fn(), path)
        _INDEX_CACHE[key] = path
    _INDEX_HANDLE[key] = SearchIndex.open(spark, path)
    return _INDEX_HANDLE[key]


def _docs_search_index(spark, sf_dir):
    schema = IndexSchema(
        fields=(
            Field("doc_id", "long", required=True),
            Field("text", "text_general"),
            Field("lang", "string"),
            Field("source", "string"),
            Field("n_chars", "long"),
        ),
        unique_key="doc_id",
    )
    return _cached_index(
        spark, sf_dir, "docs", schema,
        lambda: t(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "source", "n_chars"
        ),
        shards=4, micro_shards=8, dedup="none", routing="native",
        term_blooms=True, search_stats=True,
    )


# Nested (parent/child) artifact: orders as parent docs, their lineitems as
# child docs carrying the parent key in `_root_` — Solr's nested-document
# block contract, over which {!parent}/{!child} block joins run.  Built once
# per sf_dir and process, like the docs artifact above.
def _nested_orders_index(spark, sf_dir):
    schema = IndexSchema(
        fields=(
            Field("id", "string", required=True),
            Field("_root_", "string"),
            Field("kind", "string"),
            Field("orderkey", "long"),
            Field("priority", "string"),
            Field("totalprice", "double"),
            Field("quantity", "double"),
        ),
        unique_key="id",
    )

    def blocks():
        o = t(spark, sf_dir, "orders").select(
            F.concat(F.lit("o"), F.col("o_orderkey")).alias("id"),
            F.concat(F.lit("o"), F.col("o_orderkey")).alias("_root_"),
            F.lit("parent").alias("kind"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderpriority").alias("priority"),
            F.col("o_totalprice").cast("double").alias("totalprice"),
            F.lit(None).cast("double").alias("quantity"),
        )
        li = t(spark, sf_dir, "lineitem").select(
            F.concat(
                F.lit("l"), F.col("l_orderkey"), F.lit("-"), F.col("l_linenumber")
            ).alias("id"),
            F.concat(F.lit("o"), F.col("l_orderkey")).alias("_root_"),
            F.lit("child").alias("kind"),
            F.col("l_orderkey").alias("orderkey"),
            F.lit(None).cast("string").alias("priority"),
            F.lit(None).cast("double").alias("totalprice"),
            F.col("l_quantity").cast("double").alias("quantity"),
        )
        return o.unionByName(li)

    # routing="native" for the same reason as the docs artifact above: this
    # is a synthetic artifact that never co-exists with a live SolrCloud,
    # and every query over it is placement-independent (block joins
    # semi-join on _root_ across all shards; json facets aggregate).  The
    # SolrCloud-parity hash costs an Arrow round-trip over 750 k concat'd
    # ids per build — measured r13 interleaved A/B at sf0.1: native build
    # median 3.16 s vs solr 4.22 s (~25%), results oracle-identical.
    return _cached_index(
        spark, sf_dir, "nested", schema, blocks,
        shards=4, micro_shards=8, dedup="none", routing="native",
    )


@_register(
    "c9_join_query",
    f"""WITH toks AS (
          SELECT doc_id, source, lang, {_TOKS_SQL} AS t FROM documents
        )
        SELECT doc_id FROM toks
        WHERE source IN (
          SELECT source FROM toks
          WHERE lang = 'de' AND list_contains(t, 'spark') AND source IS NOT NULL
        )""",
    "Solr JoinQParserPlugin {!join from=source to=source}: docs sharing a "
    "source with any German doc containing 'spark' — inner query's distinct "
    "from-values semi-joined back (AQE broadcasts the small key set)",
)
def c9_join_query(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).query(
        "{!join from=source to=source}lang:de AND spark"
    )


@_register(
    "c9_frange",
    """SELECT doc_id FROM documents
       WHERE CAST(n_chars AS DOUBLE) / 300.0 >= 0.5
         AND CAST(n_chars AS DOUBLE) / 300.0 < 2.0""",
    "Solr FunctionRangeQParser {!frange l=0.5 u=2 incu=false}"
    "div(n_chars,300): docs whose function-query VALUE lands in the "
    "range — the function grammar compiled to one expression-tree "
    "predicate (whole-stage codegen, no UDF), one scan",
)
def c9_frange(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).query(
        "{!frange l=0.5 u=2 incu=false}div(n_chars,300)"
    )


@_register(
    "c9_terms_filter",
    "SELECT doc_id FROM documents WHERE lang IN ('de', 'fr')",
    "Solr TermsQParser {!terms f=lang}de,fr: raw un-analyzed set-"
    "membership filter — ONE isin predicate pushed into the scan "
    "(the docvalues terms-filter shape)",
)
def c9_terms_filter(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).query("{!terms f=lang}de,fr")


@_register(
    "c9_block_join_parent",
    """SELECT 'o' || o_orderkey AS id, o_orderpriority AS priority
       FROM orders
       WHERE EXISTS (SELECT 1 FROM lineitem
                     WHERE l_orderkey = o_orderkey AND l_quantity >= 45)""",
    "Solr ToParentBlockJoinQuery {!parent which=kind:parent}: parent "
    "(order) docs having >= 1 child (lineitem) doc with quantity >= 45, "
    "children carrying the parent key in _root_ (nested-document contract)",
)
def c9_block_join_parent(spark, sf_dir):
    return _nested_orders_index(spark, sf_dir).search(
        q="{!parent which=kind:parent}quantity:[45 TO *]",
        select=["id", "priority"],
    )


@_register(
    "c9_block_join_child",
    """SELECT 'l' || l_orderkey || '-' || l_linenumber AS id,
              l_quantity AS quantity
       FROM lineitem
       WHERE EXISTS (SELECT 1 FROM orders
                     WHERE o_orderkey = l_orderkey
                       AND o_totalprice >= 180000)""",
    "Solr {!child of=kind:parent}: child (lineitem) docs of parent "
    "(order) docs with totalprice >= 180000 — parent keys distinct-"
    "projected and semi-joined against the children's _root_",
)
def c9_block_join_child(spark, sf_dir):
    return _nested_orders_index(spark, sf_dir).search(
        q="{!child of=kind:parent}totalprice:[180000 TO *]",
        select=["id", "quantity"],
    )


@_register(
    "c2_segment_lookup",
    "SELECT doc_id, text FROM documents WHERE doc_id = 7",
    "C2 point lookup segment-pruned by the key spans in the parquet footers: "
    "only the segment files whose [min, max] admits the key are read "
    "(key_ranges.py — the Lucene per-segment term-dictionary cost model)",
)
def c2_segment_lookup(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).get(7).select("doc_id", "text")


@_register(
    "c2_key_range",
    "SELECT doc_id, text FROM documents WHERE doc_id BETWEEN 100 AND 120",
    "Contiguous key-range scan segment-pruned by the footer key spans "
    "(the composite-id root!* scan shape, key_ranges.py)",
)
def c2_key_range(spark, sf_dir):
    return (
        _docs_search_index(spark, sf_dir)
        .key_range(100, 120)
        .select("doc_id", "text")
    )


@_register(
    "c9_contains_all",
    f"""SELECT doc_id FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
        WHERE list_contains(t, 'spark') AND list_contains(t, 'vector')""",
    "C9 boolean AND term query over STORED token arrays in the artifact",
)
def c9_contains_all(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).contains_all(["spark", "vector"])


@_register(
    "c9_contains_any",
    f"""SELECT doc_id FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
        WHERE list_contains(t, 'spark') OR list_contains(t, 'shuffle')""",
    "C9 boolean OR term query over STORED token arrays in the artifact",
)
def c9_contains_any(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).contains_any(["spark", "shuffle"])


@_register(
    "c9_match_phrase",
    f"""SELECT doc_id FROM (
          SELECT doc_id, ' ' || array_to_string({_TOKS_SQL}, ' ') || ' ' AS hay
          FROM documents)
        WHERE contains(hay, ' table hash ')""",
    "C9 analyzed phrase query (slop 0) over STORED token arrays",
)
def c9_match_phrase(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).phrase("table hash")


@_register(
    "c9_spellcheck_collate",
    f"""WITH toks_t AS (
          SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
        vocab AS (
          SELECT term, count(*) AS df FROM (
            SELECT doc_id, unnest(list_distinct(toks)) AS term FROM toks_t)
          GROUP BY term),
        c1 AS (
          SELECT term AS s FROM (
            SELECT term, df, levenshtein(term, 'sprak') AS d FROM vocab
            WHERE term <> 'sprak' AND abs(length(term) - 5) <= 2
              AND levenshtein(term, 'sprak') <= 2
            ORDER BY d, df DESC, term LIMIT 3)),
        c2 AS (
          SELECT term AS s FROM (
            SELECT term, df, levenshtein(term, 'scn') AS d FROM vocab
            WHERE term <> 'scn' AND abs(length(term) - 3) <= 2
              AND levenshtein(term, 'scn') <= 2
            ORDER BY d, df DESC, term LIMIT 3)),
        combos AS (SELECT c1.s AS w1, c2.s AS w2 FROM c1 CROSS JOIN c2),
        verified AS (
          SELECT w1, w2,
            (SELECT count(*) FROM toks_t t
             WHERE list_contains(t.toks, w1)
               AND list_contains(t.toks, w2)) AS hits
          FROM combos)
        SELECT w1 || ' ' || w2 AS "collation", CAST(hits AS BIGINT) AS hits
        FROM verified WHERE hits > 0
        ORDER BY hits DESC, "collation" LIMIT 5""",
    "Solr spellcheck.collate (+collateExtendedResults): whole-query "
    "corrections — per-word candidates from the dictionary sidecar "
    "(dist asc, df desc), ALL candidate combinations hit-counted in "
    "ONE conditional-aggregate pass over the Bloom-pruned scan (never "
    "a query per collation), ranked hits desc",
)
def c9_spellcheck_collate(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).spellcheck_collate(
        ["sprak", "scn"], max_collations=5, top=3
    )


@_register(
    "c9_complex_phrase",
    f"""SELECT doc_id FROM (
          SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
        WHERE len(list_filter(range(1, len(toks)),
              i -> regexp_matches(toks[i], '^ha.*$')
                   AND toks[i+1] = 'join')) > 0""",
    "Lucene {!complexphrase}: a phrase whose terms are wildcards — "
    "ordered positional window over stored tokens (greedy earliest-"
    "witness chase over per-term position sets; wildcards are anchored "
    "regex position filters, never a dictionary expansion)",
)
def c9_complex_phrase(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).search(
        q='{!complexphrase}text:"ha* join"', select=["doc_id"]
    )


@_register(
    "c9_facet_range_other",
    """WITH buckets AS (
          SELECT CAST(100 + FLOOR((n_chars - 100) / 100) * 100 AS BIGINT)
                   AS bucket_start,
                 CAST(count(*) AS BIGINT) AS cnt,
                 CAST(NULL AS VARCHAR) AS other
          FROM documents WHERE n_chars >= 100 AND n_chars < 500
          GROUP BY 1),
        others AS (
          SELECT CAST(-1 AS BIGINT) AS bucket_start,
                 CAST(sum(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END)
                      AS BIGINT) AS cnt,
                 'before' AS other FROM documents
          UNION ALL
          SELECT -1,
                 CAST(sum(CASE WHEN n_chars >= 100 AND n_chars < 500
                          THEN 1 ELSE 0 END) AS BIGINT),
                 'between' FROM documents
          UNION ALL
          SELECT -1,
                 CAST(sum(CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END)
                      AS BIGINT),
                 'after' FROM documents)
       SELECT * FROM buckets UNION ALL SELECT * FROM others""",
    "Solr facet.range.other=all: before/after/between out-of-range "
    "counts — ONE extra map-side-combined 1-row aggregate over the "
    "same scan, appended as labeled rows (pinned bounds: before < "
    "start, after >= end, between [start,end))",
)
def c9_facet_range_other(spark, sf_dir):
    out = _docs_search_index(spark, sf_dir).range_facet(
        "n_chars", start=100, end=500, gap=100, other="all"
    )
    # -1 sentinel instead of NULL bucket_start: pandas would float-NaN
    # a nullable integer column on the oracle side
    return out.select(
        F.coalesce(F.col("bucket_start").cast("long"), F.lit(-1))
        .alias("bucket_start"),
        "cnt", "other",
    )


@_register(
    "c9_bool_query",
    f"""SELECT doc_id FROM (
          SELECT doc_id, lang, {_TOKS_SQL} AS t FROM documents)
        WHERE list_contains(t, 'spark') AND lang = 'en'
          AND NOT list_contains(t, 'slow')""",
    "Solr BoolQParser ({!bool must= must= must_not=}): Lucene "
    "BooleanQuery match semantics — every clause compiles through the "
    "same predicate compiler onto ONE scan lineage, zero extra scans; "
    "repeated local-params keys conjoin",
)
def c9_bool_query(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).search(
        q="{!bool must='text:spark' must='lang:en' "
          "must_not='text:slow'}",
        select=["doc_id"],
    )


@_register(
    "c9_surround_w",
    f"""SELECT doc_id FROM (
          SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
        WHERE len(list_filter(range(1, len(toks)),
              i -> regexp_matches(toks[i], '^ha.*$')
                   AND (coalesce(toks[i+1] = 'join', false)
                        OR coalesce(toks[i+2] = 'join', false)))) > 0""",
    "Lucene {!surround} ordered-W subset (2w(ha*, join)): terms in "
    "order with total slack <= N-1 over stored positions — the same "
    "greedy earliest-witness window as complexphrase, wildcard "
    "operands as anchored-regex position filters, raw (unanalyzed) "
    "lowercase operands per Lucene's surround parser",
)
def c9_surround_w(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).search(
        q="{!surround}text:2w(ha*, join)", select=["doc_id"]
    )


@_register(
    "c9_backup_restore",
    """SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM documents
       ORDER BY doc_id LIMIT 20""",
    "Solr /replication backup + restore lifecycle, externally checked: "
    "build a dedicated artifact, point-in-time backup() under the "
    "mutation lock, delete a third of the docs from live, restore() the "
    "snapshot via the atomic publish swap — the served rows must equal "
    "the pre-mutation table (a failed restore would leave the deleted "
    "doc_id%3 rows missing from the page and hash-mismatch)",
)
def c9_backup_restore(spark, sf_dir):
    import os
    import tempfile

    from solr_map_reduce_spark.index_reader import SearchIndex
    from solr_map_reduce_spark.indexing import (
        IndexJob, IndexJobConfig, backup, restore,
    )

    schema = IndexSchema(
        fields=(Field("doc_id", "long", required=True),
                Field("n_chars", "long")),
        unique_key="doc_id",
    )
    base = tempfile.mkdtemp(prefix="smrs_bakres_")
    path = os.path.join(base, "idx")
    job = IndexJob(IndexJobConfig(schema=schema, shards=2, dedup="none"))
    job.build(
        t(spark, sf_dir, "documents").select("doc_id", "n_chars"), path
    )
    backup(path, os.path.join(base, "bak"), spark)
    job.delete_where(spark, path, F.col("doc_id") % 3 == 0)
    restore(os.path.join(base, "bak"), path, spark)
    return (
        SearchIndex.open(spark, path)
        .df()
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
        .limit(20)
    )


@_register(
    "c9_luke",
    """SELECT 'doc_id' AS field, 'bigint' AS type,
              (SELECT CAST(count(doc_id) AS BIGINT) FROM documents) AS docs,
              false AS multi_valued,
              (SELECT CAST(count(*) AS BIGINT) FROM documents) AS num_docs
       UNION ALL SELECT 'lang', 'string',
              (SELECT CAST(count(lang) AS BIGINT) FROM documents), false,
              (SELECT CAST(count(*) AS BIGINT) FROM documents)
       UNION ALL SELECT 'n_chars', 'bigint',
              (SELECT CAST(count(n_chars) AS BIGINT) FROM documents), false,
              (SELECT CAST(count(*) AS BIGINT) FROM documents)
       UNION ALL SELECT 'source', 'string',
              (SELECT CAST(count(source) AS BIGINT) FROM documents), false,
              (SELECT CAST(count(*) AS BIGINT) FROM documents)
       UNION ALL SELECT 'text', 'string',
              (SELECT CAST(count(text) AS BIGINT) FROM documents), false,
              (SELECT CAST(count(*) AS BIGINT) FROM documents)""",
    "Solr Luke handler (/admin/luke) field report: per-field read-schema "
    "type, non-null doc count, multi-valued flag + the O(1) sidecar "
    "num_docs — the per-field stats ride ONE map-side-combined aggregate "
    "pass; internal shard/tokens columns excluded.  The HLL distinct "
    "estimate stays out of the oracled projection (approximate by "
    "contract; exactness is not promised by Solr's luke either)",
)
def c9_luke(spark, sf_dir):
    rep = _docs_search_index(spark, sf_dir).luke()
    rows = [
        (fname, v["type"], int(v["docs"]), bool(v["multi_valued"]),
         int(rep["num_docs"]))
        for fname, v in sorted(rep["fields"].items())
    ]
    return spark.createDataFrame(
        rows,
        "field string, type string, docs long, multi_valued boolean, "
        "num_docs long",
    )


@_register(
    "c9_surround_n",
    f"""SELECT doc_id FROM (
          SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
        WHERE len(list_filter(range(1, len(toks) + 1),
              i -> coalesce(regexp_matches(toks[i], '^ha.*$'), false)
                   AND len(list_filter(range(1, len(toks) + 1),
                         j -> j <> i AND abs(j - i) <= 2
                              AND coalesce(toks[j] = 'join', false))) > 0))
              > 0""",
    "Lucene {!surround} unordered-N operator (2n(ha*, join)): both "
    "terms at DISTINCT positions within the W width bound, ANY order — "
    "the permutation-OR over the ordered greedy chase "
    "(unordered_near_match), catching the reversed 'join .. ha*' pairs "
    "the ordered W query misses",
)
def c9_surround_n(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).search(
        q="{!surround}text:2n(ha*, join)", select=["doc_id"]
    )


@_register(
    "c9_prefix_match",
    f"""SELECT doc_id FROM (
          SELECT doc_id, ' ' || array_to_string({_TOKS_SQL}, ' ') || ' ' AS hay
          FROM documents)
        WHERE contains(hay, ' cust')""",
    "C9 prefix (wildcard) term query over STORED token arrays",
)
def c9_prefix_match(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).prefix("cust")


@_register(
    "c9_contains_none",
    f"""SELECT doc_id FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
        WHERE NOT list_contains(t, 'spark') AND NOT list_contains(t, 'shuffle')""",
    "C9 prohibited-clause (NOT) term query over STORED token arrays",
)
def c9_contains_none(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).contains_none(["spark", "shuffle"])


@_register(
    "c9_boolean_query",
    f"""SELECT doc_id FROM (
          SELECT doc_id, {_TOKS_SQL} AS t,
                 ' ' || array_to_string({_TOKS_SQL}, ' ') || ' ' AS hay
          FROM documents)
        WHERE (list_contains(t, 'spark') AND list_contains(t, 'vector'))
           OR (contains(hay, ' table hash ') AND NOT list_contains(t, 'shuffle'))""",
    "C9 composed boolean query — the Solr/Lucene syntax subset (terms, "
    "phrases, AND/OR/NOT, parens) parsed driver-side and compiled to ONE "
    "scan predicate over the stored token arrays",
)
def c9_boolean_query(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).query(
        '(spark AND vector) OR ("table hash" AND NOT shuffle)'
    )


@_register(
    "c9_fielded_query",
    f"""SELECT doc_id FROM (SELECT doc_id, lang, {_TOKS_SQL} AS t FROM documents)
        WHERE list_contains(t, 'spark') AND lang = 'en'
           OR (lang = 'de' AND NOT list_contains(t, 'shuffle'))""",
    "Solr fielded clauses (field:value) mixed with default-field terms: "
    "analyzed fields route through their analyzer + stored tokens, plain "
    "columns become equality predicates — still ONE scan",
)
def c9_fielded_query(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).query(
        "(spark AND lang:en) OR (lang:de -shuffle)"
    )


@_register(
    "c9_range_query",
    f"""SELECT doc_id FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
        WHERE list_contains(t, 'spark') AND doc_id >= 100 AND doc_id < 300""",
    "Solr range clause: field:[lo TO hi] / {exclusive}, numeric bounds "
    "compare numerically, * = open — composed with a term clause",
)
def c9_range_query(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).query(
        "spark AND doc_id:[100 TO 300}"
    )


@_register(
    "c9_field_group",
    f"""SELECT doc_id FROM (SELECT doc_id, lang, {_TOKS_SQL} AS t FROM documents)
        WHERE (lang = 'en' OR lang = 'de')
          AND (list_contains(t, 'spark') OR list_contains(t, 'vector'))
          AND NOT list_contains(t, 'shuffle')""",
    "Solr field scoping lang:(en OR de) + grouped default-field terms and "
    "a prohibit — still compiled to ONE scan predicate; *:* match-all is "
    "part of the same grammar",
)
def c9_field_group(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).query(
        "lang:(en OR de) AND text:(spark OR vector) -shuffle"
    )


@_register(
    "c9_phrase_slop",
    f"""WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
        pos AS (SELECT doc_id, unnest(t) AS term,
                       generate_subscripts(t, 1) AS ord FROM toks)
        SELECT DISTINCT p1.doc_id AS doc_id
        FROM pos p1 JOIN pos p2 ON p1.doc_id = p2.doc_id
        WHERE p1.term = 'table' AND p2.term = 'hash'
          AND p2.ord > p1.ord AND p2.ord - p1.ord - 1 <= 2""",
    "Solr phrase slop ('table hash'~2): phrase tokens in order within N "
    "extra positions, matched by higher-order array functions over the "
    "STORED token positions — JVM-side, one scan, Bloom-prunable (every "
    "phrase token stays necessary)",
)
def c9_phrase_slop(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).query('"table hash"~2')


@_register(
    "c9_fuzzy_query",
    f"""SELECT doc_id FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
        WHERE len(list_filter(t, x -> levenshtein(x, 'spak') <= 1)) > 0""",
    "Lucene fuzzy term (spak~1): any stored token within Levenshtein "
    "distance N — F.levenshtein inside exists(), no dictionary expansion",
)
def c9_fuzzy_query(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).query("spak~1")


# Build-once events index (timestamp-typed unique-key artifact) for the
# date-typed range clause — Solr dates are first-class (tdate, SURVEY §1.3)
_EVENTS_INDEX_CACHE: dict[str, str] = {}
_EVENTS_INDEX_HANDLE: dict[str, object] = {}


def _events_search_index(spark, sf_dir):
    import os
    import tempfile

    from solr_map_reduce_spark.index_reader import SearchIndex
    from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig

    handle = _EVENTS_INDEX_HANDLE.get(sf_dir)
    if handle is not None and os.path.isdir(_EVENTS_INDEX_CACHE.get(sf_dir, "")):
        return handle
    path = _EVENTS_INDEX_CACHE.get(sf_dir)
    if path is None or not os.path.isdir(path):
        schema = IndexSchema(
            fields=(
                Field("event_id", "long", required=True),
                Field("ts", "tdate"),
                Field("user_id", "long"),
                Field("event_type", "string"),
                Field("value", "double"),
            ),
            unique_key="event_id",
        )
        job = IndexJob(
            IndexJobConfig(
                schema=schema, shards=4, micro_shards=8, dedup="none",
                routing="native",
            )
        )
        path = os.path.join(tempfile.mkdtemp(prefix="smrs_events_idx_"), "index")
        job.build(
            t(spark, sf_dir, "events").select(
                "event_id", "ts", "user_id", "event_type", "value"
            ),
            path,
        )
        _EVENTS_INDEX_CACHE[sf_dir] = path
    _EVENTS_INDEX_HANDLE[sf_dir] = SearchIndex.open(spark, path)
    return _EVENTS_INDEX_HANDLE[sf_dir]


@_register(
    "c9_date_range",
    """SELECT event_id FROM events
       WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'
         AND ts < TIMESTAMP '2024-01-04 06:30:00'
         AND event_type = 'purchase'""",
    "Solr date-typed range clause over a tdate column: ISO-8601/Z bounds "
    "parse to timestamp literals (explicit, not string-cast coincidence), "
    "composed with a fielded equality — one pushdown scan of the events "
    "artifact",
)
def c9_date_range(spark, sf_dir):
    return _events_search_index(spark, sf_dir).query(
        "ts:[2024-01-02T00:00:00Z TO 2024-01-04T06:30:00Z} "
        "AND event_type:purchase"
    )


_EMB_INDEX_CACHE: dict = {}
_EMB_INDEX_HANDLE: dict = {}


def _embeddings_search_index(spark, sf_dir):
    """Cached per-sf artifact over the embeddings table — the {!knn}
    query parser's target (a vector column inside a search index)."""
    import os
    import tempfile

    from solr_map_reduce_spark.index_reader import SearchIndex
    from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig

    handle = _EMB_INDEX_HANDLE.get(sf_dir)
    if handle is not None and os.path.isdir(_EMB_INDEX_CACHE.get(sf_dir, "")):
        return handle
    path = _EMB_INDEX_CACHE.get(sf_dir)
    if path is None or not os.path.isdir(path):
        schema = IndexSchema(
            fields=(
                Field("vec_id", "long", required=True),
                Field("embedding", "array<float>"),
                Field("label", "int"),
            ),
            unique_key="vec_id",
        )
        job = IndexJob(
            IndexJobConfig(schema=schema, shards=2, micro_shards=4,
                           dedup="none")
        )
        path = os.path.join(tempfile.mkdtemp(prefix="smrs_emb_idx_"), "index")
        job.build(
            t(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label"),
            path,
        )
        _EMB_INDEX_CACHE[sf_dir] = path
    _EMB_INDEX_HANDLE[sf_dir] = SearchIndex.open(spark, path)
    return _EMB_INDEX_HANDLE[sf_dir]


@_register(
    "c9_knn_query",
    """SELECT vec_id FROM embeddings
       ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
         (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
          WHERE vec_id = (SELECT min(vec_id) FROM embeddings))) DESC,
         vec_id
       LIMIT 10""",
    "Solr 9 {!knn f=embedding topK=10 exact=true}[...] query parser, "
    "the EXACT serving contract: brute-force cosine, one scan + "
    "TakeOrderedAndProject (k rows per partition).  exact=true is "
    "pinned because the shared artifact carries the c9_knn_routed ANN "
    "sidecar and the default path would route",
)
def c9_knn_query(spark, sf_dir):
    idx = _embeddings_search_index(spark, sf_dir)
    qvec = (
        t(spark, sf_dir, "embeddings")
        .orderBy("vec_id").select("embedding").first()["embedding"]
    )
    lit = ", ".join(repr(float(x)) for x in qvec)
    return idx.query(f"{{!knn f=embedding topK=10 exact=true}}[{lit}]")


_ANN_SIDECAR_BUILT: set = set()


def _embeddings_ann_index(spark, sf_dir):
    """The shared embeddings artifact with its {!knn} ANN sidecar built
    (once per process+sf, like _cached_index)."""
    idx = _embeddings_search_index(spark, sf_dir)
    if sf_dir not in _ANN_SIDECAR_BUILT:
        idx.build_ann("embedding", kind="ivf", n_centroids=8, nprobe=8)
        _ANN_SIDECAR_BUILT.add(sf_dir)
    return idx


@_register(
    "c9_knn_routed",
    """SELECT vec_id FROM embeddings
       ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
         (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
          WHERE vec_id = (SELECT max(vec_id) FROM embeddings))) DESC,
         vec_id
       LIMIT 10""",
    "Solr 9 {!knn} served through the ANN sidecar (build_ann -> IVF "
    "bucket probes + file-pruned key lookups, Solr's sublinear HNSW "
    "contract): probed at nprobe = n_centroids, where the routed path "
    "is provably EXACT (every bucket read, distances exact) — so the "
    "whole routing machinery (sidecar build, partition-pruned probe, "
    "liveness, rank-preserving key fetch) is externally hash-checked "
    "against the DuckDB cosine oracle.  The entry asserts the sidecar "
    "is live: a silent fallback to the exact scan FAILS loudly instead "
    "of vacuously passing",
)
def c9_knn_routed(spark, sf_dir):
    idx = _embeddings_ann_index(spark, sf_dir)
    if idx._ann_sidecar("embedding") is None:
        raise RuntimeError(
            "c9_knn_routed: ANN sidecar missing/stale — the entry must "
            "exercise the ROUTED path, not the exact fallback"
        )
    qvec = (
        t(spark, sf_dir, "embeddings")
        .orderBy(F.desc("vec_id")).select("embedding").first()["embedding"]
    )
    lit = ", ".join(repr(float(x)) for x in qvec)
    return idx.query(
        f"{{!knn f=embedding topK=10 nprobe=8}}[{lit}]"
    ).select("vec_id")


@_register(
    "c9_knn_prefiltered",
    """SELECT vec_id FROM embeddings
       WHERE label BETWEEN 0 AND 4
       ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
         (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
          WHERE vec_id = (SELECT max(vec_id) FROM embeddings))) DESC,
         vec_id
       LIMIT 10""",
    "Solr 9.1 {!knn preFilter=} ROUTED through the ANN sidecar (filtered "
    "vector search — the most common production vector query shape): the "
    "preFilter compiles to a column-pruned key-set scan semi-joined onto "
    "the partition-pruned bucket probes BEFORE the topK, widening nprobe "
    "when the filtered pool underfills.  Probed at nprobe = n_centroids, "
    "where the routed filtered page is provably EXACT — so the whole "
    "filtered-routing machinery (key semi-join, widening loop, "
    "rank-preserving fetch) is externally hash-checked against the DuckDB "
    "filtered-cosine oracle.  The entry asserts the sidecar is live: a "
    "silent fallback to the exact scan FAILS loudly",
)
def c9_knn_prefiltered(spark, sf_dir):
    idx = _embeddings_ann_index(spark, sf_dir)
    if idx._ann_sidecar("embedding") is None:
        raise RuntimeError(
            "c9_knn_prefiltered: ANN sidecar missing/stale — the entry "
            "must exercise the ROUTED filtered path, not the exact "
            "fallback"
        )
    qvec = (
        t(spark, sf_dir, "embeddings")
        .orderBy(F.desc("vec_id")).select("embedding").first()["embedding"]
    )
    lit = ", ".join(repr(float(x)) for x in qvec)
    return idx.query(
        f"{{!knn f=embedding topK=10 nprobe=8 preFilter='label:[0 TO 4]'}}"
        f"[{lit}]"
    ).select("vec_id")


@_register(
    "c9_join_from_index",
    """SELECT doc_id FROM documents
       WHERE doc_id IN (SELECT vec_id FROM embeddings WHERE label = 3)""",
    "Solr cross-core join ({!join fromIndex=other from=f to=t}q): the "
    "inner query runs against the ATTACHED collection under its own "
    "analyzers/default field; only its distinct from= keys come back "
    "and AQE broadcasts them into this side's semi-join — the "
    "two-collection analog of the single-index {!join}",
)
def c9_join_from_index(spark, sf_dir):
    docs = _docs_search_index(spark, sf_dir)
    docs.attach_collection("emb", _embeddings_search_index(spark, sf_dir))
    return docs.query(
        "{!join fromIndex=emb from=vec_id to=doc_id}label:3"
    )


@_register(
    "c9_json_facet",
    """WITH t1 AS (
         SELECT lang, count(*) AS count, avg(n_chars) AS avg_len,
                count(*) FILTER (WHERE n_chars >= 500) AS big
         FROM documents GROUP BY lang
       ), topl AS (
         SELECT * FROM t1 ORDER BY count DESC, lang LIMIT 3
       ), cells AS (
         SELECT lang, source, count(*) AS by_source_count,
                max(n_chars) AS max_len
         FROM documents WHERE lang IN (SELECT lang FROM topl)
         GROUP BY lang, source
       ), ranked AS (
         SELECT *, row_number() OVER (
           PARTITION BY lang ORDER BY by_source_count DESC, source ASC
         ) AS rn FROM cells
       )
       SELECT t.lang, t.count, t.avg_len, t.big,
              r.source, r.by_source_count, r.max_len
       FROM topl t JOIN ranked r USING (lang) WHERE r.rn <= 2""",
    "Solr JSON Facet API (json.facet): terms facet with stat subfacets "
    "(avg), a query subfacet (conditional count in the SAME aggregate), "
    "and one nested terms facet — rendered relationally: one row per "
    "innermost bucket, parent stats repeated; one groupBy per level, "
    "parent keys broadcast into the nested scan",
)
def c9_json_facet(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).json_facet({
        "type": "terms", "field": "lang", "limit": 3, "sort": "count desc",
        "facet": {
            "avg_len": "avg(n_chars)",
            "big": {"type": "query", "q": "n_chars:[500 TO *]"},
            "by_source": {
                "type": "terms", "field": "source", "limit": 2,
                "facet": {"max_len": "max(n_chars)"},
            },
        },
    })


@_register(
    "c9_collapse",
    """SELECT doc_id, source, n_chars FROM (
         SELECT doc_id, source, n_chars, row_number() OVER (
           PARTITION BY source ORDER BY n_chars DESC, doc_id DESC
         ) AS rn FROM documents WHERE source IS NOT NULL
       ) WHERE rn = 1""",
    "Solr field collapsing (CollapsingQParserPlugin {!collapse field=source "
    "max=n_chars}): one head doc per source — a map-side-combined "
    "groupBy + max_by(row, ordering) aggregate, never a full-row window "
    "shuffle; ties break on the greatest unique key; nullPolicy=ignore "
    "drops null-source docs (Solr's default)",
)
def c9_collapse(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).collapse(
        "source", max="n_chars", select=["doc_id", "source", "n_chars"]
    )


@_register(
    "c9_expand",
    """SELECT source, CAST(rn - 1 AS INT) AS _rk, doc_id, n_chars FROM (
         SELECT source, doc_id, n_chars, row_number() OVER (
           PARTITION BY source ORDER BY n_chars DESC, doc_id DESC
         ) AS rn FROM documents WHERE source IS NOT NULL
       ) WHERE rn BETWEEN 2 AND 4""",
    "Solr expand component (expand=true beside {!collapse}): per group, "
    "the top expand.rows members HIDDEN by the collapse — same head "
    "criterion (max=n_chars) and tiebreaks as c9_collapse, so "
    "collapse union expand partitions each group; one window shuffle, "
    "no self-join",
)
def c9_expand(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).expand(
        "source", max="n_chars", rows=3, select=["doc_id", "n_chars"]
    )


@_register(
    "c9_json_facet_range",
    """WITH spine AS (SELECT 100.0 * i AS b FROM range(6) t(i)),
       agg AS (
         SELECT floor(n_chars / 100) * 100 AS b, count(*) AS c,
                avg(n_chars) AS a, count(*) FILTER (WHERE lang = 'en') AS e
         FROM documents WHERE n_chars >= 0 AND n_chars < 600 GROUP BY 1
       )
       SELECT CAST(spine.b AS DOUBLE) AS bucket_start,
              COALESCE(agg.c, 0) AS "count", agg.a AS avg_chars,
              COALESCE(agg.e, 0) AS en
       FROM spine LEFT JOIN agg ON spine.b = agg.b""",
    "Solr JSON Facet API type=range with a stat subfacet and a query "
    "subfacet: ONE map-side-combined aggregate over floor-bucketed "
    "values; empty buckets survive at mincount=0 via a broadcast left "
    "join against the generated bucket spine (count/query subfacets 0, "
    "stats NULL)",
)
def c9_json_facet_range(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).json_facet({
        "type": "range", "field": "n_chars", "start": 0, "end": 600,
        "gap": 100,
        "facet": {
            "avg_chars": "avg(n_chars)",
            "en": {"type": "query", "q": "lang:en"},
        },
    })


@_register(
    "c9_json_facet_multiselect",
    """SELECT source, count(*) AS "count" FROM documents
       WHERE lang IN ('en', 'de') AND source IS NOT NULL
       GROUP BY source""",
    "Multi-select faceting through the JSON Facet API: tagged fq analogs "
    "(filters=) + domain excludeTags — the user's own source selection "
    "is ignored while faceting source (their selection must not collapse "
    "the facet's other options), the lang filter still applies; "
    "exclusion happens at PLAN time (the filter is simply not composed), "
    "zero extra scans",
)
def c9_json_facet_multiselect(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).json_facet(
        {"type": "terms", "field": "source", "sort": "index asc",
         "limit": 100, "domain": {"excludeTags": ["source"]}},
        filters={"source": "src3", "lang": ["en", "de"]},
    )


@_register(
    "c9_jf_block_children",
    """SELECT CAST(l_quantity AS DOUBLE) AS quantity, count(*) AS "count"
       FROM lineitem
       WHERE EXISTS (SELECT 1 FROM orders
                     WHERE o_orderkey = l_orderkey
                       AND o_totalprice >= 180000)
       GROUP BY 1""",
    "Solr JSON-facet block-join domain (domain: {blockChildren}): a "
    "parent domain (orders with totalprice >= 180000) re-mapped to its "
    "child docs via the _root_ nested-document relation, then bucketed "
    "— the only shuffle is the distinct root-key semi-join (AQE "
    "broadcasts it when small), the facet aggregate rides the mapped "
    "scan",
)
def c9_jf_block_children(spark, sf_dir):
    return _nested_orders_index(spark, sf_dir).json_facet({
        "type": "terms", "field": "quantity", "sort": "index asc",
        "limit": 100,
        "domain": {"filter": "totalprice:[180000 TO *]",
                   "blockChildren": "kind:parent"},
    })


def _mv_customer_index(spark, sf_dir):
    """Customer docs with a MULTI-VALUED priorities field (the distinct
    order priorities each customer has used) — the Solr multivalued-
    field model over which per-value faceting runs."""
    schema = IndexSchema(
        fields=(
            Field("custkey", "long", required=True),
            Field("priorities", "string", multi_valued=True),
            Field("n_orders", "long"),
        ),
        unique_key="custkey",
    )
    return _cached_index(
        spark, sf_dir, "mvcust", schema,
        lambda: t(spark, sf_dir, "orders").groupBy(
            F.col("o_custkey").alias("custkey")
        ).agg(
            F.sort_array(F.collect_set("o_orderpriority")).alias("priorities"),
            F.count(F.lit(1)).alias("n_orders"),
        ),
        shards=2, dedup="none",
    )


@_register(
    "c9_jf_ranges",
    """SELECT '[0,150)' AS "range",
              count(*) FILTER (WHERE n_chars >= 0 AND n_chars < 150)
                AS "count",
              avg(CASE WHEN n_chars >= 0 AND n_chars < 150
                       THEN n_chars END) AS avg_chars,
              count(*) FILTER (WHERE n_chars >= 0 AND n_chars < 150
                               AND lang = 'en') AS en
       FROM documents
       UNION ALL
       SELECT '[100,300]',
              count(*) FILTER (WHERE n_chars >= 100 AND n_chars <= 300),
              avg(CASE WHEN n_chars >= 100 AND n_chars <= 300
                       THEN n_chars END),
              count(*) FILTER (WHERE n_chars >= 100 AND n_chars <= 300
                               AND lang = 'en')
       FROM documents
       UNION ALL
       SELECT '(250,*)',
              count(*) FILTER (WHERE n_chars > 250),
              avg(CASE WHEN n_chars > 250 THEN n_chars END),
              count(*) FILTER (WHERE n_chars > 250 AND lang = 'en')
       FROM documents""",
    "Solr JSON-facet arbitrary ranges (ranges=[...], Solr 8.3+): "
    "OVERLAPPING intervals — a doc counts in every range admitting it "
    "(what gapped start/end/gap cannot express); every range is a "
    "conditional count + masked stat/query subfacets in ONE map-side-"
    "combined aggregate pass, unpivoted to one row per range — no "
    "shuffle grows with the range count",
)
def c9_jf_ranges(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).json_facet({
        "type": "range", "field": "n_chars",
        "ranges": [
            {"from": 0, "to": 150},
            {"from": 100, "to": 300, "inclusive_to": True},
            {"from": 250, "inclusive_from": False},
        ],
        "facet": {"avg_chars": "avg(n_chars)",
                  "en": {"type": "query", "q": "lang:en"}},
    })


@_register(
    "c9_facet_multivalued",
    """SELECT o_orderpriority AS priorities,
              count(DISTINCT o_custkey) AS "count"
       FROM orders GROUP BY 1""",
    "Solr multivalued-field faceting: a terms facet on an "
    "array<string> field counts each doc once per DISTINCT value "
    "(explode_outer(array_distinct) before the groupBy — duplicate "
    "values within a doc count once, valueless docs reach only the "
    "missing bucket); here one customer doc per o_custkey carries its "
    "distinct order priorities, so bucket counts equal "
    "count(DISTINCT custkey) per priority",
)
def c9_facet_multivalued(spark, sf_dir):
    return _mv_customer_index(spark, sf_dir).json_facet({
        "type": "terms", "field": "priorities", "sort": "index asc",
        "limit": 100,
    })


@_register(
    "c9_jf_range_nested",
    """WITH cells AS (
         SELECT floor(n_chars / 200) * 200 AS b, count(*) AS cnt,
                max(n_chars) AS mx
         FROM documents WHERE n_chars >= 0 AND n_chars < 600 GROUP BY 1
       ), child AS (
         SELECT floor(n_chars / 200) * 200 AS b, lang, count(*) AS c2
         FROM documents
         WHERE n_chars >= 0 AND n_chars < 600 AND lang IS NOT NULL
         GROUP BY 1, 2
       ), ranked AS (
         SELECT *, row_number() OVER (
           PARTITION BY b ORDER BY c2 DESC, lang ASC
         ) AS rn FROM child
       )
       SELECT CAST(cells.b AS DOUBLE) AS bucket_start,
              cells.cnt AS "count", cells.mx AS mx,
              r.lang, r.c2 AS by_lang_count
       FROM cells JOIN ranked r ON cells.b = r.b WHERE r.rn <= 3""",
    "JSON Facet API: ONE nested terms facet inside range buckets — "
    "child cells aggregate over (bucket, child) in one groupBy of the "
    "same in-range scan, per-bucket truncation is a window over the "
    "post-agg rows (the facet2D shape with the range key as x); parent "
    "count/stats repeat on every child row",
)
def c9_jf_range_nested(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).json_facet({
        "type": "range", "field": "n_chars", "start": 0, "end": 600,
        "gap": 200,
        "facet": {
            "mx": "max(n_chars)",
            "by_lang": {"type": "terms", "field": "lang", "limit": 3},
        },
    })


@_register(
    "c9_jf_relatedness",
    """WITH s AS (
         SELECT CAST(count(*) FILTER (WHERE n_chars >= 300) AS DOUBLE)
                  AS fgsz,
                CAST(count(*) AS DOUBLE) AS bgsz
         FROM documents
       ), b AS (
         SELECT lang, count(*) AS "count",
                CAST(count(*) FILTER (WHERE n_chars >= 300) AS DOUBLE)
                  AS fg,
                CAST(count(*) AS DOUBLE) AS bg
         FROM documents WHERE lang IS NOT NULL GROUP BY lang
       ), z AS (
         SELECT lang, "count",
                (b.fg / s.fgsz - b.bg / s.bgsz)
                / sqrt((b.bg / s.bgsz) * (1.0 - b.bg / s.bgsz) / s.fgsz)
                  AS zv,
                s.fgsz AS fgsz, s.bgsz AS bgsz, b.bg AS bg
         FROM b, s
       )
       SELECT lang, "count",
              CASE WHEN fgsz > 0 AND bgsz > 0 AND bg > 0 AND bg < bgsz
                   THEN zv / (1.0 + abs(zv)) ELSE 0.0 END AS r
       FROM z""",
    "Solr JSON-facet relatedness($fore,$back) — the Semantic Knowledge "
    "Graph significance score (Grainger et al. 2016): per bucket, the "
    "one-sample z of the foreground proportion against the background "
    "expectation, squashed to (-1,1) by z/(1+|z|) (our pinned, "
    "oracle-exact formula).  Per-bucket fg/bg counts ride the SAME "
    "groupBy; the two domain sizes are ONE extra aggregate row attached "
    "by broadcast crossJoin — never a per-bucket rescan",
)
def c9_jf_relatedness(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).json_facet({
        "type": "terms", "field": "lang", "sort": "index asc",
        "limit": 100,
        "facet": {"r": {"type": "relatedness",
                        "fore": "n_chars:[300 TO *]"}},
    })


@_register(
    "c9_recency_boost",
    """SELECT event_id FROM events
       WHERE event_type = 'view'
       ORDER BY ts DESC, event_id ASC LIMIT 50""",
    "Solr recency boost sort=recip(ms(NOW,ts),3.17e-11,1,1) desc — "
    "ms() resolves NOW driver-side (fixed_now, Solr's NOW= param) to a "
    "millis literal, the field ref stays a scan expression, and the "
    "whole boost is one codegen Column; recip is monotone in ts, so "
    "the oracle is the plain ts-desc ordering",
)
def c9_recency_boost(spark, sf_dir):
    from datetime import datetime

    from solr_map_reduce_spark.functions.datemath import fixed_now

    idx = _events_search_index(spark, sf_dir)
    with fixed_now(datetime(2024, 1, 20, 15, 0, 0)):
        return idx.search(
            q="event_type:view",
            sort=[("recip(ms(NOW,ts),3.17e-11,1,1)", "desc")],
            limit=50, select=["event_id"],
        )


@_register(
    "c9_termfreq_sort",
    f"""SELECT doc_id FROM (
          SELECT doc_id,
                 length(list_filter({_TOKS_SQL}, x -> x = 'spark')) AS tf
          FROM documents
        ) ORDER BY tf DESC, doc_id ASC LIMIT 25""",
    "Solr relevance function query termfreq(text,spark) as a sort key "
    "(sort=termfreq(f,t) desc): a filtered size over the analyze-once "
    "stored token array — one codegen expression on the scan, no second "
    "tokenization pass; docfreq()/idf() siblings fold to plan-time "
    "literals from the _vocab dictionary sidecar",
)
def c9_termfreq_sort(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).search(
        sort=[("termfreq(text,spark)", "desc")], limit=25,
        select=["doc_id"],
    )


@_register(
    "ext_ltr_linear",
    """WITH pool AS (
         SELECT doc_id, n_chars, lang FROM documents
         ORDER BY n_chars DESC, doc_id ASC LIMIT 200
       ), scored AS (
         SELECT doc_id,
                ((n_chars - 48.0) / 505.0) * 0.4
                + (CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END) * 0.6
                  AS ltr_score
         FROM pool
       )
       SELECT doc_id, ltr_score FROM scored
       ORDER BY ltr_score DESC, doc_id ASC LIMIT 20""",
    "Solr LTR rescoring (rq={!ltr model=linear reRankDocs=200}): the "
    "main ranking's top-200 pool (TakeOrdered, never a corpus sort) "
    "rescored by a LinearModel over a MinMax-normalized length feature "
    "and a lang indicator — the model compiles to ONE codegen Column, "
    "no UDF; unique-key tiebreak keeps pages deterministic",
)
def ext_ltr_linear(spark, sf_dir):
    from solr_map_reduce_spark.extensions.ltr import Feature, LinearModel

    return _docs_search_index(spark, sf_dir).ltr_rerank(
        LinearModel({"len_n": 0.4, "is_en": 0.6}),
        {"len_n": Feature("n_chars",
                          norm={"type": "minmax", "min": 48, "max": 553}),
         "is_en": Feature(F.when(F.col("lang") == "en", 1.0)
                          .otherwise(0.0))},
        pool_sort=[("n_chars", "desc")], rq=200, k=20,
        select=["doc_id"],
    )


@_register(
    "ext_ltr_trees",
    """WITH pool AS (
         SELECT doc_id, n_chars, lang FROM documents
         ORDER BY n_chars DESC, doc_id ASC LIMIT 200
       ), scored AS (
         SELECT doc_id,
                (CASE WHEN n_chars <= 300 THEN 0.1 ELSE 0.5 END) * 1.0
                + (CASE WHEN (CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END)
                          <= 0.5
                     THEN CASE WHEN n_chars <= 100 THEN 0.0 ELSE 0.2 END
                     ELSE 0.3 END) * 2.0 AS ltr_score
         FROM pool
       )
       SELECT doc_id, ltr_score FROM scored
       ORDER BY ltr_score DESC, doc_id ASC LIMIT 20""",
    "Solr LTR MultipleAdditiveTreesModel (LambdaMART-style ensemble "
    "from the model-store JSON): each tree compiles to nested CASE WHEN "
    "(branch LEFT when feature <= threshold, Solr's rule), the ensemble "
    "to one whole-stage-codegen Column — constant per-row compute over "
    "the bounded rerank pool regardless of tree count",
)
def ext_ltr_trees(spark, sf_dir):
    from solr_map_reduce_spark.extensions.ltr import (
        AdditiveTreesModel,
        Feature,
    )

    model = AdditiveTreesModel.from_json({
        "trees": [
            {"weight": 1.0,
             "root": {"feature": "len", "threshold": 300,
                      "left": {"value": 0.1}, "right": {"value": 0.5}}},
            {"weight": 2.0,
             "root": {"feature": "is_en", "threshold": 0.5,
                      "left": {"feature": "len", "threshold": 100,
                               "left": {"value": 0.0},
                               "right": {"value": 0.2}},
                      "right": {"value": 0.3}}},
        ]
    })
    return _docs_search_index(spark, sf_dir).ltr_rerank(
        model,
        {"len": Feature("n_chars"),
         "is_en": Feature(F.when(F.col("lang") == "en", 1.0)
                          .otherwise(0.0))},
        pool_sort=[("n_chars", "desc")], rq=200, k=20,
        select=["doc_id"],
    )


@_register(
    "c9_date_math",
    """SELECT event_id FROM events
       WHERE ts >= TIMESTAMP '2024-01-13 00:00:00'
         AND ts < TIMESTAMP '2024-01-20 00:00:00'
         AND event_type = 'purchase'""",
    "Solr date math in range bounds: ts:[NOW-7DAYS/DAY TO NOW/DAY} with "
    "NOW pinned via datemath.fixed_now (Solr's NOW= request param) — "
    "the math resolves driver-side to timestamp literals, so the range "
    "still reaches the parquet scan as pushed filters",
)
def c9_date_math(spark, sf_dir):
    from datetime import datetime

    from solr_map_reduce_spark.functions.datemath import fixed_now

    idx = _events_search_index(spark, sf_dir)
    with fixed_now(datetime(2024, 1, 20, 15, 0, 0)):
        return idx.query(
            "ts:[NOW-7DAYS/DAY TO NOW/DAY} AND event_type:purchase"
        )


@_register(
    "c9_search_request",
    f"""SELECT doc_id, lang FROM (SELECT doc_id, lang, {_TOKS_SQL} AS t FROM documents)
        WHERE (list_contains(t, 'spark') OR list_contains(t, 'vector'))
          AND lang = 'en'
        ORDER BY doc_id DESC LIMIT 10""",
    "the full Solr request shape in one call: q (boolean query) + fq "
    "(column filter) + sort + rows + fl over the artifact",
)
def c9_search_request(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).search(
        q="spark OR vector", filters={"lang": "en"},
        sort=[("doc_id", "desc")], limit=10, select=["doc_id", "lang"],
    )


@_register(
    "c9_facet_query",
    f"""SELECT lang, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT doc_id, lang, {_TOKS_SQL} AS t FROM documents)
        WHERE list_contains(t, 'spark') OR list_contains(t, 'vector')
        GROUP BY lang ORDER BY cnt DESC, lang""",
    "Solr q + facet.field: value counts over a boolean query's result set",
)
def c9_facet_query(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).facet("lang", q="spark OR vector")


@_register(
    "c9_facet_prefix",
    """SELECT source, CAST(count(*) AS BIGINT) AS cnt FROM documents
       WHERE source LIKE 'src1%' GROUP BY source ORDER BY source""",
    "Solr facet.prefix: only terms starting with the prefix are counted "
    "(src1 matches src1, src10..src19) — one extra scan predicate, "
    "facet.sort=index ordering",
)
def c9_facet_prefix(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).facet(
        "source", prefix="src1", sort="index"
    )


@_register(
    "c9_facet_matches",
    """SELECT source, CAST(count(*) AS BIGINT) AS cnt FROM documents
       WHERE regexp_matches(source, '^(?:src.[02468])$')
         AND contains(source, 'rc')
       GROUP BY source ORDER BY source""",
    "Solr facet.matches + facet.contains: bucket values restricted to "
    "a FULL-match regex (Java matches() anchoring — 'src?[02468]' "
    "admits only two-digit-even sources) composed with a substring "
    "restriction; each is one extra scan predicate",
)
def c9_facet_matches(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).facet(
        "source", matches="src.[02468]", contains="rc", sort="index"
    )


@_register(
    "c9_qop_and",
    f"""SELECT doc_id FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
        WHERE list_contains(t, 'spark') AND list_contains(t, 'data')""",
    "Solr q.op=AND: juxtaposed clauses conjoin ('spark data' means "
    "both) — the conjunctive spine then Bloom-prunes in 'all' mode",
)
def c9_qop_and(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).query("spark data", op="AND")


@_register(
    "c9_sort_function",
    """SELECT doc_id FROM documents
       ORDER BY ABS(CAST(n_chars AS DOUBLE) - 150.0) ASC, doc_id ASC
       LIMIT 10""",
    "Solr sort-by-function (sort=abs(sub(n_chars,150)) asc): the sort "
    "key compiles through the function-query grammar to one Column "
    "expression — a TakeOrdered by a computed value, no extra pass",
)
def c9_sort_function(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).search(
        sort=[("abs(sub(n_chars,150))", "asc")], limit=10,
        select=["doc_id"],
    )


@_register(
    "c9_frange_func",
    """SELECT doc_id FROM documents
       WHERE (CASE WHEN n_chars % 7 <> 0
                   THEN (CASE WHEN coalesce(n_chars, 0) BETWEEN 50 AND 150
                              THEN 1.0 ELSE 0.0 END)
                   ELSE 0.0 END) = 1.0""",
    "Solr {!frange} over the conditional function-query family — "
    "if(test,a,b) with nonzero-truth, map(x,min,max,target,def) range "
    "remap, mod() — the whole body ONE codegen expression predicate",
)
def c9_frange_func(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).query(
        "{!frange l=1 u=1}if(mod(n_chars,7), "
        "map(def(n_chars,0),50,150,1,0), 0)"
    )


@_register(
    "c9_query_facets",
    f"""WITH toks AS (
          SELECT doc_id, lang, {_TOKS_SQL} AS t FROM documents
        )
        SELECT 'spark_and_table' AS facet_query,
               CAST(sum(CASE WHEN list_contains(t, 'spark')
                              AND list_contains(t, 'table')
                         THEN 1 ELSE 0 END) AS BIGINT) AS cnt
        FROM toks
        UNION ALL
        SELECT 'vector_not_shuffle',
               CAST(sum(CASE WHEN list_contains(t, 'vector')
                              AND NOT list_contains(t, 'shuffle')
                         THEN 1 ELSE 0 END) AS BIGINT)
        FROM toks
        UNION ALL
        SELECT 'german_docs',
               CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT)
        FROM toks""",
    "Solr facet.query: three arbitrary boolean subqueries counted as "
    "named buckets in ONE map-side-combined aggregate — N facet queries, "
    "one scan",
)
def c9_query_facets(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).query_facets(
        {
            "spark_and_table": "spark AND table",
            "vector_not_shuffle": "vector -shuffle",
            "german_docs": "lang:de",
        }
    )


@_register(
    "c9_multiselect_facet",
    f"""SELECT lang, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT doc_id, lang, source, {_TOKS_SQL} AS t FROM documents)
        WHERE list_contains(t, 'spark')
          AND source IN ('src1', 'src2', 'src3')
          AND lang IS NOT NULL
        GROUP BY lang ORDER BY cnt DESC, lang""",
    "multi-select faceting (fq={!tag=l}lang:de + facet.field={!ex=l}lang): "
    "the user's own lang selection is EXCLUDED from the lang facet while "
    "the source filter still applies — Solr's tagged-filter exclusion, "
    "still one scan predicate",
)
def c9_multiselect_facet(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).facet(
        "lang", q="spark",
        filters={"lang": "de", "source": ["src1", "src2", "src3"]},
        exclude="lang",
    )


@_register(
    "c9_term_facet",
    f"""WITH toks AS (
          SELECT doc_id, list_distinct({_TOKS_SQL}) AS t FROM documents
        ), u AS (SELECT unnest(t) AS term FROM toks)
        SELECT term, CAST(count(*) AS BIGINT) AS df
        FROM u GROUP BY term ORDER BY df DESC, term LIMIT 20""",
    "top terms by document frequency — served from the artifact's STORED "
    "term dictionary (_vocab/ sidecar), zero corpus scan",
)
def c9_term_facet(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).term_facet(top=20)


@_register(
    "c9_suggest",
    f"""WITH toks AS (
          SELECT doc_id, list_distinct({_TOKS_SQL}) AS t FROM documents
        ), u AS (SELECT unnest(t) AS term FROM toks)
        SELECT term, CAST(count(*) AS BIGINT) AS df
        FROM u WHERE term LIKE 's%'
        GROUP BY term ORDER BY df DESC, term LIMIT 10""",
    "prefix autocomplete (the Solr suggester analog) — a pushdown scan of "
    "the artifact's STORED term dictionary ranked by document frequency",
)
def c9_suggest(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).suggest("s", top=10)


@_register(
    "c9_suggest_infix",
    f"""WITH toks AS (
          SELECT doc_id, list_distinct({_TOKS_SQL}) AS t FROM documents
        ), u AS (SELECT unnest(t) AS term FROM toks),
        v AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM u
              GROUP BY term)
        SELECT term, df FROM v WHERE contains(term, 'ar')
        ORDER BY (term LIKE 'ar%') DESC, df DESC, term LIMIT 10""",
    "infix autocomplete (Solr's default AnalyzingInfixSuggester "
    "contract): the needle matches ANYWHERE in the term, prefix hits "
    "ranked above pure-infix hits — still a pushdown dictionary scan + "
    "TakeOrdered, never a corpus pass",
)
def c9_suggest_infix(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).suggest(
        "ar", top=10, infix=True
    )


@_register(
    "c9_interval_facet",
    f"""WITH toks AS (
          SELECT doc_id, n_chars, {_TOKS_SQL} AS t FROM documents
        ), hits AS (
          SELECT n_chars FROM toks WHERE list_contains(t, 'spark')
        )
        SELECT 'short' AS interval,
               CAST(sum(CASE WHEN n_chars < 300 THEN 1 ELSE 0 END) AS BIGINT) AS cnt
        FROM hits
        UNION ALL
        SELECT 'mid',
               CAST(sum(CASE WHEN n_chars >= 200 AND n_chars <= 600 THEN 1 ELSE 0 END) AS BIGINT)
        FROM hits
        UNION ALL
        SELECT 'long',
               CAST(sum(CASE WHEN n_chars > 600 THEN 1 ELSE 0 END) AS BIGINT)
        FROM hits""",
    "Solr facet.interval: arbitrary OVERLAPPING intervals ([*,300), "
    "[200,600], (600,*]) over a query's result set — every interval a "
    "conditional sum in ONE map-side-combined aggregate, one scan",
)
def c9_interval_facet(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).interval_facet(
        "n_chars",
        {"short": "[*,300)", "mid": "[200,600]", "long": "(600,*]"},
        q="spark",
    )


@_register(
    "c9_terms_component",
    f"""WITH toks AS (
          SELECT doc_id, list_distinct({_TOKS_SQL}) AS t FROM documents
        ), u AS (SELECT unnest(t) AS term FROM toks)
        SELECT term, CAST(count(*) AS BIGINT) AS df
        FROM u WHERE term >= 's' AND term < 'u'
        GROUP BY term HAVING count(*) >= 3
        ORDER BY term LIMIT 25""",
    "Solr TermsComponent: raw term enumeration with df from the STORED "
    "term dictionary — terms.lower='s' (incl), terms.upper='u' (excl), "
    "terms.mincount=3, terms.sort=index; zero corpus scan",
)
def c9_terms_component(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).terms(
        lower="s", upper="u", mincount=3, limit=25, sort="index"
    )


@_register(
    "c9_highlight",
    f"""WITH toks AS (
          SELECT doc_id, {_TOKS_SQL} AS t FROM documents
        ), hit AS (
          SELECT doc_id, t, list_position(t, 'spark') AS pos
          FROM toks WHERE list_contains(t, 'spark')
        ), sn AS (
          SELECT doc_id,
                 t[greatest(pos - 3, 1):(greatest(pos - 3, 1) + 6)] AS st
          FROM hit
        )
        SELECT doc_id,
               array_to_string(
                 list_transform(st, x -> CASE WHEN x = 'spark'
                      THEN '<em>' || x || '</em>' ELSE x END), ' ') AS snippet
        FROM sn""",
    "search-hit highlighting: a 7-token snippet around the first match from "
    "the STORED token column, hits wrapped in <em> (Solr highlighter shape)",
)
def c9_highlight(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).highlight(["spark"], window=6)


_BM25_TERMS = ["spark", "vector", "merge"]


@_register(
    "ext_bm25_topk",
    search.bm25_oracle_sql(_BM25_TERMS, k=10, exact_sum=True),
    "Okapi BM25 top-k over the artifact's STORED token arrays "
    "(exact-decimal score sum)",
)
def ext_bm25_topk(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).bm25(
        _BM25_TERMS, k=10, exact_sum=True
    )


@_register(
    "ext_bm25_filtered",
    search.bm25_oracle_sql(
        _BM25_TERMS, k=10, exact_sum=True,
        fq_sql="list_contains(t, 'table') AND NOT list_contains(t, 'shuffle')",
    ),
    "BM25 with a Solr filter query (fq): candidates restricted to "
    "'table AND NOT shuffle', statistics collection-wide — scores "
    "fq-invariant, exact Solr q+fq semantics",
)
def ext_bm25_filtered(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).bm25(
        _BM25_TERMS, k=10, exact_sum=True, fq="table AND NOT shuffle"
    )


@_register(
    "c9_boosted_query",
    search.bm25_oracle_sql(
        _BM25_TERMS, k=10, exact_sum=True, boosts={"vector": 2.5}
    ),
    "Lucene query-time term boosts (vector^2.5): the boosted term's BM25 "
    "contribution scales by the weight — ranking changes, matching does "
    "not; same one-scan serving plan as ext_bm25_topk",
)
def c9_boosted_query(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).bm25(
        _BM25_TERMS, k=10, exact_sum=True, boosts={"vector": 2.5}
    )


@_register(
    "c9_parsed_boost",
    search.bm25_oracle_sql(
        _BM25_TERMS, k=10, exact_sum=True,
        boost_sql="2.0 / (0.001 * CAST(doc.n_chars AS DOUBLE) + 1.0)",
    ),
    "edismax boost= given in Solr FUNCTION SYNTAX — "
    "boost='recip(n_chars,0.001,2,1)' parsed driver-side to the same "
    "multiplicative Column expression (a/(m*x+b), the canonical "
    "recency/length damping) — identical one-scan plan",
)
def c9_parsed_boost(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).bm25(
        _BM25_TERMS, k=10, exact_sum=True,
        boost_col="recip(n_chars,0.001,2,1)",
    )


@_register(
    "ext_rerank_query",
    f"""WITH m AS ({search.bm25_oracle_sql(_BM25_TERMS, k=30, exact_sum=True)}),
r AS ({search.bm25_oracle_sql(["table", "hash"], k=None, exact_sum=True)})
SELECT m.doc_id, m.score + 2.0 * coalesce(r.score, 0.0) AS score
FROM m LEFT JOIN r ON m.doc_id = r.doc_id
ORDER BY score DESC, m.doc_id LIMIT 10""",
    "Solr ReRankQParser rq={!rerank reRankDocs=30 reRankWeight=2.0}: main "
    "BM25 top-30 candidates re-scored additively by a second query "
    "(non-matching candidates keep their main score) — second pass one "
    "scan, candidate side broadcast, decimal-exact both passes",
)
def ext_rerank_query(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).rerank(
        _BM25_TERMS, ["table", "hash"], k=10, rerank_docs=30,
        rerank_weight=2.0, exact_sum=True,
    )


@_register(
    "c9_elevated_query",
    f"""WITH bm AS ({search.bm25_oracle_sql(_BM25_TERMS, k=13, exact_sum=True)}),
organic AS (
  SELECT doc_id, FALSE AS elevated, CAST(NULL AS INTEGER) AS pos, score
  FROM bm WHERE doc_id NOT IN (7, 3, 0)
),
pinned AS (
  SELECT d.doc_id, TRUE AS elevated, v.pos, CAST(NULL AS DOUBLE) AS score
  FROM (VALUES (7, 0), (3, 1)) AS v(doc_id, pos)
  JOIN documents d ON d.doc_id = v.doc_id
)
SELECT doc_id, elevated FROM (
  SELECT * FROM pinned UNION ALL SELECT * FROM organic
) ORDER BY elevated DESC, pos ASC NULLS LAST, score DESC NULLS LAST, doc_id
LIMIT 10""",
    "Solr QueryElevationComponent: docs 7,3 pinned top in elevation order "
    "(included even if they don't match), doc 0 editorially excluded, the "
    "rest organic BM25 — pinned side a segment-pruned point lookup, "
    "organic side the one-scan BM25 TakeOrdered",
)
def c9_elevated_query(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).elevated(
        _BM25_TERMS, elevate=[7, 3], exclude=[0], k=10, exact_sum=True
    )


_HYBRID_SQL = f"""
WITH bm AS ({search.bm25_oracle_sql(_BM25_TERMS, k=50, exact_sum=True)}),
bmr AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r FROM bm
),
qv AS (
  SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
),
cs AS (
  SELECT vec_id, list_cosine_similarity(CAST(embedding AS DOUBLE[]), v) AS score
  FROM embeddings, qv ORDER BY score DESC, vec_id LIMIT 50
),
csr AS (
  SELECT vec_id, row_number() OVER (ORDER BY score DESC, vec_id) AS r FROM cs
),
fused AS (
  SELECT coalesce(bmr.doc_id, csr.vec_id) AS doc_id,
         coalesce(1.0 / (60 + bmr.r), 0) + coalesce(1.0 / (60 + csr.r), 0)
           AS rrf_score
  FROM bmr FULL OUTER JOIN csr ON bmr.doc_id = csr.vec_id
)
SELECT doc_id, rrf_score FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 10
"""


@_register(
    "ext_hybrid_rrf",
    _HYBRID_SQL,
    "hybrid lexical+vector retrieval: BM25 (stored-token artifact, one "
    "scan) and brute-force cosine each to a 50-candidate pool, fused by "
    "Reciprocal Rank Fusion (1/(60+rank), SIGIR'09) — the standard "
    "two-tower serving shape; fusion cost independent of corpus size",
)
def ext_hybrid_rrf(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    qvec = e.orderBy("vec_id").select("embedding").first()["embedding"]
    return hybrid.hybrid_rrf(
        _docs_search_index(spark, sf_dir), _BM25_TERMS, e, qvec,
        k=10, pool=50, exact_sum=True,
    )


# ===========================================================================
# Analytics widening: more TPC-H shapes, multi-dim facets, distinct aggs,
# percentiles, frame windows, and the multimodal decode plumbing — each with
# a DuckDB oracle.
# ===========================================================================

@_register(
    "q4_order_priority",
    """SELECT o_orderpriority, count(*) AS order_count
       FROM orders
       WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
         AND EXISTS (SELECT 1 FROM lineitem
                     WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
       GROUP BY o_orderpriority""",
    "TPC-H Q4 shape: date-pruned scan -> EXISTS semi-join -> priority facet",
)
def q4_order_priority(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("date"))
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    hit = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"]) & (li["l_shipdate"] > o["o_orderdate"]),
        "left_semi",
    )
    return hit.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@_register(
    "q14_promo_revenue",
    f"""SELECT CAST(100.0 AS DOUBLE)
             * {_DEC_SQL.format(expr="CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
             / {_DEC_SQL.format(expr="l_extendedprice * (1 - l_discount)")}
             AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-03-01'""",
    "TPC-H Q14 shape: broadcast dim join + conditional aggregate ratio",
)
def q14_promo_revenue(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-03-01").cast("date"))
    )
    p = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    joined = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    return joined.agg(
        (
            F.lit(100.0).cast("double")
            * F.sum(promo.cast("decimal(18,6)")).cast("double")
            / F.sum(rev.cast("decimal(18,6)")).cast("double")
        ).alias("promo_revenue_pct")
    )


@_register(
    "q18_large_orders",
    f"""WITH big AS (
          SELECT l_orderkey,
                 {_DEC_SQL.format(expr="l_quantity")} AS total_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING {_DEC_SQL.format(expr="l_quantity")} > 250.0
        )
        SELECT c_name, o_orderkey, o_totalprice, total_qty
        FROM big
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    "TPC-H Q18 shape: HAVING on aggregated fact -> join back -> top-k",
)
def q18_large_orders(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(_dec_sum(F.col("l_quantity"), "total_qty"))
        .filter(F.col("total_qty") > 250.0)
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select("c_name", "o_orderkey", "o_totalprice", "total_qty")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@_register(
    "facet_cube_counts",
    """SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
              count(*) AS cnt
       FROM events GROUP BY CUBE (event_type, day)""",
    "multi-dimensional facet with subtotals: CUBE(event_type, day) counts "
    "(pivot-facet analog with rollup totals)",
)
def facet_cube_counts(spark, sf_dir):
    e = t(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    )
    return e.cube("event_type", "day").agg(F.count(F.lit(1)).alias("cnt"))


@_register(
    "agg_distinct_users",
    """SELECT event_type, count(DISTINCT user_id) AS users, count(*) AS events
       FROM events GROUP BY event_type""",
    "distinct aggregation (two-phase partial agg; exact COUNT DISTINCT)",
)
def agg_distinct_users(spark, sf_dir):
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.count(F.lit(1)).alias("events"),
        )
    )


@_register(
    "ext_percentiles",
    """SELECT l_returnflag,
              quantile_cont(l_quantity, 0.25) AS p25,
              quantile_cont(l_quantity, 0.5)  AS p50,
              quantile_cont(l_quantity, 0.9)  AS p90
       FROM lineitem GROUP BY l_returnflag""",
    "exact interpolated percentiles per group (Spark percentile == DuckDB "
    "quantile_cont; at 100 TB swap for approx_percentile's t-digest sketch)",
)
def ext_percentiles(spark, sf_dir):
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.25)").alias("p25"),
            F.expr("percentile(l_quantity, 0.5)").alias("p50"),
            F.expr("percentile(l_quantity, 0.9)").alias("p90"),
        )
    )


@_register(
    "window_rolling_sum",
    """SELECT event_id, user_id,
              CAST(SUM(CAST(value AS DECIMAL(18,6)))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
                   AS DOUBLE) AS roll_sum,
              COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
                   AS roll_n
       FROM events""",
    "frame-bounded rolling aggregate per key (ROWS BETWEEN window)",
)
def window_rolling_sum(spark, sf_dir):
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    return t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double").alias("roll_sum"),
        F.count(F.lit(1)).over(w).alias("roll_n"),
    )


def _hexval(pos: int) -> str:
    """DuckDB expression: value of hex digit at 1-based ``pos`` of sha256 hex
    string ``h``."""
    return f"(strpos('0123456789abcdef', substr(h, {pos}, 1)) - 1)"


def _sha_byte(i: int) -> str:
    """DuckDB expression for byte ``i`` (0-based) of the sha256 digest."""
    return f"({_hexval(2 * i + 1)} * 16 + {_hexval(2 * i + 2)})"


@_register(
    "ext_multimodal_decode",
    f"""WITH m AS (
          SELECT CAST(doc_id AS VARCHAR) AS media_id, text,
                 sha256(text) AS h
          FROM documents
        )
        SELECT media_id,
               CASE WHEN text IS NULL OR text = '' THEN 0
                    ELSE CAST(64 + {_sha_byte(0)} % 192 AS INT) END AS width,
               CASE WHEN text IS NULL OR text = '' THEN 0
                    ELSE CAST(64 + {_sha_byte(1)} % 192 AS INT) END AS height,
               CASE WHEN text IS NULL OR text = '' THEN 'NONE'
                    ELSE list_extract(['RGB', 'RGBA', 'L'], {_sha_byte(2)} % 3 + 1)
                    END AS mode,
               CASE WHEN text IS NULL OR text = '' THEN 'NONE'
                    ELSE list_extract(['PNG', 'JPEG', 'WEBP'], {_sha_byte(3)} % 3 + 1)
                    END AS format,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        FROM m""",
    "multimodal decode plumbing: binary payload -> mapInPandas decode stub -> "
    "typed metadata; the deterministic fake decoder (sha256-derived dims) is "
    "oracle-checked bit-for-bit, proving the Arrow batch path end-to-end",
)
def ext_multimodal_decode(spark, sf_dir):
    from solr_map_reduce_spark.extensions import multimodal

    media = t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )
    return multimodal.decode_image(media, "content", "media_id", impl="fake")


@_register(
    "ext_pixel_stats",
    """SELECT CAST(doc_id AS VARCHAR) AS media_id,
              AVG(px) AS px_mean,
              CAST(MIN(px) AS DOUBLE) AS px_min,
              CAST(MAX(px) AS DOUBLE) AS px_max
       FROM (SELECT doc_id, CAST((doc_id * 7 + i * 13) % 256 AS DOUBLE) AS px
             FROM documents, range(24) t(i))
       GROUP BY doc_id""",
    "REAL pixel-level statistics (r5 pixel_features, impl=builtin): each doc "
    "becomes a deterministic uncompressed netpbm P6 image whose 24 pixel "
    "bytes follow (doc_id*7 + i*13) % 256; the engine DECODES the actual "
    "raster (no codec library) and aggregates mean/min/max per image — the "
    "oracle recomputes the same statistics arithmetically, so a single "
    "wrong pixel fails the hash.  Payload build and decode are both narrow "
    "mapInPandas stages; binaries never shuffle",
)
def ext_pixel_stats(spark, sf_dir):
    import pandas as pd

    from solr_map_reduce_spark.extensions import multimodal

    media = t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.col("doc_id").alias("_id"),
    )

    def _make(batches):
        for pdf in batches:
            content = [
                b"P6\n4 2\n255\n"
                + bytes((int(d) * 7 + i * 13) % 256 for i in range(24))
                for d in pdf["_id"]
            ]
            yield pd.DataFrame({"media_id": pdf["media_id"], "content": content})

    payloads = media.mapInPandas(_make, "media_id string, content binary")
    # px_std is two-pass population variance engine-side vs Welford in SQL
    # engines — not bit-stable across engines, so the oracled projection
    # keeps the bit-exact columns (mean is sum/24: the identical double on
    # both sides; min/max are integers)
    return multimodal.pixel_features(payloads, impl="builtin").select(
        "media_id",
        F.col("px_mean").cast("double").alias("px_mean"),
        "px_min",
        "px_max",
    )


@_register(
    "ext_hash_split",
    """SELECT doc_id,
              CASE
                WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                          AS BIGINT) % 10000 < 8000 THEN 'train'
                WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                          AS BIGINT) % 10000 < 9000 THEN 'val'
                ELSE 'test'
              END AS split
       FROM documents""",
    "deterministic key-stable train/val/test split (md5-bucket ranges, "
    "80/10/10): the assignment is a pure function of the key — appends or "
    "re-partitioning never move a document between splits — and the oracle "
    "recomputes every per-document assignment bit-for-bit",
)
def ext_hash_split(spark, sf_dir):
    return text_analysis.hash_split(
        t(spark, sf_dir, "documents").select("doc_id"), "doc_id"
    ).select("doc_id", "split")


@_register(
    "c6_atomic_update",
    """SELECT doc_id,
              CAST(CASE WHEN doc_id % 10 = 0 THEN -1 ELSE n_chars END
                   AS BIGINT) AS n_chars
       FROM documents""",
    "Solr atomic-update semantics (update_fields): build the artifact, SET "
    "n_chars=-1 on every tenth document through the O(touched) atomic "
    "update path, read everything back — the oracle applies the same "
    "update as a CASE expression, so a doc updated twice, missed, or "
    "duplicated breaks the value hash",
)
def c6_atomic_update(spark, sf_dir):
    import tempfile

    from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig, read_index

    schema = IndexSchema(
        fields=(Field("id", "string", required=True), Field("n_chars", "long")),
        unique_key="id",
    )
    docs = t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("id"), "n_chars"
    )
    out = tempfile.mkdtemp(prefix="smrs_upd_") + "/idx"
    job = IndexJob(
        IndexJobConfig(schema=schema, shards=4, dedup="none", routing="native")
    )
    job.build(docs, out)
    upd = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").cast("string").alias("id"),
        F.lit(-1).cast("long").alias("n_chars"),
    )
    job.update_fields(upd, out)
    return read_index(spark, out).select(
        F.col("id").cast("long").alias("doc_id"), "n_chars"
    )


@_register(
    "c6_atomic_removeregex",
    """SELECT doc_id,
         array_to_string(
           CASE WHEN doc_id % 5 = 0 THEN
             list_filter(ARRAY[lang, source],
                         x -> NOT regexp_matches(x, '^(?:e.*)$'))
           ELSE ARRAY[lang, source] END, '|') AS tags
       FROM documents""",
    "Solr atomic-update removeregex: drop every multivalued element "
    "FULLY matching any update pattern (Java matches() anchoring) on "
    "every fifth doc through the O(touched) update path; survivors "
    "keep multiplicity in order — the oracle applies the same filter as "
    "a list_filter CASE; both sides emit the array joined with '|' so "
    "the harness canonicalizer can hash it (the r3 a11 precedent)",
)
def c6_atomic_removeregex(spark, sf_dir):
    import tempfile

    from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig, read_index

    schema = IndexSchema(
        fields=(Field("id", "string", required=True),
                Field("tags", "string", multi_valued=True)),
        unique_key="id",
    )
    docs = t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("id"),
        F.array("lang", "source").alias("tags"),
    )
    out = tempfile.mkdtemp(prefix="smrs_rmrx_") + "/idx"
    job = IndexJob(
        IndexJobConfig(schema=schema, shards=4, dedup="none", routing="native")
    )
    job.build(docs, out)
    upd = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").cast("string").alias("id"),
        F.array(F.lit("e.*")).alias("tags"),
    )
    job.update_fields(upd, out, ops={"tags": "removeregex"})
    return read_index(spark, out).select(
        F.col("id").cast("long").alias("doc_id"),
        F.array_join(F.col("tags"), "|").alias("tags"),
    )


@_register(
    "ext_spatial_bbox",
    """SELECT event_type,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(MIN(event_id) AS BIGINT) AS min_event
       FROM events
       WHERE ((user_id % 90) - 45 + value / 1000.0) BETWEEN -10 AND 25
         AND ((event_id % 360) - 180 + value / 500.0) BETWEEN 30 AND 90
       GROUP BY event_type""",
    "spatial bounding-box filter over the schema's latlon struct type "
    "(solr.LatLonType, declared in the reference's minimr/conf/schema.xml "
    "but unexercised by its tests): events get deterministic coordinates, "
    "within_box compiles to four range predicates on the struct fields — "
    "pushdown-able, no geo library — and the oracle mirrors the same "
    "arithmetic on the raw columns",
)
def ext_spatial_bbox(spark, sf_dir):
    from solr_map_reduce_spark.schema import within_box

    located = t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.struct(
            ((F.col("user_id") % 90) - 45 + F.col("value") / 1000.0).alias("lat"),
            ((F.col("event_id") % 360) - 180 + F.col("value") / 500.0).alias("lon"),
        ).alias("loc"),
    )
    hits = located.filter(within_box("loc", -10, 25, 30, 90))
    return hits.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("min_event"),
    )


@_register(
    "ext_url_dedup",
    """SELECT 'https://example.com/' || source || '/page-'
              || CAST(doc_id % 100 AS VARCHAR)
              || '?id=' || CAST(doc_id % 7 AS VARCHAR) AS canonical_url,
              MIN(doc_id) AS keep_id,
              CAST(COUNT(*) - 1 AS BIGINT) AS n_dupes
       FROM documents
       GROUP BY 1""",
    "URL canonicalization + URL-keyed exact dedup (the C4/CCNet "
    "dedup-by-URL stage): each doc gets a deliberately messy URL "
    "(uppercase host, utm_source/fbclid tracking params, #fragment); the "
    "engine canonicalizes with pure JVM string expressions and dedups on "
    "the canonical form.  The oracle states the canonical URL "
    "analytically, so any canonicalization defect (case, param scrub, "
    "fragment) breaks the value hash",
)
def ext_url_dedup(spark, sf_dir):
    urls = t(spark, sf_dir, "documents").select(
        F.col("doc_id"),
        F.concat(
            F.lit("HTTPS://Example.COM/"),
            F.col("source"),
            F.lit("/page-"),
            (F.col("doc_id") % 100).cast("string"),
            F.lit("?utm_source=feed&id="),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("&fbclid=abc123#section-2"),
        ).alias("url"),
    )
    return text_analysis.url_dedup(urls)


@_register(
    "ext_c4_clean",
    r"""WITH m AS (
          SELECT doc_id,
                 concat_ws(chr(10),
                           text || '.',
                           'Enable javascript now.',
                           regexp_extract(text, '^(\S+\s+\S+)', 1) || '.',
                           text) AS text
          FROM documents
        ), f AS (
          SELECT doc_id,
                 list_filter(
                   string_split(text, chr(10)),
                   l -> regexp_matches(trim(l), '[.!?"]$')
                        AND len(regexp_split_to_array(trim(l), '\s+')) >= 3
                        AND NOT regexp_matches(lower(trim(l)),
                                               'javascript|lorem ipsum|cookie')
                 ) AS kept,
                 string_split(text, chr(10)) AS all_lines
          FROM m
        )
        SELECT doc_id,
               array_to_string(kept, chr(10)) AS clean_text,
               CAST(len(kept) AS BIGINT) AS n_lines_kept,
               CAST(len(all_lines) - len(kept) AS BIGINT) AS n_lines_dropped
        FROM f
        WHERE len(kept) >= 1""",
    "the C4 line-level cleaning pass (published C4 recipe: keep lines "
    "ending in terminal punctuation with >=3 words and no javascript/"
    "cookie/lorem-ipsum boilerplate; drop docs left empty).  Each doc "
    "becomes a 4-line page — its text as a punctuated sentence (kept), a "
    "javascript-boilerplate line, a 2-word fragment, and the raw "
    "unpunctuated text (all dropped) — so the surviving clean_text varies "
    "per doc and the DuckDB mirror of the same rules checks every line "
    "decision.  JVM array expressions, no UDF",
)
def ext_c4_clean(spark, sf_dir):
    pages = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(F.col("text"), F.lit(".")),
            F.lit("Enable javascript now."),
            F.concat(
                F.regexp_extract(F.col("text"), r"^(\S+\s+\S+)", 1), F.lit(".")
            ),
            F.col("text"),
        ).alias("text"),
    )
    return text_analysis.c4_line_filter(pages)


# ===========================================================================
# TPC-H-shape breadth: the remaining classic plan shapes expressible over the
# driver's star schema (no partsupp table and no l_shipmode/commitdate
# columns, so Q2/Q11/Q12/Q14-container variants are re-expressed over the
# columns that exist).  Every aggregate runs through the exact-decimal path
# so values hash-match DuckDB bit-for-bit.
# ===========================================================================

_VOL_DEC = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))"


@_register(
    "q7_volume_shipping",
    f"""SELECT supp_nation, cust_nation, l_year,
               CAST(SUM(vol) AS DOUBLE) AS revenue
        FROM (
          SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(year(l_shipdate) AS INT) AS l_year, {_VOL_DEC} AS vol
          FROM lineitem
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN orders ON o_orderkey = l_orderkey
          JOIN customer ON c_custkey = o_custkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
              OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            AND l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                               AND TIMESTAMP '1996-12-31 00:00:00'
        ) GROUP BY supp_nation, cust_nation, l_year""",
    "TPC-H Q7 shape: 5-table join, disjunctive nation-pair predicate, "
    "year rollup (broadcast dims, one fact shuffle)",
)
def q7_volume_shipping(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1995-01-01", "1996-12-31 00:00:00")
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    pair = ("NATION_1", "NATION_2")
    n1 = t(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    vol = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        l.join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), s["s_nationkey"] == F.col("n1_key"))
        .join(F.broadcast(n2), c["c_nationkey"] == F.col("n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(_dec_sum(vol, "revenue"))
    )


@_register(
    "q8_market_share",
    f"""SELECT o_year,
               CAST(SUM(CASE WHEN nation = 'NATION_5' THEN vol
                             ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
               / CAST(SUM(vol) AS DOUBLE) AS mkt_share
        FROM (
          SELECT CAST(year(o_orderdate) AS INT) AS o_year, {_VOL_DEC} AS vol,
                 n2.n_name AS nation
          FROM lineitem
          JOIN part ON p_partkey = l_partkey
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN orders ON o_orderkey = l_orderkey
          JOIN customer ON c_custkey = o_custkey
          JOIN nation n1 ON c_nationkey = n1.n_nationkey
          JOIN region ON n1.n_regionkey = r_regionkey
          JOIN nation n2 ON s_nationkey = n2.n_nationkey
          WHERE r_name = 'AMERICA' AND p_type = 'STANDARD'
            AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                                AND TIMESTAMP '1996-12-31 00:00:00'
        ) GROUP BY o_year""",
    "TPC-H Q8 shape: 8-table snowflake join, conditional share-of-total "
    "aggregation by year",
)
def q8_market_share(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD").select("p_partkey")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1995-01-01", "1996-12-31 00:00:00")
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey")
    )
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA").select("r_regionkey")
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    vol = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    nat_vol = F.when(F.col("nation") == "NATION_5", vol).otherwise(
        F.lit(0).cast("decimal(18,6)")
    )
    return (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), c["c_nationkey"] == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n_regionkey") == r["r_regionkey"])
        .join(F.broadcast(n2), s["s_nationkey"] == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(nat_vol).cast("double") / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
    )


@_register(
    "q9_profit_by_nation",
    f"""SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS profit
        FROM (
          SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
                 {_VOL_DEC} AS amount
          FROM lineitem
          JOIN part ON p_partkey = l_partkey
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN orders ON o_orderkey = l_orderkey
          JOIN nation ON s_nationkey = n_nationkey
          WHERE p_name LIKE '%widget%'
        ) GROUP BY nation, o_year""",
    "TPC-H Q9 shape: 5-table join with LIKE-filtered part dim, profit by "
    "supplier nation and year",
)
def q9_profit_by_nation(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%")).select("p_partkey")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = t(spark, sf_dir, "nation").select("n_nationkey", F.col("n_name").alias("nation"))
    amount = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(_dec_sum(amount, "profit"))
    )


@_register(
    "q10_returned_items",
    f"""SELECT c_custkey, c_name, CAST(SUM({_VOL_DEC}) AS DOUBLE) AS revenue,
               c_acctbal, n_name
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1995-10-01 00:00:00'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "TPC-H Q10 shape: returned-item revenue per customer, top-20 "
    "(fact-fact join + broadcast dims + TakeOrdered)",
)
def q10_returned_items(spark, sf_dir):
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-10-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    l = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_dec_sum(rev, "revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@_register(
    "q13_order_distribution",
    """SELECT c_count, count(*) AS custdist
       FROM (
         SELECT c_custkey, count(o_orderkey) AS c_count
         FROM customer
         LEFT OUTER JOIN orders
           ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
         GROUP BY c_custkey
       ) GROUP BY c_count""",
    "TPC-H Q13 shape: left-outer join with residual predicate, two-level "
    "aggregation (orders-per-customer distribution)",
)
def q13_order_distribution(spark, sf_dir):
    c = t(spark, sf_dir, "customer").select("c_custkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (c["c_custkey"] == o["o_custkey"])
            & (o["o_orderpriority"] != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@_register(
    "q15_top_supplier",
    f"""WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
                 CAST(SUM({_VOL_DEC}) AS DOUBLE) AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
          GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)""",
    "TPC-H Q15 shape: aggregate view + scalar-subquery max filter (exact "
    "decimal revenue so the max-equality is deterministic cross-engine)",
)
def q15_top_supplier(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        _dec_sum(rev, "total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("_max_rev"))
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(max_rev), F.col("total_revenue") == F.col("_max_rev"))
        .join(s, F.col("supplier_no") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "total_revenue")
    )


@_register(
    "q17_small_qty_revenue",
    """WITH qt AS (
         SELECT l_partkey AS qt_partkey,
                0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                       / count(*)) AS qty_thresh
         FROM lineitem GROUP BY l_partkey
       )
       SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
              / 7.0 AS avg_yearly
       FROM lineitem
       JOIN part ON p_partkey = l_partkey
       JOIN qt ON qt_partkey = l_partkey
       WHERE p_brand = 'Brand#1' AND l_quantity < qty_thresh""",
    "TPC-H Q17 shape: per-part average-quantity threshold (decorrelated "
    "subquery) gating a brand-filtered revenue aggregate",
)
def q17_small_qty_revenue(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    qt = l.groupBy(F.col("l_partkey").alias("qt_partkey")).agg(
        (
            F.lit(0.2)
            * (
                F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            )
        ).alias("qty_thresh")
    )
    p = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    return (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .join(qt, F.col("qt_partkey") == l["l_partkey"])
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast("double")
                / F.lit(7.0)
            ).alias("avg_yearly")
        )
    )


@_register(
    "q19_discounted_revenue",
    f"""SELECT CAST(SUM({_VOL_DEC}) AS DOUBLE) AS revenue
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
               AND l_quantity BETWEEN 10 AND 35)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
               AND l_quantity BETWEEN 20 AND 50)""",
    "TPC-H Q19 shape: disjunctive multi-attribute predicate spanning both "
    "join sides (tests predicate evaluation post-join)",
)
def q19_discounted_revenue(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & q.between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & q.between(10, 35))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50) & q.between(20, 50))
    )
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(_dec_sum(rev, "revenue"))
    )


@_register(
    "q20_heavy_part_suppliers",
    """SELECT s_suppkey, s_name FROM supplier
       WHERE s_suppkey IN (
         SELECT l_suppkey
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE p_name LIKE '%gear%'
           AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY l_suppkey
         HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) > 50.0
       )
       ORDER BY s_suppkey""",
    "TPC-H Q20 shape: semi-join against a HAVING-filtered aggregate "
    "(left_semi — no row duplication, no distinct needed)",
)
def q20_heavy_part_suppliers(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    p = t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%")).select("p_partkey")
    heavy = (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .groupBy("l_suppkey")
        .agg(_dec_sum(F.col("l_quantity"), "total_qty"))
        .filter(F.col("total_qty") > 50.0)
        .select("l_suppkey")
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        s.join(heavy, s["s_suppkey"] == heavy["l_suppkey"], "left_semi")
        .orderBy("s_suppkey")
    )


@_register(
    "q21_last_shipper",
    """WITH ord AS (
         SELECT l_orderkey AS o_key, max(l_shipdate) AS last_ship,
                count(DISTINCT l_suppkey) AS nsupp
         FROM lineitem GROUP BY l_orderkey
       )
       SELECT s_name, count(DISTINCT l_orderkey) AS numwait
       FROM lineitem
       JOIN ord ON l_orderkey = o_key
       JOIN supplier ON s_suppkey = l_suppkey
       WHERE nsupp > 1 AND l_shipdate = last_ship
       GROUP BY s_name
       ORDER BY numwait DESC, s_name LIMIT 10""",
    "TPC-H Q21 shape (adapted: no commit/receipt dates): the supplier whose "
    "line shipped last in multi-supplier orders — agg + join-back + distinct "
    "count top-k",
)
def q21_last_shipper(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    ord_stats = l.groupBy(F.col("l_orderkey").alias("o_key")).agg(
        F.max("l_shipdate").alias("last_ship"),
        F.countDistinct("l_suppkey").alias("nsupp"),
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        l.join(ord_stats, (l["l_orderkey"] == F.col("o_key")))
        .filter((F.col("nsupp") > 1) & (F.col("l_shipdate") == F.col("last_ship")))
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


@_register(
    "q22_idle_customers",
    """WITH avg_bal AS (
         SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                / count(*) AS ab
         FROM customer WHERE c_acctbal > 0.0
       )
       SELECT c_mktsegment AS segment, count(*) AS numcust,
              CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
       FROM customer, avg_bal
       WHERE c_acctbal > ab
         AND NOT EXISTS (
           SELECT 1 FROM orders
           WHERE o_custkey = c_custkey
             AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
         )
       GROUP BY c_mktsegment""",
    "TPC-H Q22 shape: scalar-subquery threshold + anti-join (customers above "
    "average balance with no recent orders), grouped totals",
)
def q22_idle_customers(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("ab")
    )
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,6)"))
            .cast("double")
            .alias("totacctbal"),
        )
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@_register(
    "pivot_user_activity",
    """SELECT user_id % 100 AS user_bucket,
              count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
              count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
              count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
              count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
              count(CASE WHEN event_type = 'view' THEN 1 END) AS view
       FROM events GROUP BY user_bucket""",
    "pivot/crosstab: event counts per user bucket, one column per event type "
    "— explicit pivot values keep it a single pass with map-side partial agg",
)
def pivot_user_activity(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    out = (
        e.groupBy((F.col("user_id") % 100).alias("user_bucket"))
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return out.na.fill(0, _EVENT_TYPES)


@_register(
    "window_lag_delta",
    """SELECT user_id, event_id, value - prev AS delta
       FROM (
         SELECT user_id, event_id, value,
                lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  AS prev
         FROM events
       )
       WHERE prev IS NOT NULL AND value IS NOT NULL
       ORDER BY delta DESC, event_id LIMIT 20""",
    "lag/lead analytics: largest jump between a user's consecutive event "
    "values — one shuffle on user_id, per-row IEEE arithmetic stays exact",
)
def window_lag_delta(spark, sf_dir):
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = t(spark, sf_dir, "events").withColumn("prev", F.lag("value").over(w))
    return (
        e.filter(F.col("prev").isNotNull() & F.col("value").isNotNull())
        .select(
            "user_id",
            "event_id",
            (F.col("value") - F.col("prev")).alias("delta"),
        )
        .orderBy(F.desc("delta"), F.asc("event_id"))
        .limit(20)
    )


@_register(
    "setop_viewers_not_buyers",
    """SELECT user_id, strftime(d, '%Y-%m-%d') AS day FROM (
         SELECT DISTINCT user_id, date_trunc('day', ts) AS d
         FROM events WHERE event_type = 'view'
         EXCEPT
         SELECT user_id, date_trunc('day', ts) FROM events
         WHERE event_type = 'purchase'
       )""",
    "set operation: (user, day) pairs with views but no purchase that day "
    "(EXCEPT DISTINCT) — Spark plans this as a left-anti hash join after "
    "partial distinct",
)
def setop_viewers_not_buyers(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    viewers = (
        e.filter(F.col("event_type") == "view")
        .select("user_id", day.alias("d"))
        .distinct()
    )
    buyers = e.filter(F.col("event_type") == "purchase").select(
        "user_id", day.alias("d")
    )
    return viewers.subtract(buyers).select(
        "user_id", F.date_format("d", "yyyy-MM-dd").alias("day")
    )


@_register(
    "ext_stratified_sample",
    """SELECT doc_id, lang, n_chars FROM (
         SELECT doc_id, lang, n_chars,
                row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
         FROM documents
       ) WHERE rn % 10 = 1""",
    "stratified systematic sampling for training mixes: every 10th document "
    "per language in stable doc_id order — deterministic across engines, "
    "unlike Bernoulli sampling whose RNG never matches cross-engine",
)
def ext_stratified_sample(spark, sf_dir):
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy("doc_id")
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") % 10 == 1)
        .drop("rn")
    )


@_register(
    "ext_quantile_filter",
    """SELECT lang, count(*) AS kept FROM (
         SELECT lang, n_chars,
                median(n_chars) OVER (PARTITION BY lang) AS med
         FROM documents
       ) WHERE n_chars > med GROUP BY lang""",
    "per-group quantile gate: documents longer than their language's median "
    "— the per-stratum quality-cutoff shape of corpus curation (both engines "
    "interpolate the even-count median to the same double)",
)
def ext_quantile_filter(spark, sf_dir):
    from pyspark.sql import Window

    w = Window.partitionBy("lang")
    d = t(spark, sf_dir, "documents").withColumn(
        "med", F.expr("percentile(n_chars, 0.5)").over(w)
    )
    return (
        d.filter(F.col("n_chars") > F.col("med"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("kept"))
    )


@_register(
    "ext_pack_sequences",
    """WITH RECURSIVE d AS (
         SELECT lang, doc_id, n_chars,
                row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
         FROM documents
       ), rec AS (
         SELECT lang, doc_id, n_chars, rn, CAST(0 AS BIGINT) AS chunk,
                n_chars AS filled
         FROM d WHERE rn = 1
         UNION ALL
         SELECT d.lang, d.doc_id, d.n_chars, d.rn,
                CASE WHEN rec.filled + d.n_chars <= 4000
                     THEN rec.chunk ELSE rec.chunk + 1 END,
                CASE WHEN rec.filled + d.n_chars <= 4000
                     THEN rec.filled + d.n_chars ELSE d.n_chars END
         FROM d JOIN rec ON d.lang = rec.lang AND d.rn = rec.rn + 1
       )
       SELECT lang, chunk, count(*) AS docs,
              CAST(sum(n_chars) AS BIGINT) AS chars
       FROM rec GROUP BY lang, chunk""",
    "greedy sequence packing (fill 4000-char chunks per language in doc_id "
    "order) summarized per chunk — the packing walk is sequential per group, "
    "so the oracle replays it as a recursive CTE",
)
def ext_pack_sequences(spark, sf_dir):
    packed = text_analysis.pack_sequences(
        t(spark, sf_dir, "documents"),
        weight_col="n_chars",
        budget=4000,
        group_cols=("lang",),
        order_col="doc_id",
    )
    return packed.groupBy("lang", "chunk").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_chars").alias("chars"),
    )


@_register(
    "ext_redact_pii",
    f"""SELECT doc_id,
              {text_analysis.redact_pii_sql(
                  "concat(text, ' contact user', CAST(doc_id AS VARCHAR), "
                  "'@example.com at 10.0.0.', CAST(doc_id % 256 AS VARCHAR), "
                  "' or +1 555 010 1234')"
              )} AS redacted
       FROM documents""",
    "PII scrub: emails / IPv4 / phone numbers replaced with typed tokens "
    "(regexp_replace chain, JVM-side) — PII is injected deterministically "
    "so the replacement path is actually exercised",
)
def ext_redact_pii(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    seeded = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com at 10.0.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(" or +1 555 010 1234"),
    )
    return d.select(
        "doc_id", text_analysis.redact_pii(seeded).alias("redacted")
    )


_PROFILE_ORACLE = " UNION ALL ".join(
    f"""SELECT '{c}' AS "column", count({c}) AS non_null,
               count(*) - count({c}) AS nulls,
               count(DISTINCT {c}) AS distinct_cnt,
               CAST(min({c}) AS VARCHAR) AS min_value,
               CAST(max({c}) AS VARCHAR) AS max_value
        FROM events"""
    for c in ("event_id", "user_id", "event_type")
)


@_register(
    "ext_profile",
    _PROFILE_ORACLE,
    "corpus profiling: per-column null/cardinality/range stats in ONE scan + "
    "ONE aggregate (exact mode for the oracle; the default approx mode swaps "
    "in HyperLogLog++ sketches for 100 TB)",
)
def ext_profile(spark, sf_dir):
    from solr_map_reduce_spark.operators.stats import profile

    return profile(
        t(spark, sf_dir, "events"),
        cols=("event_id", "user_id", "event_type"),
        exact=True,
    )


@_register(
    "ext_source_mixture",
    """SELECT doc_id, source, pos FROM (
         SELECT doc_id, source,
                CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
                     AS DOUBLE)
                / (CASE WHEN source IN ('src0','src1','src2','src3','src4')
                        THEN 2.0 ELSE 1.0 END) AS pos
         FROM documents
       ) ORDER BY pos, source, doc_id LIMIT 200""",
    "training-mixture schedule: weighted round-robin interleave of sources "
    "(2x upsample for the first five) — each doc's mix position is its "
    "within-source rank over the source weight; deterministic, one window "
    "shuffle + TakeOrdered, no RNG to disagree across engines",
)
def ext_source_mixture(spark, sf_dir):
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy("doc_id")
    weight = F.when(
        F.col("source").isin("src0", "src1", "src2", "src3", "src4"), F.lit(2.0)
    ).otherwise(F.lit(1.0))
    return (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            (F.row_number().over(w).cast("double") / weight).alias("pos"),
        )
        .orderBy("pos", "source", "doc_id")
        .limit(200)
    )


@_register(
    "window_sliding_counts",
    """SELECT strftime(
                make_timestamp(
                  (CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800
                   - k * 1800) * 1000000),
                '%Y-%m-%d %H:%M:%S') AS window_start,
              count(*) AS cnt
       FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) ks
       GROUP BY window_start""",
    "hopping/sliding window counts (1 h windows every 30 min): each event "
    "lands in exactly duration/slide windows — the oracle replays the "
    "assignment by cross-joining the two hop offsets",
)
def window_sliding_counts(spark, sf_dir):
    from solr_map_reduce_spark.streaming.ingest import windowed_event_counts

    return windowed_event_counts(
        t(spark, sf_dir, "events"),
        "ts",
        "1 hour",
        watermark="2 hours",
        group_col=None,
        slide="30 minutes",
    ).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "cnt",
    )


@_register(
    "ext_repetition",
    r"""WITH toks AS (
         SELECT doc_id,
                list_filter(regexp_split_to_array(lower(text),
                            '[^\p{L}\p{N}]+'), x -> x <> '') AS t
         FROM documents
       ), grams AS (
         SELECT doc_id,
                CASE WHEN length(t) >= 3
                     THEN list_transform(range(1, length(t) - 1),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                     ELSE [] END AS g
         FROM toks
       )
       SELECT doc_id,
              CAST(length(g) AS BIGINT) AS total_ngrams,
              CASE WHEN length(g) = 0 THEN 0.0
                   ELSE CAST(length(g) - length(list_distinct(g)) AS DOUBLE)
                        / length(g) END AS dup_frac
       FROM grams""",
    "intra-document repetition (duplicate word-3gram fraction) — the "
    "repeated-passage quality filter; pure array expressions, no shuffle",
)
def ext_repetition(spark, sf_dir):
    return text_analysis.repetition_score(
        t(spark, sf_dir, "documents"), "text", "doc_id", n=3
    )


@_register(
    "ext_passage_dedup",
    """WITH w AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       ), c AS (
         SELECT doc_id, CAST(i AS INT) AS pos,
                array_to_string(ws[(i*10+1):(i*10+10)], ' ') AS passage
         FROM w, UNNEST(range(CAST(greatest(ceil(length(ws) / 10.0), 1)
                                   AS BIGINT))) AS t(i)
       ), k AS (
         SELECT doc_id, pos, passage,
                row_number() OVER (PARTITION BY passage
                                   ORDER BY doc_id, pos) AS rn
         FROM c
       )
       SELECT doc_id,
              coalesce(string_agg(CASE WHEN rn = 1 THEN passage END, ' '
                                  ORDER BY pos), '') AS dedup_text,
              CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_kept,
              CAST(count(*) AS BIGINT) AS n_total
       FROM k GROUP BY doc_id""",
    "corpus-wide passage-level exact dedup (the C4/CCNet line-dedup pass "
    "over 10-word chunks): each distinct passage survives only at its first "
    "(doc_id, position) occurrence; documents reassembled from survivors",
)
def ext_passage_dedup(spark, sf_dir):
    return text_dedup.dedup_passages(
        t(spark, sf_dir, "documents"), "doc_id", "text", chunk_words=10
    )


@_register(
    "ext_knn_join",
    """WITH q AS (
         SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
         FROM embeddings WHERE label = 0
       ), c AS (
         SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
         FROM embeddings WHERE label <> 0
       ), s AS (
         SELECT qid, cid, list_cosine_similarity(qe, ce) AS sim FROM q, c
       ), r AS (
         SELECT qid, cid,
                row_number() OVER (PARTITION BY qid
                                   ORDER BY sim DESC, cid) AS rnk
         FROM s
       )
       SELECT qid AS query_id, cid AS neighbor_id,
              CAST(rnk AS BIGINT) AS knn_rank
       FROM r WHERE rnk <= 5""",
    "exact broadcast-kNN join: top-5 cosine neighbors among label<>0 vectors "
    "for every label=0 query vector; corpus streams once through an Arrow "
    "matmul, only n_q*k candidates per task shuffle into the final rank",
)
def ext_knn_join(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    return similarity.knn_join(
        emb.filter(F.col("label") == 0),
        emb.filter(F.col("label") != 0),
        k=5,
    )


@_register(
    "ext_knn_classify",
    """WITH q AS (
         SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
         FROM embeddings WHERE label = 0
       ), c AS (
         SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce, label
         FROM embeddings WHERE label <> 0
       ), s AS (
         SELECT qid, cid, label, list_cosine_similarity(qe, ce) AS sim FROM q, c
       ), r AS (
         SELECT qid, cid, label,
                row_number() OVER (PARTITION BY qid
                                   ORDER BY sim DESC, cid) AS rnk
         FROM s
       ), v AS (
         SELECT qid, label, count(*) AS votes FROM r WHERE rnk <= 5
         GROUP BY qid, label
       ), p AS (
         SELECT qid, label, votes,
                row_number() OVER (PARTITION BY qid
                                   ORDER BY votes DESC, label) AS pr
         FROM v
       )
       SELECT qid AS query_id, label AS predicted_label,
              CAST(votes AS BIGINT) AS votes
       FROM p WHERE pr = 1""",
    "kNN label propagation (majority label of the 5 cosine-nearest "
    "labeled vectors per unlabeled query) — the embedding-space classifier "
    "a curation pipeline uses to extend a small labeled set over the corpus",
)
def ext_knn_classify(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    return similarity.knn_classify(
        emb.filter(F.col("label") == 0),
        emb.filter(F.col("label") != 0),
        k=5,
    )


@_register(
    "ext_source_cap",
    """SELECT doc_id, source, n_chars FROM (
         SELECT doc_id, source, n_chars,
                row_number() OVER (PARTITION BY source
                                   ORDER BY n_chars DESC, doc_id) AS rn
         FROM documents) WHERE rn <= 10""",
    "deterministic per-source document cap (keep the 10 longest docs per "
    "source — the per-domain cap of web curation pipelines)",
)
def ext_source_cap(spark, sf_dir):
    from solr_map_reduce_spark.extensions.text_analysis import cap_per_group

    d = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return cap_per_group(d, "source", "n_chars", 10, tiebreak_col="doc_id")


@_register(
    "ext_pq_topk",
    None,  # approximate by construction — golden recall tests vs exact
    "product-quantized ANN top-k (Jegou 2011): 64-float vectors stored as "
    "8 one-byte codes (32x), asymmetric-distance scan over codes only; "
    "recall vs exact cosine is golden-tested (tests/test_similarity_pq.py)",
)
def ext_pq_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    codec = similarity.PqCodec.fit(emb, m=8, ksub=16, seed=42)
    query = [
        float(x)
        for x in emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]
    ]
    return codec.topk(codec.encode(emb), query, k=10).select("vec_id")


# -- round 8: the Solr response-writer components (facet.range,
# facet.pivot, stats, grouping, cursorMark) over the built artifacts ------

@_register(
    "c9_range_facet",
    """WITH spine AS (SELECT unnest(generate_series(0, 7)) AS b),
       c AS (SELECT CAST(floor(value / 25.0) AS BIGINT) AS b,
                    CAST(count(*) AS BIGINT) AS cnt
             FROM events
             WHERE event_type = 'purchase' AND value >= 0 AND value < 200
             GROUP BY 1)
       SELECT b * 25.0 AS bucket_start,
              CAST(coalesce(cnt, 0) AS BIGINT) AS cnt
       FROM spine LEFT JOIN c USING (b) ORDER BY bucket_start""",
    "Solr facet.range: bucketed counts with the zero-count buckets kept "
    "(facet.mincount=0) — one map-side-combined aggregate + a broadcast "
    "join against the generated bucket spine",
)
def c9_range_facet(spark, sf_dir):
    return _events_search_index(spark, sf_dir).range_facet(
        "value", 0, 200, 25, q="event_type:purchase"
    )


@_register(
    "c9_pivot_facet",
    f"""WITH pairs AS (
          SELECT lang, source, CAST(count(*) AS BIGINT) AS cnt
          FROM (SELECT lang, source, {_TOKS_SQL} AS t FROM documents)
          WHERE list_contains(t, 'spark') OR list_contains(t, 'vector')
          GROUP BY lang, source),
        ranked AS (
          SELECT lang, source, cnt,
                 SUM(cnt) OVER (PARTITION BY lang) AS f1_cnt,
                 ROW_NUMBER() OVER (PARTITION BY lang
                                    ORDER BY cnt DESC, source) AS rk
          FROM pairs),
        l1 AS (
          SELECT lang, ROW_NUMBER() OVER (ORDER BY f1_cnt DESC, lang) AS rk1
          FROM (SELECT DISTINCT lang, f1_cnt FROM ranked))
       SELECT r.lang, r.source, r.cnt, CAST(r.f1_cnt AS BIGINT) AS f1_cnt
       FROM ranked r JOIN l1 USING (lang)
       WHERE r.rk <= 3 AND l1.rk1 <= 3
       ORDER BY f1_cnt DESC, lang, cnt DESC, source""",
    "Solr facet.pivot=lang,source over a boolean query's result set: "
    "nested counts, each level top-3 by count within its parent — one "
    "corpus groupBy, ranking over the tiny distinct-pairs result",
)
def c9_pivot_facet(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).pivot_facet(
        ["lang", "source"], top=3, q="spark OR vector"
    )


@_register(
    "c9_stats_field",
    """SELECT round(min(value), 4) AS min, round(max(value), 4) AS max,
              CAST(count(value) AS BIGINT) AS count,
              CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS missing,
              round(sum(value), 4) AS sum,
              round(avg(value), 4) AS mean,
              round(stddev_samp(value), 4) AS stddev
       FROM events WHERE event_type = 'purchase'""",
    "Solr stats component (stats.field=value over an fq): min/max/count/"
    "missing/sum/mean/stddev(sample) in ONE map-side-combined pass",
)
def c9_stats_field(spark, sf_dir):
    out = _events_search_index(spark, sf_dir).stats(
        "value", q="event_type:purchase"
    )
    # fixed-precision contract for the float-summation order difference
    # between engines (same convention as window_rolling_sum)
    return out.select(
        F.round("min", 4).alias("min"),
        F.round("max", 4).alias("max"),
        "count",
        "missing",
        F.round("sum", 4).alias("sum"),
        F.round("mean", 4).alias("mean"),
        F.round("stddev", 4).alias("stddev"),
    )


@_register(
    "c9_grouped",
    """WITH g AS (
         SELECT event_type, event_id, value,
                ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY value DESC, event_id) AS _rk,
                CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
                  AS n_in_group,
                FIRST_VALUE(value) OVER (PARTITION BY event_type
                                         ORDER BY value DESC, event_id)
                  AS _head
         FROM events)
       SELECT event_type, n_in_group, _rk, event_id, value
       FROM g WHERE _rk <= 2""",
    "Solr result grouping (group.field=event_type, group.limit=2, sorted "
    "by value desc): top docs per group + per-group numFound, one window "
    "over the grouping shuffle — no self-join",
)
def c9_grouped(spark, sf_dir):
    return _events_search_index(spark, sf_dir).grouped(
        "event_type", sort=("value", "desc"), group_limit=2,
        select=["event_id", "value"],
    )


@_register(
    "c9_cursor_page",
    """SELECT event_id, value FROM events WHERE event_type = 'purchase'
       ORDER BY value DESC, event_id LIMIT 20 OFFSET 20""",
    "Solr cursorMark deep paging: page 2 fetched via the KEYSET predicate "
    "(sort tuple AFTER the page-1 cursor), not an offset — O(page) per "
    "request where start=N paging is O(N + page); equals the offset "
    "oracle because cursor paging is gapless and deterministic",
)
def c9_cursor_page(spark, sf_dir):
    idx = _events_search_index(spark, sf_dir)
    _rows1, mark = idx.cursor_page(
        sort=[("value", "desc")], limit=20, q="event_type:purchase",
        select=["event_id", "value"],
    )
    rows2, _next = idx.cursor_page(
        sort=[("value", "desc")], limit=20, cursor_mark=mark,
        q="event_type:purchase", select=["event_id", "value"],
    )
    return spark.createDataFrame(rows2).select("event_id", "value")


@_register(
    "c9_spellcheck",
    f"""WITH toks AS (
          SELECT doc_id, list_distinct({_TOKS_SQL}) AS t FROM documents),
        u AS (SELECT unnest(t) AS term FROM toks),
        v AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM u GROUP BY term)
       SELECT term AS suggestion, df,
              CAST(levenshtein(term, 'sparc') AS INTEGER) AS dist
       FROM v
       WHERE term <> 'sparc' AND length(term) BETWEEN 3 AND 7
         AND levenshtein(term, 'sparc') <= 2
       ORDER BY dist, df DESC, suggestion LIMIT 5""",
    "Solr spellcheck (did-you-mean): correction candidates ranked by "
    "(edit distance, df) — served from the STORED term dictionary with a "
    "length-band prune, Lucene's DirectSpellChecker cost model; the "
    "corpus is never scanned",
)
def c9_spellcheck(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).spellcheck("sparc", top=5)


@_register(
    "c9_leading_wildcard",
    f"""SELECT doc_id FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
        WHERE len(list_filter(t, x -> x LIKE '%tion')) > 0
           OR len(list_filter(t, x -> x LIKE '%ampl%')) > 0""",
    "Lucene leading/infix wildcards (*tion, *ampl*): suffix clauses "
    "compile to a reversed-token PREFIX seek on text_general_rev fields "
    "(ReversedWildcardFilter contract) and an honest endswith token scan "
    "elsewhere; infix is a substring scan, as in Lucene without an "
    "n-gram subfield",
)
def c9_leading_wildcard(spark, sf_dir):
    return (
        _docs_search_index(spark, sf_dir)
        .query("*tion OR *ampl*")
        .select("doc_id")
    )


@_register(
    "c9_synonym_query",
    f"""SELECT doc_id FROM (SELECT doc_id, lang, {_TOKS_SQL} AS t FROM documents)
        WHERE (list_contains(t, 'spark') OR list_contains(t, 'shuffle')
               OR list_contains(t, 'vector'))
          AND lang = 'en'""",
    "Solr query-time synonym expansion (SynonymFilterFactory, "
    "expand=true): the term 'spark' expands to its group (shuffle, "
    "vector), each member analyzed like any query term, composed with a "
    "fielded filter — still ONE compiled predicate on one scan",
)
def c9_synonym_query(spark, sf_dir):
    return (
        _docs_search_index(spark, sf_dir)
        .query(
            "spark AND lang:en",
            synonyms={"spark": ["shuffle", "vector"]},
        )
        .select("doc_id")
    )


@_register(
    "ext_semdedup",
    f"""WITH RECURSIVE pairs AS ({_COS_PAIRS_SQL}),
        edges AS (
          SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ),
        reach(a, b) AS (
          SELECT a, a FROM (SELECT DISTINCT a FROM edges)
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        ),
        dropped AS (
          SELECT a AS id FROM reach GROUP BY a HAVING min(b) <> a
        )
       SELECT vec_id FROM embeddings
       WHERE vec_id NOT IN (SELECT id FROM dropped)""",
    "SemDeDup (Abbas 2023): embedding-space near-dup removal — cosine "
    "pair graph -> connected components -> keep the min-id representative "
    "per semantic cluster; the paraphrase-catching sibling of MinHash "
    "text dedup. Oracle: recursive-CTE closure over the exact all-pairs "
    "cosine graph",
)
def ext_semdedup(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(
        e, threshold=0.2, use_lsh=False
    ).select("vec_id")


@_register(
    "c9_facet_stats",
    """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
              round(avg(value), 4) AS avg_value,
              round(sum(value), 4) AS sum_value,
              CAST(count(DISTINCT user_id) AS BIGINT) AS users
       FROM events GROUP BY event_type ORDER BY cnt DESC, event_type""",
    "Solr JSON Facet API sub-aggregations (json.facet nested stats): "
    "per-bucket avg/sum/unique alongside counts, ONE map-side-combined "
    "groupBy of the corpus",
)
def c9_facet_stats(spark, sf_dir):
    out = _events_search_index(spark, sf_dir).facet_stats(
        "event_type",
        {"avg_value": ("avg", "value"), "sum_value": ("sum", "value"),
         "users": ("unique", "user_id")},
    )
    return out.select(
        "event_type", "cnt",
        F.round("avg_value", 4).alias("avg_value"),
        F.round("sum_value", 4).alias("sum_value"),
        "users",
    )


@_register(
    "c9_stats_percentiles",
    """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
              round(quantile_cont(value, 0.50), 6) AS p50,
              round(quantile_cont(value, 0.95), 6) AS p95
       FROM events GROUP BY event_type ORDER BY cnt DESC, event_type""",
    "Solr stats percentiles (stats.field={!percentiles='50,95'}value): "
    "exact linear-interpolated quantiles per bucket (Spark percentile == "
    "SQL quantile_cont — the value Solr's t-digest approximates); the "
    "one holistic metric, still ONE groupBy",
)
def c9_stats_percentiles(spark, sf_dir):
    out = _events_search_index(spark, sf_dir).facet_stats(
        "event_type",
        {"p50": ("percentile", "value", 0.50),
         "p95": ("percentile", "value", 0.95)},
    )
    return out.select(
        "event_type", "cnt",
        F.round("p50", 6).alias("p50"),
        F.round("p95", 6).alias("p95"),
    )


def _dismax_search_index(spark, sf_dir):
    """A TWO-analyzed-field artifact (text: text_general, lang:
    lowercase) for the multi-field dismax entry — each qf field carries
    its own stored BM25 statistics (Lucene's per-field docCount/norms)."""
    schema = IndexSchema(
        fields=(
            Field("doc_id", "long", required=True),
            Field("text", "text_general"),
            Field("lang", "lowercase"),
            Field("n_chars", "long"),  # the boost= function-query input
        ),
        unique_key="doc_id",
    )
    return _cached_index(
        spark, sf_dir, "dismax", schema,
        lambda: t(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "n_chars"
        ),
        shards=4, micro_shards=8, dedup="none", routing="native",
        search_stats=True,
    )


def _dismax_word_sql(word: str, k1: float = 1.2, b: float = 0.75) -> str:
    """Per-word dismax score: greatest over the text field (weight 1.0)
    and the lang field (weight 0.5), each through DECIMAL(18,6) — the
    exact expression tree bm25_dismax builds with exact_sum=True."""
    t_raw = (
        f"ln(1.0 + (n_t - df_t_{word} + 0.5) / (df_t_{word} + 0.5))"
        f" * (tf_t_{word} * ({k1} + 1))"
        f" / (tf_t_{word} + {k1} * (1 - {b} + {b} * dl_t / avgdl_t))"
    )
    l_raw = (
        f"ln(1.0 + (n_l - df_l_{word} + 0.5) / (df_l_{word} + 0.5))"
        f" * (tf_l_{word} * ({k1} + 1))"
        f" / (tf_l_{word} + {k1} * (1 - {b} + {b} * dl_l / avgdl_l))"
    )
    return (
        "greatest("
        f"CAST((CASE WHEN tf_t_{word} > 0 THEN {t_raw} ELSE 0.0 END) * 1.0"
        " AS DECIMAL(18,6)), "
        f"CAST((CASE WHEN tf_l_{word} > 0 THEN {l_raw} ELSE 0.0 END) * 0.5"
        " AS DECIMAL(18,6)))"
    )


@_register(
    "ext_dismax_topk",
    f"""WITH t1 AS (
          SELECT doc_id, {_TOKS_SQL} AS tt, lower(lang) AS lt FROM documents
        ), staged AS (
          SELECT doc_id,
            CAST(length(tt) AS DOUBLE) AS dl_t, 1.0 AS dl_l,
            CAST(length(list_filter(tt, x -> x = 'spark')) AS DOUBLE)
              AS tf_t_spark,
            CAST(length(list_filter(tt, x -> x = 'en')) AS DOUBLE)
              AS tf_t_en,
            CASE WHEN lt = 'spark' THEN 1.0 ELSE 0.0 END AS tf_l_spark,
            CASE WHEN lt = 'en' THEN 1.0 ELSE 0.0 END AS tf_l_en
          FROM t1
        ), stats AS (
          SELECT CAST(count(*) AS DOUBLE) AS n_t, avg(dl_t) AS avgdl_t,
                 CAST(count(*) AS DOUBLE) AS n_l, 1.0 AS avgdl_l,
                 sum(CASE WHEN tf_t_spark > 0 THEN 1.0 ELSE 0.0 END)
                   AS df_t_spark,
                 sum(CASE WHEN tf_t_en > 0 THEN 1.0 ELSE 0.0 END) AS df_t_en,
                 sum(CASE WHEN tf_l_spark > 0 THEN 1.0 ELSE 0.0 END)
                   AS df_l_spark,
                 sum(CASE WHEN tf_l_en > 0 THEN 1.0 ELSE 0.0 END) AS df_l_en
          FROM staged
        ), scored AS (
          SELECT doc_id,
            CAST({_dismax_word_sql('spark')} + {_dismax_word_sql('en')}
                 AS DOUBLE) AS score,
            (tf_t_spark > 0 OR tf_l_spark > 0 OR tf_t_en > 0 OR tf_l_en > 0)
              AS hit
          FROM staged CROSS JOIN stats
        )
       SELECT doc_id, score FROM scored WHERE hit
       ORDER BY score DESC, doc_id LIMIT 10""",
    "Solr (e)dismax multi-field ranking (qf='text^1.0 lang^0.5'): each "
    "query WORD scored independently per field (own analyzer + own BM25 "
    "statistics, Lucene's per-field docCount/norms), combined as "
    "DisjunctionMaxQuery (max over fields), summed over words — served "
    "from per-field stored stats, ONE scan + TakeOrdered",
)
def ext_dismax_topk(spark, sf_dir):
    return _dismax_search_index(spark, sf_dir).dismax(
        ["spark", "en"], qf={"text": 1.0, "lang": 0.5}, k=10,
        exact_sum=True,
    )


@_register(
    "ext_dismax_boost",
    f"""WITH t1 AS (
          SELECT doc_id, n_chars, {_TOKS_SQL} AS tt, lower(lang) AS lt
          FROM documents
        ), staged AS (
          SELECT doc_id, n_chars,
            CAST(length(tt) AS DOUBLE) AS dl_t, 1.0 AS dl_l,
            CAST(length(list_filter(tt, x -> x = 'spark')) AS DOUBLE)
              AS tf_t_spark,
            CAST(length(list_filter(tt, x -> x = 'en')) AS DOUBLE)
              AS tf_t_en,
            CASE WHEN lt = 'spark' THEN 1.0 ELSE 0.0 END AS tf_l_spark,
            CASE WHEN lt = 'en' THEN 1.0 ELSE 0.0 END AS tf_l_en
          FROM t1
        ), stats AS (
          SELECT CAST(count(*) AS DOUBLE) AS n_t, avg(dl_t) AS avgdl_t,
                 CAST(count(*) AS DOUBLE) AS n_l, 1.0 AS avgdl_l,
                 sum(CASE WHEN tf_t_spark > 0 THEN 1.0 ELSE 0.0 END)
                   AS df_t_spark,
                 sum(CASE WHEN tf_t_en > 0 THEN 1.0 ELSE 0.0 END) AS df_t_en,
                 sum(CASE WHEN tf_l_spark > 0 THEN 1.0 ELSE 0.0 END)
                   AS df_l_spark,
                 sum(CASE WHEN tf_l_en > 0 THEN 1.0 ELSE 0.0 END) AS df_l_en
          FROM staged
        ), scored AS (
          SELECT doc_id,
            CAST({_dismax_word_sql('spark')} + {_dismax_word_sql('en')}
                 AS DOUBLE)
              * (CAST(n_chars AS DOUBLE) / 1000.0) AS score,
            (tf_t_spark > 0 OR tf_l_spark > 0 OR tf_t_en > 0 OR tf_l_en > 0)
              AS hit
          FROM staged CROSS JOIN stats
        )
       SELECT doc_id, score FROM scored WHERE hit
       ORDER BY score DESC, doc_id LIMIT 10""",
    "Solr edismax boost= ({!boost b=...}): a MULTIPLICATIVE function "
    "query (div(n_chars,1000)) folded into the final dismax score — "
    "evaluated over the full row in the same compact projection, one "
    "extra double column, matching and per-field statistics untouched; "
    "exact IEEE ratio keeps the oracle bit-identical",
)
def ext_dismax_boost(spark, sf_dir):
    return _dismax_search_index(spark, sf_dir).dismax(
        ["spark", "en"], qf={"text": 1.0, "lang": 0.5}, k=10,
        exact_sum=True, boost="div(n_chars,1000)",
    )


@_register(
    "ext_dismax_pf",
    f"""WITH t1 AS (
          SELECT doc_id, {_TOKS_SQL} AS tt, lower(lang) AS lt FROM documents
        ), staged AS (
          SELECT doc_id,
            CAST(length(tt) AS DOUBLE) AS dl_t, 1.0 AS dl_l,
            CAST(length(list_filter(tt, x -> x = 'spark')) AS DOUBLE)
              AS tf_t_spark,
            CAST(length(list_filter(tt, x -> x = 'data')) AS DOUBLE)
              AS tf_t_data,
            CASE WHEN lt = 'spark' THEN 1.0 ELSE 0.0 END AS tf_l_spark,
            CASE WHEN lt = 'data' THEN 1.0 ELSE 0.0 END AS tf_l_data,
            CASE WHEN contains(' ' || array_to_string(tt, ' ') || ' ',
                               ' spark data ') THEN 3.0 ELSE 0.0 END AS pfb
          FROM t1
        ), stats AS (
          SELECT CAST(count(*) AS DOUBLE) AS n_t, avg(dl_t) AS avgdl_t,
                 CAST(count(*) AS DOUBLE) AS n_l, 1.0 AS avgdl_l,
                 sum(CASE WHEN tf_t_spark > 0 THEN 1.0 ELSE 0.0 END)
                   AS df_t_spark,
                 sum(CASE WHEN tf_t_data > 0 THEN 1.0 ELSE 0.0 END)
                   AS df_t_data,
                 sum(CASE WHEN tf_l_spark > 0 THEN 1.0 ELSE 0.0 END)
                   AS df_l_spark,
                 sum(CASE WHEN tf_l_data > 0 THEN 1.0 ELSE 0.0 END)
                   AS df_l_data
          FROM staged
        ), scored AS (
          SELECT doc_id,
            CAST({_dismax_word_sql('spark')} + {_dismax_word_sql('data')}
                 AS DOUBLE) + pfb AS score,
            (tf_t_spark > 0 OR tf_l_spark > 0 OR tf_t_data > 0
             OR tf_l_data > 0) AS hit
          FROM staged CROSS JOIN stats
        )
       SELECT doc_id, score FROM scored WHERE hit
       ORDER BY score DESC, doc_id LIMIT 10""",
    "Solr edismax pf= (phrase fields): an ADDITIVE bonus (our pinned "
    "formula: the pf weight itself) when the whole query appears as an "
    "adjacent phrase in the field — the slop-0 token-join containment "
    "indicator, one string op in the same compact projection",
)
def ext_dismax_pf(spark, sf_dir):
    return _dismax_search_index(spark, sf_dir).dismax(
        ["spark", "data"], qf={"text": 1.0, "lang": 0.5}, k=10,
        exact_sum=True, pf={"text": 3.0},
    )



def _dismax_mm_sql(req: int) -> str:
    """The mm-gated dismax oracle with a parameterized word-count floor
    (shared by the absolute-mm and conditional-mm entries)."""
    return f"""WITH t1 AS (
          SELECT doc_id, {_TOKS_SQL} AS tt, lower(lang) AS lt FROM documents
        ), staged AS (
          SELECT doc_id,
            CAST(length(tt) AS DOUBLE) AS dl_t, 1.0 AS dl_l,
            CAST(length(list_filter(tt, x -> x = 'spark')) AS DOUBLE)
              AS tf_t_spark,
            CAST(length(list_filter(tt, x -> x = 'en')) AS DOUBLE)
              AS tf_t_en,
            CAST(length(list_filter(tt, x -> x = 'data')) AS DOUBLE)
              AS tf_t_data,
            CASE WHEN lt = 'spark' THEN 1.0 ELSE 0.0 END AS tf_l_spark,
            CASE WHEN lt = 'en' THEN 1.0 ELSE 0.0 END AS tf_l_en,
            CASE WHEN lt = 'data' THEN 1.0 ELSE 0.0 END AS tf_l_data
          FROM t1
        ), stats AS (
          SELECT CAST(count(*) AS DOUBLE) AS n_t, avg(dl_t) AS avgdl_t,
                 CAST(count(*) AS DOUBLE) AS n_l, 1.0 AS avgdl_l,
                 sum(CASE WHEN tf_t_spark > 0 THEN 1.0 ELSE 0.0 END)
                   AS df_t_spark,
                 sum(CASE WHEN tf_t_en > 0 THEN 1.0 ELSE 0.0 END) AS df_t_en,
                 sum(CASE WHEN tf_t_data > 0 THEN 1.0 ELSE 0.0 END)
                   AS df_t_data,
                 sum(CASE WHEN tf_l_spark > 0 THEN 1.0 ELSE 0.0 END)
                   AS df_l_spark,
                 sum(CASE WHEN tf_l_en > 0 THEN 1.0 ELSE 0.0 END) AS df_l_en,
                 sum(CASE WHEN tf_l_data > 0 THEN 1.0 ELSE 0.0 END)
                   AS df_l_data
          FROM staged
        ), scored AS (
          SELECT doc_id,
            CAST({_dismax_word_sql('spark')} + {_dismax_word_sql('en')}
                 + {_dismax_word_sql('data')} AS DOUBLE) AS score,
            ((CASE WHEN tf_t_spark > 0 OR tf_l_spark > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN tf_t_en > 0 OR tf_l_en > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN tf_t_data > 0 OR tf_l_data > 0 THEN 1 ELSE 0 END))
              >= {req} AS hit
          FROM staged CROSS JOIN stats
        )
       SELECT doc_id, score FROM scored WHERE hit
       ORDER BY score DESC, doc_id LIMIT 10"""


@_register(
    "ext_dismax_mm",
    _dismax_mm_sql(2),
    "Solr edismax mm=2 (minimum-should-match): a document must match at "
    "least 2 of the 3 query WORDS (a word matches when ANY qf field "
    "matches it) — the hit predicate becomes a match-count floor, the "
    "plan stays ONE scan + TakeOrdered",
)
def ext_dismax_mm(spark, sf_dir):
    return _dismax_search_index(spark, sf_dir).dismax(
        ["spark", "en", "data"], qf={"text": 1.0, "lang": 0.5}, k=10,
        exact_sum=True, mm=2,
    )


@_register(
    "ext_dismax_mm_conditional",
    _dismax_mm_sql(3),
    "Solr edismax conditional mm='2<-25%': 3 query words exceed the "
    "N=2 threshold, so -25% applies — leave floor(3*25/100)=0 words "
    "optional, i.e. ALL THREE required (the documented conditional "
    "contract; at or below N every clause is required)",
)
def ext_dismax_mm_conditional(spark, sf_dir):
    return _dismax_search_index(spark, sf_dir).dismax(
        ["spark", "en", "data"], qf={"text": 1.0, "lang": 0.5}, k=10,
        exact_sum=True, mm="2<-25%",
    )


@_register(
    "ext_unigram_surprisal",
    f"""WITH toks AS (
          SELECT doc_id, {_TOKS_SQL} AS t FROM documents
        ), u AS (SELECT unnest(t) AS term FROM toks),
        vocab AS (SELECT term, count(*) AS cnt FROM u GROUP BY term),
        totals AS (
          SELECT CAST(sum(cnt) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v
          FROM vocab
        ),
        doc_toks AS (SELECT doc_id, unnest(t) AS term FROM toks)
       SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
              round(avg(-ln((vocab.cnt + 1.0) / (totals.n + totals.v))), 6)
                AS surprisal
       FROM doc_toks d JOIN vocab USING (term) CROSS JOIN totals
       GROUP BY d.doc_id""",
    "perplexity-proxy quality score (CCNet/Gopher LM-filter stand-in): "
    "mean per-token negative log Laplace-smoothed corpus-unigram "
    "probability — the LM is one map-side-combined token count, scoring "
    "is an exploded join on the token key + one avg by doc",
)
def ext_unigram_surprisal(spark, sf_dir):
    out = text_analysis.unigram_surprisal(
        t(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return out.select(
        "doc_id", "n_tokens", F.round("surprisal", 6).alias("surprisal")
    )


@_register(
    "ext_bigram_surprisal",
    f"""WITH toks AS (
          SELECT doc_id, {_TOKS_SQL} AS t FROM documents
        ), pos AS (
          SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS p
          FROM toks
        ), pairs AS (
          SELECT a.doc_id, a.w AS w1, b.w AS w2
          FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
        ), bi AS (
          SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2
        ), uni AS (
          SELECT w AS w1, count(*) AS c1 FROM pos GROUP BY w
        ), totals AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni)
       SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
              round(avg(-ln((bi.c12 + 1.0) / (uni.c1 + totals.v))), 6)
                AS surprisal
       FROM pairs d JOIN bi USING (w1, w2) JOIN uni USING (w1)
            CROSS JOIN totals
       GROUP BY d.doc_id""",
    "conditional (bigram) perplexity proxy: mean -ln p(w2|w1) under the "
    "Laplace-smoothed corpus bigram LM — flags word-salad text whose "
    "words are common but whose transitions are improbable; LM = two "
    "map-side-combined counts, scoring = pair-key joins + one avg",
)
def ext_bigram_surprisal(spark, sf_dir):
    out = text_analysis.bigram_surprisal(
        t(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return out.select(
        "doc_id", "n_bigrams", F.round("surprisal", 6).alias("surprisal")
    )


def _alias_index(spark, sf_dir):
    """A two-member collection alias (documents split by doc_id parity
    into two artifacts — the time-partitioned-collections pattern):
    each slice is its own cached artifact, the alias facade re-wraps
    the cached handles."""
    from solr_map_reduce_spark.index_reader import MultiIndex

    schema = IndexSchema(
        fields=(
            Field("doc_id", "long", required=True),
            Field("text", "text_general"),
            Field("lang", "string"),
        ),
        unique_key="doc_id",
    )
    members = [
        _cached_index(
            spark, sf_dir, f"alias{part}", schema,
            lambda part=part: (
                t(spark, sf_dir, "documents")
                .select("doc_id", "text", "lang")
                .filter(F.col("doc_id") % 2 == part)
            ),
            shards=2, dedup="none", routing="native", term_blooms=True,
        )
        for part in (0, 1)
    ]
    return MultiIndex(members)


@_register(
    "c9_alias_query",
    f"""SELECT doc_id FROM (SELECT doc_id, lang, {_TOKS_SQL} AS t FROM documents)
        WHERE list_contains(t, 'spark') AND NOT list_contains(t, 'shuffle')
          AND lang = 'en'""",
    "Solr collection-alias analog (MultiIndex over two time-slice "
    "artifacts): one boolean query fans out to each member's own "
    "Bloom-pruned compiled scan and unions — results identical to the "
    "unpartitioned collection (the alias contract)",
)
def c9_alias_query(spark, sf_dir):
    return (
        _alias_index(spark, sf_dir)
        .query("spark AND -shuffle AND lang:en")
        .select("doc_id")
    )


@_register(
    "c9_wildcard_general",
    f"""SELECT doc_id FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
        WHERE len(list_filter(t, x -> regexp_matches(x, '^s.ark$'))) > 0
           OR len(list_filter(t, x -> regexp_matches(x, '^sh.*le$'))) > 0""",
    "full Lucene WildcardQuery globs (s?ark, sh*le — ? one char, * any "
    "run, anywhere in the term) matched as anchored regexes over the "
    "stored tokens; the pure prefix/suffix/infix shapes keep their "
    "faster containment forms",
)
def c9_wildcard_general(spark, sf_dir):
    return (
        _docs_search_index(spark, sf_dir)
        .query("s?ark OR sh*le")
        .select("doc_id")
    )


@_register(
    "c9_boost_function",
    search.bm25_oracle_sql(
        ["spark", "vector", "merge"], k=10, exact_sum=True,
        boost_sql="CASE WHEN doc.lang = 'en' THEN 1.5 ELSE 1.0 END",
    ),
    "Solr edismax multiplicative function-query boost (boost=...): an "
    "arbitrary stored-field expression multiplied into the BM25 score "
    "AFTER the decimal-exact term sum — recency/popularity boosting "
    "without touching matching; same one-scan serving plan",
)
def c9_boost_function(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).bm25(
        ["spark", "vector", "merge"], k=10, exact_sum=True,
        boost_col=F.when(F.col("lang") == "en", F.lit(1.5)).otherwise(
            F.lit(1.0)
        ),
    )


@_register(
    "ext_geofilt",
    """WITH pts AS (
         SELECT event_id, event_type,
                ((user_id % 90) - 45 + value / 1000.0) AS lat,
                ((event_id % 360) - 180 + value / 500.0) AS lon
         FROM events)
       SELECT event_id,
              round(2 * 6371.0088 * asin(sqrt(
                pow(sin(radians(10 - lat) / 2), 2)
                + cos(radians(lat)) * cos(radians(10))
                  * pow(sin(radians(60 - lon) / 2), 2))), 4) AS dist_km
       FROM pts
       WHERE 2 * 6371.0088 * asin(sqrt(
               pow(sin(radians(10 - lat) / 2), 2)
               + cos(radians(lat)) * cos(radians(10))
                 * pow(sin(radians(60 - lon) / 2), 2))) <= 3000
         AND event_type = 'purchase'""",
    "Solr spatial distance: {!geofilt pt=10,60 d=3000} + the geodist() "
    "pseudo-field — haversine over the mean Earth radius as ONE codegen "
    "expression (filter, sort key, or returned column); no geo library, "
    "the oracle mirrors the same trigonometry",
)
def ext_geofilt(spark, sf_dir):
    from solr_map_reduce_spark.schema import geo_distance_km, within_radius

    located = t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.struct(
            ((F.col("user_id") % 90) - 45 + F.col("value") / 1000.0).alias("lat"),
            ((F.col("event_id") % 360) - 180 + F.col("value") / 500.0).alias("lon"),
        ).alias("loc"),
    )
    return (
        located.filter(
            within_radius("loc", 10, 60, 3000)
            & (F.col("event_type") == "purchase")
        )
        .select(
            "event_id",
            F.round(geo_distance_km("loc", 10, 60), 4).alias("dist_km"),
        )
    )


@_register(
    "c9_term_vectors",
    f"""SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
              WHERE doc_id IN (3, 7, 11))
        GROUP BY doc_id, term""",
    "Solr TermVectorComponent (tv): per-document term frequencies for "
    "requested docs, served from the STORED token arrays of segment-"
    "pruned point lookups — request-sized explode, never corpus-sized",
)
def c9_term_vectors(spark, sf_dir):
    return _docs_search_index(spark, sf_dir).term_vectors([3, 7, 11])


@_register(
    "c6_atomic_inc",
    """SELECT doc_id,
              CAST(n_chars + CASE WHEN doc_id % 7 = 0 THEN 100 ELSE 0 END
                   AS BIGINT) AS n_chars
       FROM documents""",
    "Solr atomic-update inc operation (update_fields ops={'inc'}): the "
    "stored numeric gains the delta for matched docs only, through the "
    "same O(touched-shards) rewrite as set — the oracle applies the "
    "increment as arithmetic, so a doc inc'd twice, missed, or reset "
    "breaks the value hash",
)
def c6_atomic_inc(spark, sf_dir):
    import tempfile

    from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig, read_index

    schema = IndexSchema(
        fields=(Field("id", "string", required=True), Field("n_chars", "long")),
        unique_key="id",
    )
    docs = t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("id"), "n_chars"
    )
    out = tempfile.mkdtemp(prefix="smrs_inc_") + "/idx"
    job = IndexJob(
        IndexJobConfig(schema=schema, shards=4, dedup="none", routing="native")
    )
    job.build(docs, out)
    upd = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").cast("string").alias("id"),
        F.lit(100).cast("long").alias("n_chars"),
    )
    job.update_fields(upd, out, ops={"n_chars": "inc"})
    return read_index(spark, out).select(
        F.col("id").cast("long").alias("doc_id"), "n_chars"
    )


# -- Solr streaming expressions (the /stream DSL) ----------------------
# The expression string compiles to the SAME Catalyst plan the native
# API produces (extensions/stream_expr.py): hashJoin's hashed side is a
# broadcast, rollup is a partial-agg shuffle, search() over the docs
# artifact is the Bloom-pruned compiled scan.


def _stream_compiler(spark, sf_dir):
    from solr_map_reduce_spark.extensions.stream_expr import StreamCompiler

    return StreamCompiler({
        "documents": _docs_search_index(spark, sf_dir),
        "orders": t(spark, sf_dir, "orders"),
        "customer": t(spark, sf_dir, "customer"),
        "lineitem": t(spark, sf_dir, "lineitem"),
    })


@_register(
    "ext_stream_rollup",
    """SELECT lang,
              count(*) AS "count(*)",
              CAST(sum(n_chars) AS BIGINT) AS "sum(n_chars)",
              avg(n_chars) AS "avg(n_chars)"
       FROM documents GROUP BY lang""",
    "Solr streaming expression rollup(search(...), over=lang, count(*), "
    "sum, avg): the DSL string compiles to one groupBy/agg over the "
    "artifact scan — Solr's sorted-stream single pass becomes Spark's "
    "partial-agg shuffle, same tuples",
)
def ext_stream_rollup(spark, sf_dir):
    return _stream_compiler(spark, sf_dir).run(
        'rollup(search(documents, q="*:*", fl="lang,n_chars", '
        'sort="lang asc"), over=lang, count(*), sum(n_chars), '
        "avg(n_chars))"
    )


@_register(
    "ext_stream_hashjoin",
    """SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, c.c_name
       FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       ORDER BY o.o_totalprice DESC, o.o_orderkey ASC LIMIT 10""",
    "Solr streaming expression top(hashJoin(search(orders), "
    "hashed=search(customer), on=...)): the hashed side — Solr's "
    "fits-in-memory side — is literally Spark's broadcast hint; top is "
    "TakeOrdered",
)
def ext_stream_hashjoin(spark, sf_dir):
    return _stream_compiler(spark, sf_dir).run(
        'top(hashJoin(search(orders, fl="o_orderkey,o_custkey,'
        'o_totalprice"), hashed=search(customer, fl="c_custkey,c_name"), '
        'on="o_custkey=c_custkey"), n=10, '
        'sort="o_totalprice desc, o_orderkey asc")'
    )


@_register(
    "ext_stream_facet_limit",
    """SELECT lang, count(*) AS "count(*)" FROM documents
       GROUP BY lang ORDER BY count(*) DESC, lang ASC LIMIT 3""",
    "Solr streaming expression facet(..., bucketSizeLimit=3) WITHOUT "
    "bucketSorts: Solr's documented default count(*) desc applies "
    "(bucket keys asc tiebreak), so the truncation is ordered and "
    "deterministic — never an arbitrary subset of an unordered agg",
)
def ext_stream_facet_limit(spark, sf_dir):
    return _stream_compiler(spark, sf_dir).run(
        'facet(documents, buckets="lang", count(*), bucketSizeLimit=3)'
    )


@_register(
    "ext_stream_having",
    f"""SELECT lang, count(*) AS "count(*)", avg(n_chars) AS "avg(n_chars)"
        FROM (SELECT doc_id, lang, n_chars, {_TOKS_SQL} AS tk FROM documents)
        WHERE list_contains(tk, 'spark')
        GROUP BY lang HAVING count(*) > 5""",
    "Solr streaming expression having(facet(documents, q=spark, "
    "buckets=lang, ...), gt(count(*), 5)): the q= rides the artifact's "
    "Bloom-pruned compiled scan; having is a filter over the agg",
)
def ext_stream_having(spark, sf_dir):
    return _stream_compiler(spark, sf_dir).run(
        'having(facet(documents, q="spark", buckets="lang", count(*), '
        "avg(n_chars)), gt(count(*), 5))"
    )


@_register(
    "ext_stream_timeseries",
    """SELECT date_trunc('day', ts) AS ts,
              count(*) AS "count(*)", avg(value) AS "avg(value)"
       FROM events
       WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
         AND ts <  TIMESTAMP '2024-01-20 00:00:00'
       GROUP BY 1""",
    "Solr streaming expression timeseries(events, field=ts, gap=+1DAY): "
    "date_trunc bucket + one map-side-combined aggregate over the "
    "start/end-pruned scan — the same shape as facet.range",
)
def ext_stream_timeseries(spark, sf_dir):
    comp = _stream_compiler_events(spark, sf_dir)
    return comp.run(
        'timeseries(events, field=ts, gap="+1DAY", '
        'start="2024-01-10 00:00:00", end="2024-01-20 00:00:00", '
        "count(*), avg(value))"
    )


@_register(
    "ext_stream_timeseries_gap",
    """SELECT TIMESTAMP '2024-01-10 00:00:00'
              + to_hours(6 * CAST(floor((epoch(ts) - epoch(TIMESTAMP '2024-01-10 00:00:00')) / 21600) AS BIGINT)) AS ts,
              count(*) AS "count(*)", avg(value) AS "avg(value)"
       FROM events
       WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
         AND ts <  TIMESTAMP '2024-01-31 00:00:00'
       GROUP BY 1""",
    "Solr streaming expression timeseries(..., gap=+6HOURS, "
    "start=NOW-21DAYS/DAY, end=NOW/DAY, now=...): multi-unit buckets "
    "anchored at start via epoch arithmetic (timezone-independent by "
    "construction), date-math bounds resolved against the pinned NOW= "
    "request param — one boundary-pruned scan + groupBy",
)
def ext_stream_timeseries_gap(spark, sf_dir):
    comp = _stream_compiler_events(spark, sf_dir)
    return comp.run(
        'timeseries(events, field=ts, gap="+6HOURS", '
        'start="NOW-21DAYS/DAY", end="NOW/DAY", '
        'now="2024-01-31T12:00:00Z", count(*), avg(value))'
    )


@_register(
    "ext_stream_complement",
    """SELECT c_custkey, c_name FROM customer
       WHERE c_custkey NOT IN (
         SELECT o_custkey FROM orders WHERE o_totalprice > 400000
       )""",
    "Solr streaming expression complement(search(customer), "
    "top(search(orders)...), on=...): customers with no high-value "
    "order — a left-anti join, the set-difference the DSL's "
    "sorted-stream complement computes (the inner stream is itself a "
    "composed expression)",
)
def ext_stream_complement(spark, sf_dir):
    from solr_map_reduce_spark.extensions.stream_expr import StreamCompiler

    big = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    comp = StreamCompiler({
        "customer": t(spark, sf_dir, "customer"),
        "big_orders": big,
    })
    return comp.run(
        'complement(search(customer, fl="c_custkey,c_name"), '
        'search(big_orders, fl="o_custkey"), on="c_custkey=o_custkey")'
    )


@_register(
    "ext_stream_select_eval",
    """SELECT o_orderkey,
              CASE WHEN o_totalprice > 300000
                   THEN o_totalprice / 1000 ELSE 0.0 END AS bucket_k
       FROM orders
       ORDER BY bucket_k DESC, o_orderkey ASC LIMIT 10""",
    "Solr streaming-expression select EVALUATORS (add/sub/mult/div/mod/"
    "if/eq/gt/...): computed tuple fields compile to Column expressions "
    "inside the same scan — if(gt(price,300000), div(price,1000), 0) "
    "as bucket_k, then top",
)
def ext_stream_select_eval(spark, sf_dir):
    return _stream_compiler(spark, sf_dir).run(
        'top(select(search(orders, fl="o_orderkey,o_totalprice"), '
        "o_orderkey, if(gt(o_totalprice, 300000), "
        'div(o_totalprice, 1000), 0) as bucket_k), n=10, '
        'sort="bucket_k desc, o_orderkey asc")'
    )


@_register(
    "ext_stream_sigterms",
    f"""WITH toks AS (
          SELECT doc_id, lang, {_TOKS_SQL} AS t FROM documents
        ),
        fgdocs AS (SELECT doc_id, t FROM toks WHERE lang = 'de'),
        fg AS (
          SELECT term, CAST(count(*) AS BIGINT) AS foreground
          FROM (SELECT doc_id, unnest(list_distinct(t)) AS term FROM fgdocs)
          GROUP BY term
        ),
        bg AS (
          SELECT term, CAST(count(*) AS BIGINT) AS background
          FROM (SELECT doc_id, unnest(list_distinct(t)) AS term FROM toks)
          GROUP BY term
        ),
        tot AS (
          SELECT CAST((SELECT count(*) FROM fgdocs) AS DOUBLE) AS fgn,
                 CAST((SELECT count(*) FROM toks) AS DOUBLE) AS n
        )
       SELECT term, foreground, background,
              round((foreground / fgn) / (background / n)
                    * ln(1.0 + foreground), 6) AS score
       FROM fg JOIN bg USING (term) CROSS JOIN tot
       WHERE background >= 5
       ORDER BY (foreground / fgn) / (background / n) * ln(1.0 + foreground)
                DESC, term LIMIT 10""",
    "Solr significantTerms stream source: terms over-represented in the "
    "q=lang:de foreground vs the collection — foreground counts from one "
    "explode/groupBy over the pruned scan, background dfs straight from "
    "the stored term-dictionary sidecar (no second corpus pass), scored "
    "by lift * ln(1+fg)",
)
def ext_stream_sigterms(spark, sf_dir):
    out = _stream_compiler(spark, sf_dir).run(
        'significantTerms(documents, q="lang:de", limit=10, minDocFreq=5)'
    )
    return out.select(
        "term", "foreground", "background",
        F.round("score", 6).alias("score"),
    )


@_register(
    "ext_stream_nodes",
    """WITH cust AS (SELECT c_custkey FROM customer WHERE c_nationkey = 1),
        ords AS (
          SELECT DISTINCT o_orderkey FROM orders
          WHERE o_custkey IN (SELECT c_custkey FROM cust)
        )
       SELECT l_partkey AS node, CAST(count(*) AS BIGINT) AS "count(*)"
       FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM ords)
       GROUP BY 1""",
    "Solr graph expression nodes() nested two hops deep: nation-1 "
    "customers -> their orders -> parts on those orders, with a count "
    "aggregation on the final gather — each hop is a frontier semi-join "
    "AQE broadcasts, per-hop cost scales with the frontier not the "
    "collection",
)
def ext_stream_nodes(spark, sf_dir):
    return _stream_compiler(spark, sf_dir).run(
        'nodes(lineitem, nodes(orders, having(search(customer, '
        'fl="c_custkey,c_nationkey"), eq(c_nationkey, 1)), '
        'walk="c_custkey->o_custkey", gather="o_orderkey"), '
        'walk="node->l_orderkey", gather="l_partkey", count(*))'
    )


@_register(
    "ext_stream_drill",
    """SELECT lang, source, count(*) AS "count(*)",
              CAST(sum(n_chars) AS BIGINT) AS "sum(n_chars)"
       FROM documents WHERE lang IN ('en','de','fr')
       GROUP BY lang, source""",
    "Solr 8 drill(): pushed-down aggregation — input() binds to the "
    "Bloom-pruned collection scan, the inner rollup() compiles to the "
    "partial-agg + final-agg shuffle drill hand-builds shard-side in "
    "Solr (map-side combine by construction)",
)
def ext_stream_drill(spark, sf_dir):
    out = _stream_compiler(spark, sf_dir).run(
        'drill(documents, q="lang:(en OR de OR fr)", '
        'fl="doc_id,lang,source,n_chars", '
        "rollup(input(), over=\"lang,source\", count(*), sum(n_chars)))"
    )
    return out


@_register(
    "ext_math_describe",
    """SELECT CAST(count(*) AS DOUBLE) AS n,
              round(avg(n_chars), 6) AS mean,
              round(stddev_samp(n_chars), 6) AS std,
              round(quantile_cont(n_chars, 0.50), 6) AS p50,
              round(quantile_cont(n_chars, 0.95), 6) AS p95
       FROM documents""",
    "Solr math expressions let(a=search(...), b=col(a, f), tuple(...)): "
    "the driver-side in-memory numeric tier (Solr's own execution "
    "model) — col() collects ONE column under a hard max-values guard, "
    "numpy evaluators (sample moments, linear-interpolation "
    "percentiles); corpus-scale stats belong to the distributed "
    "stats()/rollup() decorators",
)
def ext_math_describe(spark, sf_dir):
    out = _stream_compiler(spark, sf_dir).run(
        'let(a=search(documents, fl="n_chars"), b=col(a, n_chars), '
        "tuple(n=length(b), mean=mean(b), std=stddev(b), "
        "p50=percentile(b, 50), p95=percentile(b, 95)))"
    )
    return out.select(
        "n",
        F.round("mean", 6).alias("mean"),
        F.round("std", 6).alias("std"),
        F.round("p50", 6).alias("p50"),
        F.round("p95", 6).alias("p95"),
    )


@_register(
    "ext_math_regress",
    """SELECT round(corr(l_quantity, l_extendedprice), 6) AS c,
              round(regr_slope(l_extendedprice, l_quantity), 6) AS sl,
              round(regr_intercept(l_extendedprice, l_quantity), 6) AS ic
       FROM lineitem""",
    "Solr math expressions regression: corr/slope/intercept over two "
    "col() pulls — OLS y~x via sample moments (regr_slope parity: "
    "covar_samp/var_samp == covar_pop/var_pop)",
)
def ext_math_regress(spark, sf_dir):
    out = _stream_compiler(spark, sf_dir).run(
        'let(a=search(lineitem), x=col(a, l_quantity), '
        "y=col(a, l_extendedprice), "
        "tuple(c=corr(x, y), sl=slope(x, y), ic=intercept(x, y)))"
    )
    return out.select(
        F.round("c", 6).alias("c"),
        F.round("sl", 6).alias("sl"),
        F.round("ic", 6).alias("ic"),
    )


@_register(
    "ext_score_nodes",
    """WITH cust AS (SELECT c_custkey FROM customer WHERE c_nationkey = 1),
        ords AS (
          SELECT DISTINCT o_orderkey FROM orders
          WHERE o_custkey IN (SELECT c_custkey FROM cust)
        ),
        gathered AS (
          SELECT l_partkey AS node, count(*) AS cnt
          FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM ords)
          GROUP BY 1
        ),
        nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM lineitem),
        dfq AS (SELECT l_partkey, count(*) AS dfreq FROM lineitem GROUP BY 1)
       SELECT g.node, CAST(g.cnt AS BIGINT) AS "count(*)",
              CAST(d.dfreq AS BIGINT) AS "docFreq",
              round(g.cnt * ln((nd.n + 1) / (d.dfreq + 1)), 6) AS "nodeScore"
       FROM gathered g JOIN dfq d ON d.l_partkey = g.node, nd""",
    "Solr scoreNodes(): tf-idf relevance over gathered graph nodes — "
    "count * ln((numDocs+1)/(docFreq+1)); docFreq from ONE groupBy over "
    "the collection restricted FIRST by a broadcast semi-join on the "
    "bounded node set, numDocs a metadata-only broadcast 1-row",
)
def ext_score_nodes(spark, sf_dir):
    out = _stream_compiler(spark, sf_dir).run(
        'scoreNodes(nodes(lineitem, nodes(orders, having(search(customer, '
        'fl="c_custkey,c_nationkey"), eq(c_nationkey, 1)), '
        'walk="c_custkey->o_custkey", gather="o_orderkey"), '
        'walk="node->l_orderkey", gather="l_partkey", count(*)))'
    )
    return out.select(
        "node", "count(*)", "docFreq",
        F.round("nodeScore", 6).alias("nodeScore"),
    )


@_register(
    "ext_stream_shortest_path",
    """WITH RECURSIVE edges AS (
          SELECT 'c' || CAST(c_custkey AS VARCHAR) AS f,
                 'n' || CAST(c_nationkey AS VARCHAR) AS t FROM customer
          UNION ALL
          SELECT 'n' || CAST(s_nationkey AS VARCHAR),
                 's' || CAST(s_suppkey AS VARCHAR) FROM supplier
        ),
        walk AS (
          SELECT 'c1' AS node, ['c1'] AS path, 0 AS d
          UNION ALL
          SELECT e.t, list_append(w.path, e.t), w.d + 1
          FROM walk w JOIN edges e ON e.f = w.node
          WHERE w.d < 4 AND NOT list_contains(w.path, e.t)
            AND w.node <> 's11'
        ),
        hit AS (SELECT path, d FROM walk WHERE node = 's11'),
        best AS (SELECT min(d) AS md FROM hit)
       SELECT array_to_string(path, '->') AS path FROM hit, best
       WHERE d = md""",
    "Solr graph shortestPath() over a bipartite customer->nation->"
    "supplier edge set: level-synchronous BFS, one distributed "
    "frontier-x-edges join per level (cycle-pruned, lineage-cut), "
    "mirrored by a DuckDB recursive CTE — c1 reaches s11 through their "
    "shared nation in exactly 2 hops",
)
def ext_stream_shortest_path(spark, sf_dir):
    from solr_map_reduce_spark.extensions.stream_expr import StreamCompiler

    c = t(spark, sf_dir, "customer").select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("from_id"),
        F.concat(F.lit("n"), F.col("c_nationkey")).alias("to_id"),
    )
    s = t(spark, sf_dir, "supplier").select(
        F.concat(F.lit("n"), F.col("s_nationkey")).alias("from_id"),
        F.concat(F.lit("s"), F.col("s_suppkey")).alias("to_id"),
    )
    comp = StreamCompiler({"graph": c.unionByName(s)})
    out = comp.run(
        'shortestPath(graph, from="c1", to="s11", edge="from_id=to_id", '
        "maxDepth=4)"
    )
    return out.select(F.array_join("path", "->").alias("path"))


@_register(
    "ext_topic_pull",
    """SELECT doc_id FROM documents WHERE doc_id % 5 = 0""",
    "Solr TopicStream analog: checkpointed incremental pull over a "
    "doc_versions artifact — after the first pull commits, a merge of "
    "the doc_id%5==0 batch re-delivers EXACTLY those docs (replaced "
    "evens bump their _version_, odd multiples of 5 are new); the "
    "version filter is one pushed parquet predicate",
)
def ext_topic_pull(spark, sf_dir):
    import os
    import tempfile

    from solr_map_reduce_spark.index_reader import Topic
    from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig

    schema = IndexSchema(
        fields=(Field("doc_id", "long", required=True),
                Field("text", "text_general"),
                Field("lang", "string")),
        unique_key="doc_id",
    )
    docs = t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    base = tempfile.mkdtemp(prefix="smrs_topic_")
    path = os.path.join(base, "idx")
    job = IndexJob(
        IndexJobConfig(schema=schema, shards=2, dedup="none",
                       doc_versions=True)
    )
    job.build(docs.filter(F.col("doc_id") % 2 == 0), path)
    topic = Topic(spark, path, os.path.join(base, "ckpt.json"))
    _first, wm = topic.pull()
    topic.commit(wm)
    job.merge_into(docs.filter(F.col("doc_id") % 5 == 0), path)
    batch, _wm2 = topic.pull()
    return batch.select("doc_id")


@_register(
    "ext_stream_fetch",
    """WITH topo AS (
         SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
       )
       SELECT t.o_orderkey, t.o_custkey, t.o_totalprice, c.c_name
       FROM topo t LEFT JOIN customer c ON t.o_custkey = c.c_custkey""",
    "Solr streaming expression fetch(customer, top(search(orders)...), "
    "fl=c_name, on=...): enrich the bounded stream by key lookups — "
    "the stream's distinct keys broadcast into a left-semi join that "
    "restricts the collection BEFORE the enrichment join (the r9 "
    "sidedness fix, plan-asserted in tests)",
)
def ext_stream_fetch(spark, sf_dir):
    return _stream_compiler(spark, sf_dir).run(
        'fetch(customer, top(search(orders, fl="o_orderkey,o_custkey,'
        'o_totalprice"), n=10, sort="o_totalprice desc, o_orderkey asc"), '
        'fl="c_name", on="o_custkey=c_custkey")'
    )


@_register(
    "ext_stream_unique",
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
         SELECT o_custkey, o_orderkey, o_totalprice,
                row_number() OVER (
                  PARTITION BY o_custkey ORDER BY o_orderkey ASC
                ) AS rn
         FROM orders WHERE o_custkey < 500
       ) WHERE rn = 1""",
    "Solr streaming expression unique(search(orders, sort=...), "
    "over=o_custkey): first tuple per key in the stream's sort order — "
    "the sorted-stream contract made explicit as a row_number window",
)
def ext_stream_unique(spark, sf_dir):
    from solr_map_reduce_spark.extensions.stream_expr import StreamCompiler

    comp = StreamCompiler({
        "o_small": t(spark, sf_dir, "orders").filter(
            F.col("o_custkey") < 500),
    })
    return comp.run(
        'unique(search(o_small, fl="o_custkey,o_orderkey,o_totalprice", '
        'sort="o_custkey asc, o_orderkey asc"), over="o_custkey")'
    )


@_register(
    "ext_stream_merge",
    """SELECT o_orderkey AS okey FROM orders WHERE o_orderkey < 2000
       UNION ALL
       SELECT l_orderkey FROM lineitem WHERE l_orderkey < 2000""",
    "Solr streaming expression merge(select(search(a), ... as okey), "
    "select(search(b), ... as okey), on=okey): same-schema streams "
    "union under the merge sort order (Solr's merging contract; the "
    "driver's compare is order-insensitive); bounded key windows keep "
    "the gate's hash set small",
)
def ext_stream_merge(spark, sf_dir):
    from solr_map_reduce_spark.extensions.stream_expr import StreamCompiler

    comp = StreamCompiler({
        "o_small": t(spark, sf_dir, "orders").filter(
            F.col("o_orderkey") < 2000),
        "l_small": t(spark, sf_dir, "lineitem").filter(
            F.col("l_orderkey") < 2000),
    })
    return comp.run(
        'merge(select(search(o_small), o_orderkey as okey), '
        'select(search(l_small), l_orderkey as okey), on="okey asc")'
    )


@_register(
    "ext_stream_list",
    """SELECT o_orderkey AS okey, 'o' AS src
       FROM orders WHERE o_orderkey < 1000
       UNION ALL
       SELECT l_orderkey, 'l' FROM lineitem WHERE l_orderkey < 1000""",
    "Solr streaming expression list(streamA, streamB): every wrapped "
    "stream's tuples under the open tuple model — unionByName (plist "
    "is the SAME plan: Spark runs the inputs in parallel either way; "
    "mismatched-schema null-filling is unit-tested — the gate keeps "
    "columns null-free so the value hash stays comparator-neutral)",
)
def ext_stream_list(spark, sf_dir):
    from solr_map_reduce_spark.extensions.stream_expr import StreamCompiler

    comp = StreamCompiler({
        "o_small": t(spark, sf_dir, "orders").filter(
            F.col("o_orderkey") < 1000).withColumn("src", F.lit("o")),
        "l_small": t(spark, sf_dir, "lineitem").filter(
            F.col("l_orderkey") < 1000).withColumn("src", F.lit("l")),
    })
    return comp.run(
        'list(select(search(o_small), o_orderkey as okey, src), '
        'select(search(l_small), l_orderkey as okey, src))'
    )


@_register(
    "ext_stream_null",
    """SELECT count(*) AS nullCount FROM lineitem WHERE l_quantity >= 30""",
    "Solr streaming expression null(stream): consume the stream and "
    "emit ONE {nullCount} tuple — the throughput-test sink; the count "
    "aggregate executes the full upstream plan distributed, nothing "
    "collected",
)
def ext_stream_null(spark, sf_dir):
    from solr_map_reduce_spark.extensions.stream_expr import StreamCompiler

    comp = StreamCompiler({
        "li_q": t(spark, sf_dir, "lineitem").filter(
            F.col("l_quantity") >= 30),
    })
    return comp.run("null(search(li_q))")


@_register(
    "ext_stream_rollup_metrics",
    """SELECT l_returnflag,
              count(*) AS "count(*)",
              count(DISTINCT l_orderkey) AS "countDist(l_orderkey)",
              stddev_samp(l_quantity) AS "std(l_quantity)",
              quantile_cont(l_quantity, 0.5) AS "per(l_quantity,50)"
       FROM lineitem GROUP BY l_returnflag""",
    "Solr rollup() with the FULL metric set — count(*)/countDist/std/"
    "per: countDist is exact, std is sample stddev (Solr's "
    "definition), per is the exact linear-interpolation percentile "
    "(Solr itself serves a t-digest estimate of the same value); all "
    "but per are algebraic map-side partials in one groupBy",
)
def ext_stream_rollup_metrics(spark, sf_dir):
    from solr_map_reduce_spark.extensions.stream_expr import StreamCompiler

    comp = StreamCompiler({"li": t(spark, sf_dir, "lineitem")})
    return comp.run(
        'rollup(search(li, fl="l_returnflag,l_quantity,l_orderkey"), '
        "over=l_returnflag, count(*), countDist(l_orderkey), "
        "std(l_quantity), per(l_quantity, 50))"
    )


@_register(
    "ext_stream_intersect",
    """SELECT c_custkey, c_name FROM customer
       WHERE c_custkey IN (
         SELECT o_custkey FROM orders WHERE o_totalprice > 400000
       )""",
    "Solr streaming expression intersect(search(customer), "
    "search(big_orders), on=...): LEFT tuples whose key appears in "
    "RIGHT — a left-semi join, right columns never materialize",
)
def ext_stream_intersect(spark, sf_dir):
    from solr_map_reduce_spark.extensions.stream_expr import StreamCompiler

    big = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    comp = StreamCompiler({
        "customer": t(spark, sf_dir, "customer"),
        "big_orders": big,
    })
    return comp.run(
        'intersect(search(customer, fl="c_custkey,c_name"), '
        'search(big_orders, fl="o_custkey"), on="c_custkey=o_custkey")'
    )


@_register(
    "ext_stream_stats",
    """SELECT count(*) AS "count(*)",
              min(l_extendedprice) AS "min(l_extendedprice)",
              max(l_extendedprice) AS "max(l_extendedprice)"
       FROM lineitem""",
    "Solr streaming expression stats(lineitem, count(*), min, max): "
    "one global map-side-combined aggregate row (order-independent "
    "metrics only — double sums go through the decimal-exact entries)",
)
def ext_stream_stats(spark, sf_dir):
    return _stream_compiler(spark, sf_dir).run(
        "stats(lineitem, count(*), min(l_extendedprice), "
        "max(l_extendedprice))"
    )


@_register(
    "ext_stream_cartesian",
    """SELECT o_orderkey,
              unnest(generate_series(1, o_orderkey % 3 + 1)) AS ks
       FROM orders WHERE o_orderkey < 1000""",
    "Solr streaming expression cartesianProduct(search(...), ks): one "
    "output tuple per VALUE of a multi-valued field — explode_outer, "
    "the array built deterministically via sequence()",
)
def ext_stream_cartesian(spark, sf_dir):
    from solr_map_reduce_spark.extensions.stream_expr import StreamCompiler

    src = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 1000)
        .select(
            "o_orderkey",
            F.sequence(F.lit(1).cast("long"),
                       F.col("o_orderkey") % 3 + 1).alias("ks"),
        )
    )
    comp = StreamCompiler({"src": src})
    return comp.run("cartesianProduct(search(src), ks)")


@_register(
    "ext_stream_facet2d",
    """WITH cell AS (
         SELECT lang, source, count(*) AS "count(*)"
         FROM documents GROUP BY lang, source
       ), topx AS (
         SELECT lang FROM (
           SELECT lang, sum("count(*)") AS xc FROM cell GROUP BY lang
         ) ORDER BY xc DESC, lang LIMIT 3
       ), ranked AS (
         SELECT c.lang, c.source, c."count(*)",
                row_number() OVER (
                  PARTITION BY c.lang
                  ORDER BY c."count(*)" DESC, c.source ASC
                ) AS rn
         FROM cell c JOIN topx USING (lang)
       )
       SELECT lang, source, "count(*)" FROM ranked WHERE rn <= 2""",
    "Solr streaming expression facet2D(documents, x=lang, y=source, "
    "dimensions=3,2): top-3 languages by count, top-2 sources within "
    "each — one corpus shuffle for the cell table, a tiny re-aggregate "
    "for the x ranking (broadcast back), a window for the per-x cut",
)
def ext_stream_facet2d(spark, sf_dir):
    return _stream_compiler(spark, sf_dir).run(
        'facet2D(documents, x="lang", y="source", dimensions="3,2", '
        "count(*))"
    )


@_register(
    "ext_stream_random",
    """SELECT o_orderkey FROM orders
       ORDER BY md5(concat_ws(chr(31), CAST(o_orderkey AS VARCHAR), '7'))
       LIMIT 20""",
    "Solr streaming expression random(orders, fl=o_orderkey, rows=20, "
    "seed=7): the engine's seeded variant orders by a keyed md5 "
    "scramble — deterministic, cross-engine reproducible (md5 is "
    "bit-identical everywhere), still one scan + TakeOrdered",
)
def ext_stream_random(spark, sf_dir):
    return _stream_compiler(spark, sf_dir).run(
        'random(orders, fl="o_orderkey", rows=20, seed=7)'
    )


@_register(
    "ext_stream_topic",
    """SELECT doc_id FROM documents WHERE doc_id % 5 = 0""",
    "Solr streaming expression daemon(update(dst, topic(...)))'s read "
    "side, expression-driven: topic() pulls docs whose _version_ "
    "exceeds the checkpoint (pushed parquet predicate), "
    "commit_topics() advances it, a merge re-delivers exactly the "
    "merged batch — CDC consumption from the /stream surface",
)
def ext_stream_topic(spark, sf_dir):
    import os
    import tempfile

    from solr_map_reduce_spark.extensions.stream_expr import StreamCompiler
    from solr_map_reduce_spark.index_reader import SearchIndex
    from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig

    schema = IndexSchema(
        fields=(Field("doc_id", "long", required=True),
                Field("text", "text_general"),
                Field("lang", "string")),
        unique_key="doc_id",
    )
    docs = t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    base = tempfile.mkdtemp(prefix="smrs_topic_dsl_")
    path = os.path.join(base, "idx")
    job = IndexJob(
        IndexJobConfig(schema=schema, shards=2, dedup="none",
                       doc_versions=True)
    )
    job.build(docs.filter(F.col("doc_id") % 2 == 0), path)

    def compiler():
        return StreamCompiler(
            {"src": SearchIndex.open(spark, path)},
            checkpoint_dir=base,
        )

    expr = 'topic(ckpts, src, id="cdc", fl="doc_id")'
    c1 = compiler()
    c1.run(expr).count()  # first pull: the whole artifact
    c1.commit_topics()
    job.merge_into(docs.filter(F.col("doc_id") % 5 == 0), path)
    return compiler().run(expr)


def _stream_compiler_events(spark, sf_dir):
    from solr_map_reduce_spark.extensions.stream_expr import StreamCompiler

    return StreamCompiler({"events": t(spark, sf_dir, "events")})


# ---------------------------------------------------------------------------
# Solr Parallel SQL (the /sql handler dialect) — extensions/sql.py.  For the
# pure-relational entries the STATEMENT ITSELF is the DuckDB oracle (one
# string, two engines); the full-text entry mirrors the analyzed predicate
# with the token-split the other c9 text oracles use.
# ---------------------------------------------------------------------------

# {!graph} reachability artifact: documents as a binary tree (parent =
# doc_id // 2) — build-once per sf like the other artifacts
def _tree_docs_index(spark, sf_dir):
    schema = IndexSchema(
        fields=(Field("doc_id", "long", required=True),
                Field("parent", "long"),
                Field("lang", "string")),
        unique_key="doc_id",
    )
    return _cached_index(
        spark, sf_dir, "treedocs", schema,
        lambda: t(spark, sf_dir, "documents").select(
            "doc_id",
            F.when(F.col("doc_id") >= 2, F.col("doc_id") / 2)
            .cast("long").alias("parent"),
            "lang",
        ),
        shards=4, micro_shards=8, dedup="none",
    )


@_register(
    "c9_graph_query",
    """WITH RECURSIVE walk AS (
         SELECT doc_id, 0 AS d FROM documents WHERE doc_id = 3
         UNION ALL
         SELECT c.doc_id, w.d + 1
         FROM documents c JOIN walk w ON c.doc_id // 2 = w.doc_id
         WHERE c.doc_id >= 2 AND w.d < 3
       )
       SELECT DISTINCT w.doc_id, d.lang
       FROM walk w JOIN documents d USING (doc_id)""",
    "Solr {!graph from=doc_id to=parent maxDepth=3}doc_id:3 — breadth-"
    "first reachability over a parent-link tree: per hop ONE equi "
    "semi-join of the once-normalized edge projection against the "
    "frontier's distinct values (AQE broadcasts small frontiers), "
    "visited set anti-joined (cycle-safe), lineage cut per level",
)
def c9_graph_query(spark, sf_dir):
    return _tree_docs_index(spark, sf_dir).search(
        q="{!graph from=doc_id to=parent maxDepth=3}doc_id:3",
        select=["doc_id", "lang"],
    )


_SQL_AGG_STMT = (
    "SELECT lang, count(*) AS cnt, sum(n_chars) AS chars FROM documents "
    "GROUP BY lang HAVING count(*) > 10 ORDER BY cnt DESC, lang LIMIT 5"
)


@_register(
    "ext_sql_agg",
    # the statement runs verbatim on DuckDB; the wrapper only folds
    # DuckDB's sum(BIGINT) -> HUGEINT widening back to Spark's long
    f"SELECT lang, cnt, CAST(chars AS BIGINT) AS chars "
    f"FROM ({_SQL_AGG_STMT})",
    "Solr Parallel SQL: GROUP BY + HAVING + ORDER BY aggregate over a "
    "collection — compiles to ONE partial-agg shuffle + TakeOrdered; the "
    "statement string itself is the oracle (same SQL, two engines)",
)
def ext_sql_agg(spark, sf_dir):
    from solr_map_reduce_spark.extensions.sql import SqlEngine

    return SqlEngine({"documents": t(spark, sf_dir, "documents")}).sql(
        _SQL_AGG_STMT
    )


_SQL_SELECT_STMT = (
    "SELECT doc_id, lang, n_chars FROM documents "
    "WHERE n_chars BETWEEN 300 AND 600 AND lang IN ('en', 'de') "
    "ORDER BY n_chars DESC, doc_id LIMIT 20 OFFSET 5"
)


@_register(
    "ext_sql_select",
    _SQL_SELECT_STMT,
    "Solr Parallel SQL: WHERE IN/BETWEEN + ORDER BY + LIMIT/OFFSET "
    "paging — pushed parquet filters, TakeOrdered, deterministic pages "
    "(unique-key tiebreak in the statement); statement doubles as oracle",
)
def ext_sql_select(spark, sf_dir):
    from solr_map_reduce_spark.extensions.sql import SqlEngine

    return SqlEngine({"documents": t(spark, sf_dir, "documents")}).sql(
        _SQL_SELECT_STMT
    )


@_register(
    "ext_sql_text",
    f"""SELECT doc_id, lang FROM (
          SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents)
        WHERE list_contains(toks, 'vector') AND lang <> 'fr'
        ORDER BY doc_id LIMIT 50""",
    "Solr Parallel SQL full-text predicate: equality on an ANALYZED "
    "field is a term/phrase match (Solr's documented /sql mapping) — "
    "compiles through the engine's query parser onto the Bloom-pruned "
    "artifact scan; mixed with a plain column predicate in one "
    "conjunction",
)
def ext_sql_text(spark, sf_dir):
    from solr_map_reduce_spark.extensions.sql import SqlEngine

    return SqlEngine({"docs": _docs_search_index(spark, sf_dir)}).sql(
        "SELECT doc_id, lang FROM docs WHERE text = 'vector' AND "
        "lang <> 'fr' ORDER BY doc_id LIMIT 50"
    )


# ---------------------------------------------------------------------------
# Text-classification tier (Solr features()/train()/classify() — the
# /stream ML surface, doubling as the LLM-pipeline quality classifier).
# Formulas pinned in extensions/text_ml.py; the oracles mirror them over
# the same regex-split tokens the other c9 text oracles use.
# ---------------------------------------------------------------------------

# the CASE-heavy entropy mirror of extensions/text_ml.py's pinned
# IG(t) = H(C) - H(C|t), 0·log0 = 0, natural log
_IG_H = (
    "(CASE WHEN {p} > 0 THEN -({p})*ln({p}) ELSE 0 END"
    " + CASE WHEN 1-({p}) > 0 THEN -(1-({p}))*ln(1-({p})) ELSE 0 END)"
)


@_register(
    "ext_features_ig",
    f"""WITH pairs AS (
          SELECT doc_id, CAST(lang = 'en' AS INT) AS y,
                 unnest(list_distinct({_TOKS_SQL})) AS term
          FROM documents),
        tot AS (
          SELECT CAST(count(*) AS DOUBLE) AS n,
                 CAST(sum(CASE WHEN lang='en' THEN 1 ELSE 0 END)
                      AS DOUBLE) AS p
          FROM documents),
        pt AS (
          SELECT term, CAST(count(*) AS DOUBLE) AS dft,
                 CAST(sum(y) AS DOUBLE) AS post
          FROM pairs GROUP BY term),
        scored AS (
          SELECT term,
            {_IG_H.format(p="p/n")}
            - ( (dft/n) * {_IG_H.format(p="post/dft")}
              + CASE WHEN n-dft > 0 THEN
                  ((n-dft)/n) * {_IG_H.format(p="(p-post)/(n-dft)")}
                ELSE 0 END ) AS ig,
            ln((n+1)/(dft+1)) AS idf, dft, post
          FROM pt, tot)
        SELECT term,
               CAST(row_number() OVER
                 (ORDER BY round(ig,10) DESC, term ASC) - 1 AS INT)
                 AS index,
               round(round(ig, 10), 6) AS score,
               round(round(idf, 10), 6) AS idf,
               CAST(dft AS BIGINT) AS df, CAST(post AS BIGINT) AS pos_df
        FROM scored
        ORDER BY round(ig,10) DESC, term ASC LIMIT 10""",
    "Solr features(): information-gain term selection for predicting "
    "lang='en' — one map-side-combined groupBy(term) (shuffle bounded "
    "by the vocabulary) + a broadcast 1-row totals aggregate, "
    "TakeOrdered top-N, index over the bounded result only",
)
def ext_features_ig(spark, sf_dir):
    from solr_map_reduce_spark.extensions import text_ml

    idx = _docs_search_index(spark, sf_dir)
    f_ = text_ml.select_features(
        idx, outcome="lang", positive_label="en", num_terms=10
    )
    return f_.select(
        "term", "index",
        F.round("score", 6).alias("score"),
        F.round("idf", 6).alias("idf"),
        "df", "pos_df",
    )


# classify() with a FIXED literal model (idfs 1.0 so the margin is pure
# weight sums — the oracle mirrors it with list_contains arithmetic)
_CLF_MODEL = {
    "name": "clf", "terms": ["spark", "join", "slow"],
    "weights": [0.1, 0.8, -0.5, 0.3], "idfs": [1.0, 1.0, 1.0],
}


@_register(
    "ext_classify",
    f"""SELECT doc_id,
          round(round(m, 10), 6) AS score,
          round(round(1/(1+exp(-m)), 10), 6) AS probability
        FROM (
          SELECT doc_id,
            0.1 + 0.8*CAST(list_contains(toks,'spark') AS INT)
                - 0.5*CAST(list_contains(toks,'join') AS INT)
                + 0.3*CAST(list_contains(toks,'slow') AS INT) AS m
          FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents))
        ORDER BY doc_id LIMIT 100""",
    "Solr classify(): margin + sigmoid probability against a stored "
    "model folded into ONE codegen Column over the stored token "
    "arrays — map-only, zero shuffles at any corpus size",
)
def ext_classify(spark, sf_dir):
    from solr_map_reduce_spark.extensions import text_ml

    idx = _docs_search_index(spark, sf_dir)
    out = text_ml.classify_df(
        idx.df(), idx._real_toks(idx._tokens_col()), _CLF_MODEL
    )
    return (
        out.select(
            "doc_id",
            F.round("score", 6).alias("score"),
            F.round("probability", 6).alias("probability"),
        )
        .orderBy("doc_id")
        .limit(100)
    )


# ext_train_lr oracle: the GD loop IS SQL-expressible because the
# entry's 3 binary features partition documents into <= 8 token
# patterns x 2 labels — a 16-cell contingency table from which every
# per-iteration sum (gradients, mean log loss, accuracy) is a weighted
# cell aggregate.  A DuckDB recursive CTE replays the exact pinned
# formulas (margin -> sigmoid -> eps-clamped log loss -> batch update,
# alpha=0.5, idf=1, w=0 start); iteration i's recorded error/accuracy
# use the PRE-update weights, exactly like train_logistic's history.
# The anchor casts to DOUBLE (a bare 0.0 would type the recursion
# DECIMAL(2,1)).  Precedent: the connected-components recursive-CTE
# oracle; closes the gate's last LLM-pipeline blind spot.
_LR_MARGIN = "(w0 + w1*f1 + w2*f2 + w3*f3)"
_LR_PROB = f"(1.0/(1.0+exp(-{_LR_MARGIN})))"
_TRAIN_LR_SQL = f"""WITH RECURSIVE cells AS (
  SELECT
    CAST(list_contains(toks, 'spark') AS INT) AS f1,
    CAST(list_contains(toks, 'join') AS INT) AS f2,
    CAST(list_contains(toks, 'slow') AS INT) AS f3,
    CAST(lang = 'en' AS INT) AS y,
    CAST(count(*) AS DOUBLE) AS c
  FROM (SELECT list_distinct({{toks}}) AS toks, lang FROM documents)
  GROUP BY 1, 2, 3, 4
), tot AS (SELECT sum(c) AS n FROM cells),
gd AS (
  SELECT 0 AS it, CAST(0 AS DOUBLE) AS w0, CAST(0 AS DOUBLE) AS w1,
         CAST(0 AS DOUBLE) AS w2, CAST(0 AS DOUBLE) AS w3,
         CAST(0 AS DOUBLE) AS err, CAST(0 AS DOUBLE) AS acc
  UNION ALL
  SELECT it + 1,
    w0 - 0.5 * (SELECT sum(c * ({_LR_PROB} - y)) FROM cells)
             / (SELECT n FROM tot),
    w1 - 0.5 * (SELECT sum(c * f1 * ({_LR_PROB} - y)) FROM cells)
             / (SELECT n FROM tot),
    w2 - 0.5 * (SELECT sum(c * f2 * ({_LR_PROB} - y)) FROM cells)
             / (SELECT n FROM tot),
    w3 - 0.5 * (SELECT sum(c * f3 * ({_LR_PROB} - y)) FROM cells)
             / (SELECT n FROM tot),
    (SELECT sum(c * -(y * ln(greatest({_LR_PROB}, 1e-15))
                      + (1-y) * ln(greatest(1.0 - {_LR_PROB}, 1e-15))))
     FROM cells) / (SELECT n FROM tot),
    (SELECT sum(c * CASE WHEN CAST({_LR_PROB} >= 0.5 AS INT) = y
                         THEN 1.0 ELSE 0.0 END)
     FROM cells) / (SELECT n FROM tot)
  FROM gd WHERE it < 3
)
SELECT 'lr_docs' AS name, CAST(it AS INT) AS iteration,
       round(round(err, 10), 6) AS error,
       round(round(acc, 10), 6) AS accuracy
FROM gd WHERE it >= 1 ORDER BY iteration"""


@_register(
    "ext_train_lr",
    _TRAIN_LR_SQL.format(toks=_TOKS_SQL),
    "Solr train(): batch logistic regression over IG features — per "
    "iteration ONE map-only margin pass fused into ONE groupBy(term) "
    "returning <= |features|+1 rows (a __bias__ sentinel row carries "
    "intercept gradient/loss/accuracy); only that vector is collected. "
    "Oracled: the 3-binary-feature GD loop reduces to weighted "
    "aggregates over a 16-cell (token-pattern x label) contingency "
    "table, replayed exactly by a DuckDB recursive CTE",
)
def ext_train_lr(spark, sf_dir):
    from solr_map_reduce_spark.extensions import text_ml

    idx = _docs_search_index(spark, sf_dir)
    out = text_ml.train_logistic(
        idx, [("spark", 1.0), ("join", 1.0), ("slow", 1.0)],
        outcome="lang", positive_label="en",
        max_iterations=3, alpha=0.5, name="lr_docs",
    )
    return out.select(
        "name", "iteration",
        F.round("error", 6).alias("error"),
        F.round("accuracy", 6).alias("accuracy"),
    ).orderBy("iteration")


def registry() -> dict[str, QueryDef]:
    return dict(REGISTRY)
