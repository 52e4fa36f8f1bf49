import shutil

import pyspark.sql.functions as F
import pytest

from solr_map_reduce_spark.indexing import IndexJobConfig, read_index
from solr_map_reduce_spark.schema import Field, IndexSchema
from solr_map_reduce_spark.streaming.ingest import stream_ingest, windowed_event_counts

SCHEMA = IndexSchema(
    fields=(
        Field("id", "string", required=True),
        Field("payload", "string"),
        Field("version", "long"),
    ),
    unique_key="id",
)


def test_stream_ingest_upserts(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    batch1 = spark.createDataFrame(
        [("a", "v1", 1), ("b", "v1", 1)], "id string, payload string, version long"
    )
    batch1.write.parquet(inp)
    cfg = IndexJobConfig(schema=SCHEMA, shards=2, dedup="retain_most_recent",
                         order_field="version", tiebreak=("id",))
    q = stream_ingest(spark, inp, batch1.schema, cfg, out, ckpt)
    q.awaitTermination(120)
    idx1 = {r["id"]: r["payload"] for r in read_index(spark, out).collect()}
    assert idx1 == {"a": "v1", "b": "v1"}

    # second file arrives: update a, add c
    batch2 = spark.createDataFrame(
        [("a", "v2", 2), ("c", "v1", 1)], "id string, payload string, version long"
    )
    batch2.write.mode("append").parquet(inp)
    q2 = stream_ingest(spark, inp, batch1.schema, cfg, out, ckpt)
    q2.awaitTermination(120)
    idx2 = {r["id"]: r["payload"] for r in read_index(spark, out).collect()}
    assert idx2 == {"a": "v2", "b": "v1", "c": "v1"}


def test_stream_ingest_maintains_key_ranges(spark, tmp_path):
    """Streaming upsert goes through merge_into; the key spans, read from
    the footers, name exactly the rewritten segment files — a stale
    segment name after the per-batch rewrite would silently hide newly
    ingested docs from point lookups."""
    from solr_map_reduce_spark.index_reader import SearchIndex
    from solr_map_reduce_spark.key_ranges import load_key_ranges

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    batch1 = spark.createDataFrame(
        [("a", "v1", 1), ("b", "v1", 1)], "id string, payload string, version long"
    )
    batch1.write.parquet(inp)
    cfg = IndexJobConfig(schema=SCHEMA, shards=2, dedup="retain_most_recent",
                         order_field="version", tiebreak=("id",))
    stream_ingest(spark, inp, batch1.schema, cfg, out, ckpt).awaitTermination(120)
    spark.createDataFrame(
        [("z-new", "v1", 1)], "id string, payload string, version long"
    ).write.mode("append").parquet(inp)
    stream_ingest(spark, inp, batch1.schema, cfg, out, ckpt).awaitTermination(120)
    idx = SearchIndex.open(spark, out)
    assert idx.count() == 3
    rows = idx.get("z-new").collect()
    assert len(rows) == 1 and rows[0]["payload"] == "v1"
    import os

    ranges = load_key_ranges(spark, out)
    for s in range(2):
        names = [name for name, *_ in ranges._load_spans(s).files]
        assert sorted(names) == sorted(
            f for f in os.listdir(os.path.join(out, f"shard={s}")) if f.endswith(".parquet")
        )


def test_windowed_event_counts_batch_semantics(spark, sf_dir, tmp_path):
    """Run the streaming aggregation over the events table via availableNow
    and check totals against the batch answer."""
    from solr_map_reduce_spark.sources.readers import load_table

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "events_src")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    agg = windowed_event_counts(stream, "ts", "1 hour", "2 hours", "event_type")
    out = str(tmp_path / "agg_out")
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "agg_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # append mode emits only windows closed by the watermark; totals must not
    # exceed batch counts and must cover the closed windows exactly
    got = spark.read.parquet(out)
    batch = events.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    got_total = got.agg(F.sum("cnt")).first()[0] or 0
    batch_total = batch.agg(F.sum("cnt")).first()[0]
    assert got_total <= batch_total
    assert got.filter(F.col("cnt") <= 0).count() == 0


def test_windowed_counts_closed_windows_match_batch_exactly(spark, sf_dir, tmp_path):
    """Stream/batch parity: every window the stream emits (closed by the
    watermark) must carry EXACTLY the batch count for that (window, type)."""
    from solr_map_reduce_spark.sources.readers import load_table

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    agg = windowed_event_counts(stream, "ts", "1 hour", "2 hours", "event_type")
    out = str(tmp_path / "out")
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.read.parquet(out).select("window_start", "event_type", "cnt")
    batch = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("bcnt"))
        .select(F.col("w.start").alias("window_start"), "event_type", "bcnt")
    )
    joined = got.join(batch, ["window_start", "event_type"], "left")
    assert joined.filter(
        F.col("bcnt").isNull() | (F.col("cnt") != F.col("bcnt"))
    ).count() == 0


def test_enrich_stream_matches_batch_join(spark, sf_dir, tmp_path):
    """Stream-static broadcast enrichment: streaming events joined to the
    customer dim must produce exactly the batch join's rows, and the
    micro-batch plan must not shuffle the stream side."""
    from solr_map_reduce_spark.sources.readers import load_table
    from solr_map_reduce_spark.streaming.ingest import enrich_stream

    events = load_table(spark, sf_dir, "events")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    src = str(tmp_path / "src")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    enriched = enrich_stream(stream, dim, on="user_id")
    out = str(tmp_path / "out")
    q = (
        enriched.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.read.parquet(out).groupBy("c_mktsegment").count()
    want = (
        events.join(dim, "user_id", "left").groupBy("c_mktsegment").count()
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}
    # same function on the batch frame: broadcast join, no exchange on events
    plan = (
        enrich_stream(events, dim, on="user_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_interval_join_stream_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream interval join (views ⋈ clicks within 30 min per user)
    drained via availableNow equals the batch join+filter answer."""
    from solr_map_reduce_spark.sources.readers import load_table
    from solr_map_reduce_spark.streaming.ingest import interval_join_stream

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    views = events.filter(F.col("event_type") == "view").limit(400)
    clicks = events.filter(F.col("event_type") == "click").limit(400)
    vdir, cdir = str(tmp_path / "views"), str(tmp_path / "clicks")
    views.write.parquet(vdir)
    clicks.write.parquet(cdir)

    lstream = spark.readStream.schema(views.schema).parquet(vdir)
    rstream = spark.readStream.schema(clicks.schema).parquet(cdir)
    joined = interval_join_stream(
        lstream, rstream, on="user_id", max_delay="30 minutes", watermark="1 hour"
    )
    out = str(tmp_path / "joined")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["event_id"], r["event_id_r"])
        for r in spark.read.parquet(out).collect()
    }

    v, c = views.alias("v"), clicks.alias("c")
    want_df = v.join(
        c,
        (F.col("v.user_id") == F.col("c.user_id"))
        & (F.col("c.ts") >= F.col("v.ts"))
        & (F.col("c.ts") <= F.col("v.ts") + F.expr("INTERVAL 30 minutes")),
    ).select(F.col("v.event_id"), F.col("c.event_id").alias("event_id_r"))
    want = {(r["event_id"], r["event_id_r"]) for r in want_df.collect()}
    assert got == want
    assert want  # fixture must actually produce matches


def test_stream_dedup_ingest_drops_near_dups_across_batches(spark, tmp_path):
    from solr_map_reduce_spark.extensions.minhash_index import MinHashParams
    from solr_map_reduce_spark.streaming.ingest import stream_dedup_ingest

    inp = str(tmp_path / "docs_in")
    idx = str(tmp_path / "mh_index")
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "dd_ckpt")
    base = (
        "the quick brown fox jumps over the lazy dog and then runs far away "
        "into the deep green forest looking for food and water every day"
    )
    uniq = (
        "completely different content about spark dataframes shuffles and "
        "partitions running distributed aggregation pipelines at scale"
    )
    schema = "doc_id long, text string"
    params = MinHashParams(num_perm=64, bands=16, shingle_k=3, seed=7)

    # batch 1: a near-dup pair within the batch (min id wins) + one unique
    spark.createDataFrame(
        [(1, base), (2, base + " extra"), (10, uniq)], schema
    ).write.parquet(inp)
    q = stream_dedup_ingest(
        spark, inp, spark.createDataFrame([], schema).schema, idx, corpus,
        ckpt, threshold=0.5, params=params,
    )
    q.awaitTermination(180)
    ids1 = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert ids1 == {1, 10}

    # batch 2: a near-dup of the already-indexed doc 1 + a fresh doc
    fresh = (
        "yet another entirely unrelated document mentioning volcanoes "
        "oceans mountains rivers and the long history of cartography"
    )
    spark.createDataFrame(
        [(20, base + " almost"), (30, fresh)], schema
    ).write.mode("append").parquet(inp)
    q2 = stream_dedup_ingest(
        spark, inp, spark.createDataFrame([], schema).schema, idx, corpus,
        ckpt, threshold=0.5, params=params,
    )
    q2.awaitTermination(180)
    ids2 = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert ids2 == {1, 10, 30}


def test_stream_dedup_ingest_batch_parity_with_one_shot(spark, sf_dir, tmp_path):
    """Streaming dedup-at-ingest over the documents table must keep exactly
    the docs the one-shot minhash_dedup pipeline keeps (same params)."""
    from solr_map_reduce_spark.extensions.minhash_index import MinHashParams
    from solr_map_reduce_spark.extensions.text_dedup import minhash_dedup
    from solr_map_reduce_spark.streaming.ingest import stream_dedup_ingest
    from tests.conftest import load

    docs = load(spark, sf_dir, "documents").limit(120).localCheckpoint()
    inp = str(tmp_path / "in")
    docs.write.parquet(inp)
    params = MinHashParams(num_perm=64, bands=16, shingle_k=3, seed=42)
    q = stream_dedup_ingest(
        spark, inp, docs.schema, str(tmp_path / "idx"),
        str(tmp_path / "corpus"), str(tmp_path / "ckpt"),
        threshold=0.5, params=params,
    )
    q.awaitTermination(300)
    kept_stream = {
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    }
    pairs = minhash_dedup(
        docs, "text", "doc_id", num_perm=64, bands=16, shingle_k=3,
        seed=42, threshold=0.5,
    )
    drop = {max(r["id_a"], r["id_b"]) for r in pairs.collect()}
    kept_batch = {r["doc_id"] for r in docs.collect()} - drop
    # one-shot drops max-id of every pair; single-batch streaming greedy
    # min-id-wins is the same rule when all docs arrive in one batch
    assert kept_stream == kept_batch


def test_stream_ingest_keeps_newest_version_within_watermark(spark, tmp_path):
    """Two updates for one key in the same drain: deduping by key alone
    keeps the FIRST ARRIVAL; the subset must include the order field so the
    resolver sees both versions and recency wins (A10)."""
    import datetime as dt

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    t1 = dt.datetime(2024, 1, 1, 12, 0, 5)
    df = spark.createDataFrame(
        [("a", "old", t0), ("a", "new", t1)],
        "id string, payload string, ts timestamp",
    )
    df.write.parquet(inp)
    schema = IndexSchema(
        fields=(
            Field("id", "string", required=True),
            Field("payload", "string"),
            Field("ts", "date"),
        ),
        unique_key="id",
    )
    cfg = IndexJobConfig(schema=schema, shards=2, dedup="retain_most_recent",
                         order_field="ts", tiebreak=("id",))
    q = stream_ingest(spark, inp, df.schema, cfg, out, ckpt,
                      event_time_col="ts")
    q.awaitTermination(120)
    got = {r["id"]: r["payload"] for r in read_index(spark, out).collect()}
    assert got == {"a": "new"}


def test_stream_ingest_maintains_search_stats(spark, tmp_path):
    """Streaming upsert goes through merge_into, whose r5 stats delta must
    keep the BM25 sidecar exact across micro-batches (no full-corpus
    rebuild per batch, no stale statistics)."""
    from solr_map_reduce_spark.schema import Field, IndexSchema
    from solr_map_reduce_spark.search_stats import (
        load_search_stats,
        write_search_stats,
    )

    schema = IndexSchema(
        fields=(
            Field("id", "string", required=True),
            Field("text", "text_general"),
            Field("version", "long"),
        ),
        unique_key="id",
    )
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    b1 = spark.createDataFrame(
        [("a", "alpha beta", 1), ("b", "alpha gamma", 1)],
        "id string, text string, version long",
    )
    b1.write.parquet(inp)
    cfg = IndexJobConfig(
        schema=schema, shards=2, dedup="retain_most_recent",
        order_field="version", tiebreak=("id",), routing="native",
        search_stats=True,
    )
    stream_ingest(spark, inp, b1.schema, cfg, out, ckpt).awaitTermination(120)
    spark.createDataFrame(
        [("a", "alpha delta", 2), ("c", "epsilon", 1)],
        "id string, text string, version long",
    ).write.mode("append").parquet(inp)
    stream_ingest(spark, inp, b1.schema, cfg, out, ckpt).awaitTermination(120)
    stats = load_search_stats(spark, out)
    assert stats["text"]["n_docs"] == 3  # a upserted, b kept, c new
    rebuilt = write_search_stats(spark, out)
    assert stats == rebuilt


def test_stream_ingest_delta_maintains_ann_sidecar(spark, tmp_path):
    """Streaming upsert rides merge_into, which delta-maintains ANN
    sidecars (extensions/ann_sidecar.py): after each micro-batch the
    {!knn} query must STAY on the routed sublinear path and serve the
    post-batch corpus — new vectors visible, replaced vectors dead."""
    import numpy as np

    from solr_map_reduce_spark.index_reader import SearchIndex

    vschema = IndexSchema(
        fields=(Field("id", "string", required=True),
                Field("vec", "array<double>"),
                Field("version", "long")),
        unique_key="id",
    )
    rng = np.random.RandomState(11)
    base = [(str(i), [float(x) for x in rng.randn(4)], 1) for i in range(40)]
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    ddl = "id string, vec array<double>, version long"
    spark.createDataFrame(base, ddl).write.parquet(inp)
    cfg = IndexJobConfig(schema=vschema, shards=2,
                         dedup="retain_most_recent",
                         order_field="version", tiebreak=("id",))
    stream_ingest(spark, inp, spark.createDataFrame(base, ddl).schema,
                  cfg, out, ckpt).awaitTermination(120)
    idx = SearchIndex.open(spark, out)
    idx.build_ann("vec", kind="ivf", n_centroids=4, nprobe=4)
    q = rng.randn(4)
    lit = "[" + ",".join(f"{x:.8f}" for x in q) + "]"

    def routed():
        assert idx._ann_sidecar("vec") is not None, "must stay routed"
        return [r["id"] for r in idx.query(
            f"{{!knn f=vec topK=3 nprobe=4}}{lit}"
        ).collect()]

    before = routed()
    # micro-batch: new doc exactly on the query + flip the current #1
    spark.createDataFrame(
        [("neo", [float(x) for x in q], 2),
         (before[0], [float(-x) for x in q], 2)], ddl
    ).write.mode("append").parquet(inp)
    stream_ingest(spark, inp, spark.createDataFrame(base, ddl).schema,
                  cfg, out, ckpt).awaitTermination(120)
    got = routed()
    assert got[0] == "neo" and before[0] not in got
    exact = [r["id"] for r in idx.query(
        f"{{!knn f=vec topK=3 exact=true}}{lit}"
    ).collect()]
    assert got == exact
