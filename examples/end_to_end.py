#!/usr/bin/env python
"""End-to-end tour: everything a user of the reference does, on Spark.

  1. build a sharded/deduplicated/key-sorted index from raw documents
  2. query it (count, pruned point lookup, search, facets)
  3. compact to the segment contract and publish atomically
  4. run the training-data extensions (near-dup, quality, language, BM25)

Run:  python examples/end_to_end.py [sf_dir]   (default /root/testdata/sf0.001)
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import pyspark.sql.functions as F

from solr_map_reduce_spark import (
    Field,
    IndexJob,
    IndexJobConfig,
    IndexSchema,
    SearchIndex,
    get_spark,
    publish,
)
from solr_map_reduce_spark.extensions import search, text_analysis, text_dedup


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="smrs-example")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="smrs_example_")

    # 1. build ---------------------------------------------------------
    schema = IndexSchema(
        fields=(
            Field("id", "string", required=True),
            Field("text", "text_en"),
            Field("lang", "string"),
            Field("source", "string"),
            Field("n_chars", "long"),
        ),
        unique_key="id",
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "id", F.col("doc_id").cast("string")
    )
    staging = os.path.join(work, "staging")
    job = IndexJob(
        IndexJobConfig(
            schema=schema, shards=4, micro_shards=16,
            dedup="retain_most_recent", order_field="n_chars", tiebreak=("id",),
        )
    )
    manifest = job.build(docs, staging)
    print(f"built {manifest['shards']} shards at {staging}")

    # 3. compact to the segment contract + publish atomically ----------
    from solr_map_reduce_spark.indexing import compact, segment_counts

    compact(spark, staging, max_segments=1)
    print("segments per shard:", segment_counts(staging))
    live = os.path.join(work, "live")
    publish(staging, live)

    # 3b. incremental merge: same-key docs replaced, new keys appended,
    # only the touched shard dirs rewritten
    updates = docs.limit(5).withColumn("source", F.lit("updated"))
    job.merge_into(updates, live)
    print("after merge_into:", spark.read.parquet(live).filter(F.col("source") == "updated").count(), "updated docs")

    # 3c. atomic field updates (Solr's {"set": ...}): supply the key plus
    # only the fields to change — other fields keep their stored values,
    # and only the touched shards rewrite
    some = docs.select("id").orderBy("id").limit(2)
    job.update_fields(
        some.withColumn("source", F.lit("atomically-set")), live
    )
    print(
        "after update_fields:",
        spark.read.parquet(live).filter(F.col("source") == "atomically-set").count(),
        "docs had source set atomically",
    )

    # 2. query ---------------------------------------------------------
    idx = SearchIndex.open(spark, live)
    print("count:", idx.count())
    some_id = docs.select("id").orderBy("id").first()["id"]
    hit = idx.get(some_id)  # reads only the segment files admitting the key
    print("point lookup:", hit.select("id", "lang").first(),
          f"({len(hit.inputFiles())} segment file(s) read)")
    print("key range 100..109:", idx.key_range("100", "109").count(), "docs")
    print("facet by lang:", {r["lang"]: r["cnt"] for r in idx.facet("lang").collect()})
    top = idx.search(sort=[("n_chars", "desc")], limit=3, select=["id", "n_chars"])
    print("longest docs:", [tuple(r) for r in top.collect()])

    # 4. extensions ----------------------------------------------------
    pairs = text_dedup.minhash_dedup(docs, "text", "id", threshold=0.8)
    print("near-dup pairs (jaccard>=0.8):", pairs.count())
    quality = text_analysis.quality_features(docs, "text", "id")
    print("mean quality:", quality.agg(F.avg("quality_score")).first()[0])
    hits = search.bm25_search(docs, ["spark", "merge"], k=3, id_col="id")
    print("bm25 top-3:", [(r["id"], round(r["score"], 3)) for r in hits.collect()])

    # 4b. corpus curation: scrub -> stratify -> pack ------------------
    scrubbed = docs.withColumn("text", text_analysis.redact_pii(F.col("text")))
    from pyspark.sql import Window

    strata = Window.partitionBy("lang").orderBy("id")
    sample = (
        scrubbed.withColumn("rn", F.row_number().over(strata))
        .filter(F.col("rn") % 5 == 1)
        .drop("rn")
    )
    packed = text_analysis.pack_sequences(
        sample, weight_col="n_chars", budget=4000,
        group_cols=("lang",), order_col="id",
    )
    n_chunks = packed.select("lang", "chunk").distinct().count()
    print("curation: packed", sample.count(), "sampled docs into", n_chunks, "chunks")

    # 5. streaming: watermarked stateful sessionization over the events
    # stream (availableNow drains the directory and stops)
    from solr_map_reduce_spark.streaming.sessionize import sessionize_stream

    events_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(events_schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")  # file source needs a dir
        .load(sf_dir)
    )
    # normalize whatever timestamp flavor the fixture carries, like
    # load_table does: int64 nanos → µs timestamp; NTZ → instant
    import pyspark.sql.types as T

    from solr_map_reduce_spark.functions.timestamps import ensure_instant

    if isinstance(stream.schema["ts"].dataType, T.LongType):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    stream = ensure_instant(stream, "ts")
    sessions = sessionize_stream(stream, gap_seconds=1800, watermark="10 minutes")
    q = (
        sessions.writeStream.format("parquet")
        .option("path", os.path.join(work, "sessions"))
        .option("checkpointLocation", os.path.join(work, "sessions_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    closed = spark.read.parquet(os.path.join(work, "sessions")).count()
    print("closed sessions emitted by first drain:", closed)

    # 6. incremental near-dup index: a second ingest batch pays O(batch),
    # never O(corpus) — exact copies are rejected against the stored bands
    from solr_map_reduce_spark.extensions.minhash_index import MinHashIndex

    mh = MinHashIndex.create(spark, os.path.join(work, "mh_index"))
    mh.add(docs, "text", "id")
    batch2 = docs.limit(20).withColumn("id", F.concat(F.lit("copy-"), F.col("id")))
    n_new, dup_pairs = mh.add_unique(batch2, "text", "id", threshold=0.9)
    print("ingest batch 2: indexed", n_new, "new docs;",
          dup_pairs.count(), "duplicate pairs rejected")

    # 7. decontamination + phrase search --------------------------------
    eval_split = docs.filter(F.col("doc_id") % 13 == 0).select("text")
    decon = text_dedup.decontaminate(docs, eval_split, "text", "id", n=5)
    print("decontamination:", decon.filter("contaminated").count(),
          "train docs overlap the eval split")
    phrase_hits = search.match_phrase(docs, "table hash", id_col="id").count()
    print("phrase query 'table hash':", phrase_hits, "docs")

    # 8. boolean queries + the full Solr request shape -----------------
    # (terms, "phrases", AND/OR/NOT, parens; default operator OR — parsed
    # driver-side, compiled to ONE scan predicate, Bloom-pruned)
    idx = SearchIndex.open(spark, live)
    bq = idx.query('(spark AND vector) OR ("table hash" AND NOT shuffle)')
    print("boolean query:", bq.count(), "docs")
    # q + fq + sort + rows + fl in one call; fq never changes BM25 scores
    page = idx.search(q="spark OR vector", sort=[("id", "asc")], limit=5,
                      select=["id"])
    ranked = idx.bm25(["spark", "vector"], k=5, fq="table AND NOT shuffle")
    print("request page:", [r["id"] for r in page.collect()],
          "| filtered BM25 hits:", ranked.count())
    # fielded clauses, ranges, and wildcards compose in the same grammar
    fielded = idx.query('lang:en AND spark* -id:[* TO 100}')
    print("fielded+range+wildcard query:", fielded.count(), "docs")

    # 9. round-8 serving components -------------------------------------
    # cursorMark deep paging: keyset pagination — O(page) per request
    rows, mark = idx.cursor_page(sort=[("n_chars", "desc")], limit=5,
                                 select=["id", "n_chars"])
    rows2, _ = idx.cursor_page(sort=[("n_chars", "desc")], limit=5,
                               cursor_mark=mark, select=["id", "n_chars"])
    print("cursor pages:", [r["id"] for r in rows], "|",
          [r["id"] for r in rows2])
    # range/pivot facets, per-bucket stats, grouping, spellcheck
    rf = idx.range_facet("n_chars", 0, 2000, 500)
    print("range facet:", [(int(r["bucket_start"]), r["cnt"]) for r in rf.collect()])
    fs = idx.facet_stats("lang", {"avg_len": ("avg", "n_chars")}, top=3)
    print("facet stats:", [(r["lang"], r["cnt"], round(r["avg_len"], 1))
                           for r in fs.collect()])
    grp = idx.grouped("lang", sort=("n_chars", "desc"), group_limit=1,
                      select=["id", "n_chars"])
    print("top doc per lang:", [(r["lang"], r["id"]) for r in grp.collect()[:4]])
    print("did-you-mean 'sparc':",
          [r["suggestion"] for r in idx.spellcheck("sparc", top=3).collect()])
    # synonyms expand at query time; leading wildcards are seekable on
    # text_general_rev fields
    syn = idx.query("spark", synonyms={"spark": ["vector"]})
    print("synonym-expanded query:", syn.count(), "docs")
    # general wildcards (? one char, * any run) and term vectors
    print("s?ark wildcard:", idx.query("s?ark").count(), "docs")
    tv = idx.term_vectors(["1", "2"]).orderBy("id", "term").limit(5)
    print("term vectors:", [(r["id"], r["term"], r["tf"]) for r in tv.collect()])

    # 10. round-8 second pass: joins, facet family, rerankers ------------
    # TermsComponent: raw term enumeration straight from the dictionary
    print("terms s->t (index order):",
          [r["term"] for r in idx.terms(lower="s", upper="t", mincount=2,
                                        sort="index", limit=5).collect()])
    # facet.interval (overlapping) + facet.query (arbitrary buckets) +
    # multi-select (the lang selection excluded from its own facet)
    iv = idx.interval_facet("n_chars", {"short": "[*,300)", "long": "[300,*]"},
                            q="spark")
    print("interval facet:", [(r["interval"], r["cnt"]) for r in iv.collect()])
    qf = idx.query_facets({"spark+table": "spark AND table", "de": "lang:de"})
    print("facet.query:", [(r["facet_query"], r["cnt"]) for r in qf.collect()])
    ms = idx.facet("lang", q="spark", filters={"lang": "de"}, exclude="lang")
    print("multi-select lang facet:", [(r["lang"], r["cnt"]) for r in ms.collect()[:3]])
    # local-params: {!join}, {!terms} — and elevation / rerank over BM25
    jq = idx.query("{!join from=source to=source}lang:de AND spark")
    print("{!join} docs sharing a source with German spark docs:", jq.count())
    print("{!terms} lang in (de,fr):", idx.query("{!terms f=lang}de,fr").count())
    el = idx.elevated(["spark", "vector"], elevate=["7", "3"], exclude=["0"], k=5)
    print("elevated page:", [(r["id"], r["elevated"]) for r in el.collect()])
    rr = idx.rerank(["spark", "vector"], ["table"], k=5, rerank_docs=20,
                    rerank_weight=2.0)
    print("reranked page:", [r["id"] for r in rr.collect()])
    # hybrid RRF + int8-SQ + MMR over the embeddings table
    from solr_map_reduce_spark.extensions import hybrid, similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = emb.orderBy("vec_id").first()["embedding"]
    hy = hybrid.hybrid_rrf(idx, ["spark", "vector"], emb, qvec, k=5,
                           out_id_col="id")
    print("hybrid RRF top-5:", [r["id"] for r in hy.collect()])
    mn, mx = similarity.sq_fit(emb)
    sq = similarity.sq_topk(emb, qvec, k=5, mn=mn, mx=mx)
    print("int8-SQ top-5:", [(r["vec_id"], r["score"]) for r in sq.collect()])
    mmr = similarity.mmr_rerank(emb, qvec, k=5, pool=20, lam=0.7)
    print("MMR top-5:", [r["vec_id"] for r in mmr.orderBy("mmr_rank").collect()])

    # 11. round-9: date math + streaming-expression CDC ------------------
    # Solr date math in range bounds; NOW pinned for determinism (the
    # public NOW= request-param mechanism)
    from datetime import datetime

    from solr_map_reduce_spark.functions.datemath import fixed_now

    with fixed_now(datetime(2024, 6, 1)):
        dm = idx.query("spark AND id:[* TO *]")  # date-math-capable grammar
    print("date-math-pinned query:", dm.count(), "docs")
    # the /stream DSL: facet with Solr's default bucketSorts, string
    # evaluators, and the topic()/update() incremental-consumption tail
    from solr_map_reduce_spark.extensions.stream_expr import StreamCompiler

    comp = StreamCompiler({"docs": idx}, checkpoint_dir=work)
    top_langs = comp.run(
        'facet(docs, q="spark", buckets="lang", count(*), bucketSizeLimit=3)'
    )
    print("stream facet top langs:",
          [(r["lang"], r["count(*)"]) for r in top_langs.collect()])
    tagged = comp.run(
        'top(select(search(docs), id, concat(upper(lang), "-", id) as tag),'
        ' n=3, sort="id asc")'
    )
    print("string evaluators:", [r["tag"] for r in tagged.collect()])

    spark.stop()


if __name__ == "__main__":
    main()
