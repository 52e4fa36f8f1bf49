"""Stored BM25 corpus statistics — serve ranking from the artifact.

Lucene keeps per-field collection statistics (doc count, total term
frequency) and a term dictionary with document frequencies; BM25 serving
reads them instead of re-aggregating the corpus per query.  This sidecar
gives the parquet artifact the same property:

    out/_SEARCH_STATS.json       {field: {n_docs, sum_dl, n_dl}}
    out/_vocab/_VOCAB_META.json  {n_buckets, hash}
    out/_vocab/<field>/bucket=N/ parquet (term, df), N = crc32(term) %
                                 n_buckets  [underscore dir — invisible
                                 to the artifact's own scans]

Rows are TERM-SORTED within each bucket file (repartition by bucket +
sortWithinPartitions), so parquet row-group min/max statistics turn a
prefix scan (``SearchIndex.suggest`` / autocomplete) into a seek: only
the row groups whose [min, max] overlap the prefix range are read — the
Lucene sorted-term-dictionary/FST-prefix-seek cost model.  Hash
bucketing prunes POINT df lookups to |Q| buckets; in-bucket term order
prunes PREFIX scans within every bucket.  The repartition also yields
one file per bucket dir instead of one per writing task.

Build: one pass over the stored token column — ``n_docs`` (all rows),
``sum_dl``/``n_dl`` (token-array lengths), and the term dictionary via
``explode(array_distinct) → groupBy(term).count()``.

Query: ``SearchIndex.bm25`` looks up the |Q| needed df values in the
driver (:func:`term_dfs`): the query terms' buckets are computed with the
same crc32, and only those ``bucket=N`` files are read, through
``fs.read_parquet`` with a ``term in (...)`` filter that the term-sorted
row groups prune — planning a bm25 runs no Spark job, on any filesystem
scheme.  All statistics are embedded as literals, so the query plan is
ONE corpus pass + TakeOrdered, with no stats aggregate and no
checkpoint.  Scores are bit-identical to the computed path: every stored
quantity is an integer (exact in IEEE doubles), and ``avgdl = sum_dl /
n_dl`` is exactly what ``avg(dl)`` evaluates to.  The bulk readers of the
dictionary (delta merge, fuzzy expansion, the term dictionary) keep the
Spark reader :func:`read_vocab`.

Mutation: ``merge_into``, ``update_fields`` and ``delete_where``
DELTA-MAINTAIN the sidecar (:func:`prepare_stats_delta`) with ONE signed
pass per analyzed field: the touched shards' old rows (sign -1) and
rewritten rows (+1) are exploded into their distinct visible terms and
summed by term, which gives every term's df delta; observers carry the
n_docs/sum_dl/n_dl delta (from the rows before the explode) and the
changed terms' bucket set (from the aggregate) to the driver, and the
O(changed terms) delta is checkpointed.  The term dictionary then gets a
df-delta merge that READS and REWRITES
only those buckets — the incremental path is O(touched shards +
changed-term buckets) end to end, never O(corpus) and never O(|vocab|).
At 100 TB a term dictionary is billions of rows; a 1 GB batch touches a
bounded set of buckets instead of rewriting the whole dictionary.  ``compact``
preserves the sidecar unchanged (content is identical).

Crash consistency: ``_SEARCH_STATS.json`` doubles as the COMMIT MARKER.
Every reader gates stored-vocab use on the stats file, so finalize
deletes it FIRST, promotes the vocab buckets, and rewrites it LAST — a
crash anywhere between leaves readers on the computed-stats fallback
(correct scores from the post-swap corpus, merely slower) instead of the
old skew state (new vocab served against old scalars).
``write_search_stats`` repairs a torn sidecar from scratch.
"""

from __future__ import annotations

import json
import zlib

import pyspark.sql.functions as F
from pyspark.sql import Observation, SparkSession

STATS = "_SEARCH_STATS.json"
VOCAB_DIR = "_vocab"
VOCAB_META = "_VOCAB_META.json"
_VOCAB_SCHEMA = "term string, df bigint, bucket int"

# ~bytes of SOURCE artifact per vocab bucket.  The vocab is a sublinear
# projection of the corpus, so this is an order-of-magnitude dial, not a
# file-size promise: 8 MB/bucket puts a ~0.5 GB artifact at the old default
# (64) and covers [floor 8 .. cap 4096] over fixture scale to 100 TB-ish
# estimates.
_VOCAB_BUCKET_TARGET_BYTES = 8 << 20


def _size_estimate(df) -> int:
    """Catalyst's optimized-plan size estimate of ``df``, in bytes."""
    raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return raw if isinstance(raw, int) else int(raw.toString())


def _auto_buckets(est: int) -> int:
    """Vocab bucket count for an artifact of ``est`` bytes: the smallest
    power of two n in [8, 4096] with n * target >= est.  Power-of-two steps
    keep the count stable under small estimate drift; the floor stops
    fixture-scale builds from writing dozens of near-empty files (measured:
    64 -> 8 buckets cut the sf0.1 docs vocab write ~32%); the cap bounds
    the partition-dir fanout a point lookup must list."""
    n = 8
    while n < 4096 and est > n * _VOCAB_BUCKET_TARGET_BYTES:
        n *= 2
    return n


def _bucket_expr(n_buckets: int):
    """JVM-side bucket id of the ``term`` column: crc32 of the UTF-8
    bytes mod n_buckets — reproducible driver-side (:func:`term_bucket`),
    which is what lets point df-lookups prune to |Q| partition dirs."""
    return F.pmod(
        F.crc32(F.encode(F.col("term"), "UTF-8")), F.lit(n_buckets)
    ).cast("int")


def term_bucket(term: str, n_buckets: int) -> int:
    """Driver-side twin of :func:`_bucket_expr` (zlib.crc32 == Hadoop's
    CRC-32 over the same bytes)."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def load_vocab_meta(fs, path: str) -> dict | None:
    """The vocab layout descriptor, or None when there is none."""
    from solr_map_reduce_spark.fs import join as fs_join

    full = fs_join(path, VOCAB_DIR, VOCAB_META)
    if not fs.exists(full):
        return None
    return json.loads(fs.read_text(full))


def _write_vocab_meta(fs, path: str, n_buckets: int) -> None:
    from solr_map_reduce_spark.fs import join as fs_join

    fs.write_text(
        fs_join(path, VOCAB_DIR, VOCAB_META),
        json.dumps({"n_buckets": int(n_buckets), "hash": "crc32"}),
    )


def _write_buckets(vocab, n_buckets: int, out: str) -> None:
    """Write a ``(term, df)`` dictionary hash-bucketed by term: one
    term-sorted file per ``bucket=N`` dir."""
    (
        vocab.withColumn("bucket", _bucket_expr(n_buckets))
        .repartition(F.col("bucket"))
        .sortWithinPartitions("bucket", "term")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(out)
    )


def read_vocab(spark: SparkSession, path: str, field: str, buckets=None):
    """``field``'s stored term dictionary as ``(term, df)`` rows, read with
    the schema its writer recorded (no footer inference: planning runs no
    job); ``buckets`` prunes the read to those hash-bucket dirs."""
    from solr_map_reduce_spark.fs import join as fs_join

    vocab = spark.read.schema(_VOCAB_SCHEMA).parquet(fs_join(path, VOCAB_DIR, field))
    if buckets is not None:
        vocab = vocab.filter(F.col("bucket").isin(list(buckets)))
    return vocab.select("term", "df")


def _write_vocab(spark: SparkSession, path: str, field_pass) -> dict | None:
    """The one full build of the stats sidecar: BM25 statistics + the term
    dictionary for every analyzed field of the artifact at ``path``, one
    tokenized corpus pass per field.  Per field, ``field_pass(field,
    observed, tokens_col, write)`` derives the ``(term, df)`` dictionary
    from ``observed`` (the artifact) and hands it to ``write``; the
    scalar statistics ride that job as an ``Observation`` on the
    pre-explode rows instead of running their own corpus scan.  The
    ``_SEARCH_STATS.json`` commit marker goes DOWN before any vocab dir is
    in flux and UP last.  Returns the stats (None when the artifact has no
    analyzed fields)."""
    from solr_map_reduce_spark.fs import get_fs
    from solr_map_reduce_spark.fs import join as fs_join
    from solr_map_reduce_spark.indexing import MANIFEST, read_index

    fs = get_fs(path, spark)
    manifest = json.loads(fs.read_text(fs_join(path, MANIFEST)))
    analyzed: dict = manifest.get("analyzed", {})
    if not analyzed:
        return None
    if fs.exists(fs_join(path, STATS)):
        fs.delete(fs_join(path, STATS))
    idx = read_index(spark, path)
    n_buckets = _auto_buckets(_size_estimate(idx))
    stats: dict = {}
    for field, info in analyzed.items():
        out = fs_join(path, f"{VOCAB_DIR}/{field}")
        obs = Observation()
        lengths = _length_aggs(info["tokens_col"], F.lit(1))
        field_pass(
            field, idx.observe(obs, *lengths), info["tokens_col"],
            lambda vocab: _write_buckets(vocab, n_buckets, out),
        )
        # with no visible term in the corpus (or no row at all) the vocab
        # write's shuffle is empty, and adaptive execution plans it away
        # together with the observer upstream of it: the lengths then take
        # a job of their own
        written = fs.isdir(out) and any(n.startswith("bucket=") for n in fs.listdir(out))
        stats[field] = _length_stats(obs.get if written else idx.agg(*lengths).first())
    _write_vocab_meta(fs, path, n_buckets)
    fs.write_text(fs_join(path, STATS), json.dumps(stats))  # marker UP last
    return stats


def write_search_stats(spark: SparkSession, path: str) -> dict | None:
    """Compute and persist BM25 statistics + the term dictionary for every
    analyzed field of the artifact at ``path``.  Returns the stats dict
    (None when the artifact has no analyzed fields)."""
    return _write_vocab(
        spark, path,
        lambda _field, observed, tokens_col, write: write(
            _term_df(observed, tokens_col)
        ),
    )


def write_search_sidecars(
    spark: SparkSession, path: str
) -> tuple[dict | None, dict | None]:
    """Full rebuild of BOTH serving sidecars (term blooms + BM25
    stats/vocab) from ONE tokenized corpus pass per analyzed field, with
    outputs byte-identical to ``write_term_blooms`` + ``write_search_stats``.

    Both of those scan + explode the stored token column; here one
    per-``(term, shard)`` doc-count aggregate serves the two of them —
    the bloom bitmaps need term PRESENCE per shard (all tokens,
    reversed-copy markers included), the vocab needs the per-term doc
    count (visible tokens only), and both are projections of that one
    aggregate.  The aggregate (|vocab| x |shards| rows, far smaller than
    the corpus) is persisted across the projections and unpersisted
    before the next field.

    Equivalences (vs the separate writers, verified byte-identical in
    tests): a visible term appears in ``array_distinct(tokens)`` iff it
    appears in ``array_distinct(visible(tokens))`` — the reversed copies
    are DISTINCT marked tokens, so filtering visibility on the exploded
    term column commutes with filtering the array before exploding; and
    ``sum_shards(count_docs(term, shard)) == count_docs(term)`` because
    every doc lives in exactly one shard.

    Subset refreshes (``write_term_blooms(shards=...)``) and delta
    maintenance keep the dedicated writers.  Returns ``(blooms_sidecar,
    stats)`` (both None when the artifact has no analyzed fields)."""
    from solr_map_reduce_spark.extensions.search import REV_MARK
    from solr_map_reduce_spark.fs import get_fs
    from solr_map_reduce_spark.fs import join as fs_join
    from solr_map_reduce_spark.indexing import SHARD_COL
    from solr_map_reduce_spark.term_blooms import (
        BLOOMS,
        DEFAULT_K,
        _auto_bloom_m,
        _bitmaps,
        _max_shard_terms,
    )

    blooms: dict = {}

    def field_pass(field, observed, tokens_col, write) -> None:
        placement = (
            observed.select(
                F.col(SHARD_COL).alias("_s"),
                F.explode(F.array_distinct(F.col(tokens_col))).alias("term"),
            )
            .groupBy("term", "_s")
            .agg(F.count(F.lit(1)).alias("_n"))
            .persist()
        )
        try:
            # coalesce: a sum is nullable, a count is not — the vocab
            # files' schema must match write_search_stats'
            write(
                placement.filter(~F.col("term").startswith(REV_MARK))
                .groupBy("term")
                .agg(F.coalesce(F.sum("_n"), F.lit(0)).alias("df"))
            )
            m = _auto_bloom_m(_max_shard_terms(placement))
            blooms[field] = {
                "m": m,
                "k": DEFAULT_K,
                "shards": _bitmaps(placement, "term", m, DEFAULT_K),
            }
        finally:
            placement.unpersist()

    stats = _write_vocab(spark, path, field_pass)
    if stats is None:
        return None, None
    get_fs(path, spark).write_text(fs_join(path, BLOOMS), json.dumps(blooms))
    return blooms, stats


def _real_toks(tokens_col: str) -> F.Column:
    """The REAL tokens: text_general_rev interleaves marked reversed
    copies for the leading-wildcard seek; BM25 statistics (document
    lengths, term dfs) and the term dictionary must ignore them or
    scores skew and suggest/spellcheck surface reversed garbage.
    Delegates to the ONE canonical filter (search._visible_toks)."""
    from solr_map_reduce_spark.extensions.search import _visible_toks

    return _visible_toks(F.col(tokens_col))


def _length_aggs(tokens_col: str, sign: F.Column) -> list[F.Column]:
    """A field's BM25 scalars over a DataFrame's rows: the row count and
    the sum/count of visible token-array lengths, each row weighted by
    ``sign`` (+1 or -1), so the sums are an exact integer change.  An
    empty input sums to NULL, which ``_length_stats`` reads as 0."""
    dl = F.size(_real_toks(tokens_col))
    return [
        F.sum(sign).alias("n_docs"),
        F.sum(sign * dl).alias("sum_dl"),
        F.sum(F.when(dl.isNotNull(), sign)).alias("n_dl"),
    ]


def _length_stats(row) -> dict:
    return {key: int(row[key] or 0) for key in ("n_docs", "sum_dl", "n_dl")}


def _term_df(df, tokens_col: str):
    return (
        df.select(F.explode(F.array_distinct(_real_toks(tokens_col))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )


def _signed_delta(old_rows, new_rows, tokens_col: str, n_buckets: int):
    """The change a rewrite of ``old_rows`` into ``new_rows`` makes to a
    field's statistics, in ONE pass over both, the old rows signed -1 and
    the new +1.  Returns ``(scalars, buckets, delta)``: the change of
    n_docs/sum_dl/n_dl, the sorted hash buckets holding a changed term (at
    most ``n_buckets`` values), and ``(term, _ddf)`` rows for every
    visible term whose df changed, ``_ddf = df_new - df_old``,
    checkpointed (O(changed terms)).

    The scalars are observed on the signed rows before the explode, with
    ``_length_aggs``' per-row expressions (exact integer sums); the bucket
    set is observed on the aggregate.  The explode keeps a row with no
    visible term (as a null term), so the aggregate sees a row whenever
    either side has one: when it sees none, no observed metric arrives
    from before it (the empty scans are planned away) and the change is
    zero."""
    signed = old_rows.select(F.lit(-1).alias("_sign"), tokens_col).unionByName(
        new_rows.select(F.lit(1).alias("_sign"), tokens_col)
    )
    real, changed = F.col("term").isNotNull(), F.col("_ddf") != 0
    lengths, groups = Observation(), Observation()
    delta = (
        signed.observe(lengths, *_length_aggs(tokens_col, F.col("_sign")))
        .select(
            "_sign",
            F.explode_outer(F.array_distinct(_real_toks(tokens_col))).alias("term"),
        )
        .groupBy("term")
        .agg(F.sum("_sign").alias("_ddf"))
        .withColumn("bucket", _bucket_expr(n_buckets))
        .observe(
            groups,
            F.count(F.lit(1)).alias("n"),
            F.collect_set(F.when(real & changed, F.col("bucket"))).alias("buckets"),
        )
        .filter(real & changed)
        .select("term", "_ddf")
        .localCheckpoint(eager=True)
    )
    seen = groups.get
    if not seen["n"]:
        return {"n_docs": 0, "sum_dl": 0, "n_dl": 0}, [], delta
    return _length_stats(lengths.get), sorted(seen["buckets"]), delta


def prepare_stats_delta(spark: SparkSession, path: str, old_subset, new_subset):
    """O(touched) delta maintenance for a touched-shard rewrite (the
    ``merge_into`` path).  ``old_subset`` is the artifact content of the
    touched shards BEFORE the swap (still readable); ``new_subset`` is the
    rewritten content (read back from the staging dir, already
    materialized).  All scans run HERE, pre-swap, per analyzed field:

    - one signed pass over both subsets (:func:`_signed_delta`) gives
      ``stats' = stats - agg(old) + agg(new)`` (exact integer arithmetic —
      identical to a full rebuild by associativity of count/sum) and the
      df delta of every changed term;
    - the term dictionary gets a df-delta merge: ``df'(t) = df_stored(t)
      + df_new(t) - df_old(t)``, terms reaching 0 dropped.  Only changed
      terms can move, so the merge reads the stored vocab with a
      BUCKET-PRUNED scan (partition filter on the changed terms' buckets)
      and writes only those buckets to a ``<field>__pending`` staging dir
      — the vocab write is O(changed-term buckets), not O(|vocab|).

    Returns a ``finalize()`` closure to call AFTER the artifact swap; it
    takes the ``_SEARCH_STATS.json`` commit marker DOWN (readers fall
    back to computed stats — correct, never skewed), swaps in the pending
    bucket dirs (rename-aside, old buckets survive in a trash dir until
    the new ones are in place), and writes the updated stats file LAST.
    Returns None when the artifact has no (complete) stats sidecar — the
    caller should fall back to ``write_search_stats`` or skip."""
    from solr_map_reduce_spark.fs import get_fs
    from solr_map_reduce_spark.fs import join as fs_join
    from solr_map_reduce_spark.indexing import MANIFEST

    fs = get_fs(path, spark)
    manifest = json.loads(fs.read_text(fs_join(path, MANIFEST)))
    analyzed: dict = manifest.get("analyzed", {})
    stats = _whole_stats(spark, fs, path, analyzed)
    if stats is None:
        return None

    n_buckets = int(load_vocab_meta(fs, path)["n_buckets"])

    new_stats: dict = {}
    pending: dict[str, list[int]] = {}  # field -> touched buckets
    for field, info in analyzed.items():
        change, touched, delta = _signed_delta(
            old_subset, new_subset, info["tokens_col"], n_buckets
        )
        new_stats[field] = {k: int(v) + change[k] for k, v in stats[field].items()}
        # pinned schema: untouched buckets are never read, not even to plan
        vocab = read_vocab(spark, path, field, touched)
        merged = (
            vocab.join(delta, "term", "full_outer")
            .select(
                "term",
                (F.coalesce(F.col("df"), F.lit(0)) + F.coalesce(F.col("_ddf"), F.lit(0)))
                .alias("df"),
            )
            .filter(F.col("df") > 0)
        )
        # materialize NOW (reads the stored vocab buckets, which move at
        # swap time; the delta is already checkpointed)
        _write_buckets(
            merged, n_buckets, fs_join(path, f"{VOCAB_DIR}/{field}__pending")
        )
        pending[field] = touched

    def finalize() -> dict:
        # marker DOWN: from here until the final write, readers see no
        # stats file and fall back to computing statistics — correct
        # post-swap scores, never new-vocab-with-old-scalars skew
        if fs.exists(fs_join(path, STATS)):
            fs.delete(fs_join(path, STATS))
        trash = fs_join(path, VOCAB_DIR, "__trash")
        if fs.exists(trash):
            fs.delete(trash)
        fs.mkdirs(trash)
        for field, touched in pending.items():
            cur = fs_join(path, f"{VOCAB_DIR}/{field}")
            pend = fs_join(path, f"{VOCAB_DIR}/{field}__pending")
            # swap ONLY the touched buckets' partition dirs; a touched
            # bucket with no pending dir lost all its terms — remove it
            # (its old contents would otherwise serve stale dfs)
            fs.mkdirs(fs_join(trash, field))
            for b in touched:
                bname = f"bucket={b}"
                cur_b = fs_join(cur, bname)
                if fs.exists(cur_b):
                    fs.rename(cur_b, fs_join(trash, field, bname))
                pend_b = fs_join(pend, bname)
                if fs.exists(pend_b):
                    fs.rename(pend_b, cur_b)
            fs.delete(pend)
        fs.delete(trash)
        fs.write_text(fs_join(path, STATS), json.dumps(new_stats))
        return new_stats

    return finalize


def _whole_stats(spark: SparkSession, fs, path: str, analyzed: dict) -> dict | None:
    """The stored stats when the sidecar covers exactly the ``analyzed``
    fields, each with its vocab dir; None when it is absent, out of step
    with the schema or torn (corrupt/partial) — rebuild it whole."""
    from solr_map_reduce_spark.fs import join as fs_join

    stats = load_search_stats(spark, path)
    if not stats or not analyzed or set(stats) != set(analyzed):
        return None
    if not all(fs.exists(fs_join(path, f"{VOCAB_DIR}/{f}")) for f in analyzed):
        return None
    return stats


def load_search_stats(spark: SparkSession, path: str) -> dict | None:
    """The stored statistics, or None unless both the commit marker and
    the vocab layout descriptor are present: a ``_vocab`` without
    ``_VOCAB_META.json`` is not a layout this engine reads, so it serves as
    no sidecar (computed statistics) until a mutation rebuilds it."""
    from solr_map_reduce_spark.fs import get_fs
    from solr_map_reduce_spark.fs import join as fs_join

    fs = get_fs(path, spark)
    full = fs_join(path, STATS)
    if not fs.exists(full) or load_vocab_meta(fs, path) is None:
        return None
    return json.loads(fs.read_text(full))


def term_dfs(
    spark: SparkSession, path: str, field: str, terms: list[str]
) -> dict[str, int]:
    """df for each query term from the stored vocabulary, read in the
    driver: only the |Q| ``bucket=N`` dirs the query terms hash into
    (computed driver-side), each file through ``fs.read_parquet`` with a
    ``term in (...)`` filter — bucket files are term-sorted, so row groups
    prune by their min/max.  No Spark job runs; absent terms get 0."""
    from solr_map_reduce_spark.fs import data_files, get_fs, read_parquet
    from solr_map_reduce_spark.fs import join as fs_join

    fs = get_fs(path, spark)
    n = int(load_vocab_meta(fs, path)["n_buckets"])
    by_bucket: dict[int, list[str]] = {}
    for t in dict.fromkeys(terms):
        by_bucket.setdefault(term_bucket(t, n), []).append(t)
    out = {t: 0 for t in terms}
    for b, wanted in sorted(by_bucket.items()):
        for f in data_files(fs, fs_join(path, VOCAB_DIR, field, f"bucket={b}")):
            got = read_parquet(
                fs, f, _VOCAB_SCHEMA, columns=["term", "df"],
                filters=[("term", "in", wanted)],
            )
            out.update(zip(got["term"].to_pylist(), map(int, got["df"].to_pylist())))
    return out
