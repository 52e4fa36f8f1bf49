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

Build: ONE term pass per analyzed field (:func:`_term_pass`) writes both
term sidecars — this one and the term Blooms (term_blooms.py).  It
groups the stored tokens by term once: each term's df and the set of
shards holding it.  ``n_docs`` (all rows) and ``sum_dl``/``n_dl``
(token-array lengths) ride the pass as an Observation on the rows before
the explode.  A full write is a delta from an empty artifact: zero stored
stats, an empty stored vocab, every bucket touched.

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
DELTA-MAINTAIN the sidecar (:func:`prepare_stats_delta`) with the same
pass, signed: the touched shards' old rows (sign -1) and rewritten rows
(+1) are exploded into their distinct terms and summed by term, which
gives every term's df delta; observers carry the n_docs/sum_dl/n_dl delta
(from the rows before the explode) and the changed terms' bucket set (from
the aggregate) to the driver, and the O(changed terms) aggregate is
checkpointed.  The one vocab writer (:func:`_write_vocab`) then READS and
REWRITES only those buckets — the incremental path is O(touched shards +
changed-term buckets) end to end, never O(corpus) and never O(|vocab|).
At 100 TB a term dictionary is billions of rows; a 1 GB batch touches a
bounded set of buckets instead of rewriting the whole dictionary.  The
same pass recomputes the touched shards' Bloom bitmaps when that sidecar
is maintained.  ``compact`` preserves the sidecar unchanged (content is
identical).

Crash consistency: ``_SEARCH_STATS.json`` doubles as the COMMIT MARKER.
Every reader gates stored-vocab use on the stats file, so finalize
deletes it FIRST, promotes the vocab buckets, and rewrites it LAST — a
crash anywhere between leaves readers on the computed-stats fallback
(correct scores from the post-swap corpus, merely slower) instead of the
old skew state (new vocab served against old scalars).
A torn sidecar is repaired by a full write (``write_search_stats``).
"""

from __future__ import annotations

import json
import zlib

import pyspark.sql.functions as F
from pyspark import StorageLevel
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


def read_vocab(spark: SparkSession, path: str, field: str, buckets=None):
    """``field``'s stored term dictionary as ``(term, df)`` rows, read with
    the schema its writer recorded (no footer inference: planning runs no
    job); ``buckets`` prunes the read to those hash-bucket dirs."""
    from solr_map_reduce_spark.fs import join as fs_join

    vocab = spark.read.schema(_VOCAB_SCHEMA).parquet(fs_join(path, VOCAB_DIR, field))
    if buckets is not None:
        vocab = vocab.filter(F.col("bucket").isin(list(buckets)))
    return vocab.select("term", "df")


def write_search_stats(spark: SparkSession, path: str) -> dict | None:
    """Compute and persist BM25 statistics + the term dictionary for every
    analyzed field of the artifact at ``path``, from scratch (this is also
    the repair of a torn sidecar).  Returns the stats dict (None when the
    artifact has no analyzed fields)."""
    return _stage_terms(spark, path, blooms=False, stats=True)()[1]


def write_search_sidecars(
    spark: SparkSession, path: str
) -> tuple[dict | None, dict | None]:
    """Full write of BOTH term sidecars (term Blooms + BM25 stats/vocab)
    from one term pass per analyzed field (:func:`_term_pass`).  Returns
    ``(blooms_sidecar, stats)`` (both None when the artifact has no
    analyzed fields)."""
    return _stage_terms(spark, path, blooms=True, stats=True)()


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


_ZERO = {"n_docs": 0, "sum_dl": 0, "n_dl": 0}


def _length_stats(row) -> dict:
    return {key: int(row[key] or 0) for key in _ZERO}


def _term_pass(old_rows, new_rows, tokens_col: str, n_buckets, shards: list[int]):
    """The one pass over a field's stored token column that both term
    sidecars come from, for a full write and for a mutation alike.

    The old rows (sign -1; None when only the Blooms are maintained) and the
    new rows (+1) are exploded into their distinct tokens, reversed-copy
    markers included, and grouped by term once: ``_ddf`` is the term's df
    change (``df_new - df_old``) and ``_shards`` the set of ``shards`` whose
    new rows hold it.  The stats keep the visible terms of ``_ddf``, the
    Blooms hash ``_shards``.  A visible term appears in
    ``array_distinct(tokens)`` iff it appears in
    ``array_distinct(visible(tokens))``, because the reversed copies are
    DISTINCT marked tokens, so dropping them after the aggregate equals
    dropping them before the explode.

    Returns ``(change, buckets, shard_terms, terms)``: the change of
    n_docs/sum_dl/n_dl, observed on the signed rows before the explode with
    ``_length_aggs``' exact integer sums; the sorted hash buckets (of
    ``n_buckets``; none when it is None) holding a visible term whose df
    changed; each shard's distinct-term count (what a full write sizes the
    Bloom width from), observed on the aggregate; and the ``(term, _ddf,
    _shards)`` rows, checkpointed.  The explode keeps a row with no token
    (as a null term, dropped before the checkpoint), so the aggregate sees
    a row whenever either side has one; when it sees none, no metric
    arrives from before it (adaptive execution plans the empty scans away)
    and the change is zero."""
    from solr_map_reduce_spark.extensions.search import REV_MARK
    from solr_map_reduce_spark.indexing import SHARD_COL

    def signed(rows, sign: int):
        return rows.select(
            F.lit(sign).alias("_sign"), F.col(SHARD_COL).alias("_s"), tokens_col
        )

    rows = signed(new_rows, 1)
    if old_rows is not None:
        rows = signed(old_rows, -1).unionByName(rows)
    term, sign = F.col("term"), F.col("_sign")
    real = term.isNotNull()
    metrics = [F.count(F.lit(1)).alias("n")] + [
        F.count_if(real & F.array_contains("_shards", s)).alias(f"shard{s}")
        for s in shards
    ]
    if n_buckets is not None:
        changed = real & ~term.startswith(REV_MARK) & (F.col("_ddf") != 0)
        metrics.append(
            F.collect_set(F.when(changed, _bucket_expr(n_buckets))).alias("buckets")
        )
    lengths, groups = Observation(), Observation()
    terms = (
        rows.observe(lengths, *_length_aggs(tokens_col, sign))
        .select("_sign", "_s",
                F.explode_outer(F.array_distinct(F.col(tokens_col))).alias("term"))
        .groupBy("term")
        .agg(F.sum(sign).alias("_ddf"),
             F.collect_set(F.when(sign > 0, F.col("_s"))).alias("_shards"))
        .observe(groups, *metrics)
        .filter(real)
        # serialized blocks (PySpark's MEMORY_AND_DISK): a fifth of the
        # size of deserialized rows, and both consumers read them
        .localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)
    )
    seen = groups.get
    change = _length_stats(lengths.get) if seen["n"] else dict(_ZERO)
    shard_terms = {s: int(seen[f"shard{s}"]) for s in shards}
    return change, sorted(seen.get("buckets", [])), shard_terms, terms


def _write_vocab(spark: SparkSession, path: str, field: str, terms,
                 n_buckets: int, buckets) -> None:
    """The one vocab writer: stages ``field``'s new dictionary rows in
    ``_vocab/<field>__pending``.  The stored rows of the changed-term
    ``buckets`` (none on a full write, ``buckets`` None) and the df change
    of every visible term of ``terms`` (a :func:`_term_pass` result) are
    summed per term after ONE exchange by bucket; terms reaching 0 drop.
    Each bucket gets one term-sorted file whose ``df`` is a non-nullable
    bigint, whichever path wrote it."""
    from solr_map_reduce_spark.extensions.search import REV_MARK
    from solr_map_reduce_spark.fs import join as fs_join

    rows = terms.filter(
        ~F.col("term").startswith(REV_MARK) & (F.col("_ddf") != 0)
    ).select("term", F.col("_ddf").alias("df"))
    if buckets is not None:
        # pinned schema: untouched buckets are never read, not even to plan
        rows = read_vocab(spark, path, field, buckets).unionByName(rows)
    (
        rows.withColumn("bucket", _bucket_expr(n_buckets))
        .repartition(F.col("bucket"))
        .groupBy("bucket", "term")
        .agg(F.coalesce(F.sum("df"), F.lit(0)).alias("df"))
        .filter(F.col("df") > 0)
        .sortWithinPartitions("bucket", "term")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(fs_join(path, f"{VOCAB_DIR}/{field}__pending"))
    )


def _move(fs, src: str, dst: str) -> None:
    if fs.exists(src):
        fs.rename(src, dst)


def _swap_vocab(fs, path: str, pending: dict) -> None:
    """Promote each field's staged buckets: ``pending`` maps a field to
    its touched buckets, or to None when a full write replaces the whole
    dir.  A touched bucket with no staged dir lost all its terms and is
    removed (its old contents would serve stale dfs); old buckets survive
    in a trash dir until the new ones are in place."""
    from solr_map_reduce_spark.fs import join as fs_join

    trash = fs_join(path, VOCAB_DIR, "__trash")
    fs.delete(trash)
    fs.mkdirs(trash)
    for field, buckets in pending.items():
        cur = fs_join(path, VOCAB_DIR, field)
        pend, old = f"{cur}__pending", fs_join(trash, field)
        if buckets is None:
            _move(fs, cur, old)
            _move(fs, pend, cur)
            fs.mkdirs(cur)  # an empty dictionary may stage no dir
            continue
        fs.mkdirs(old)
        for b in buckets:
            name = f"bucket={b}"
            _move(fs, fs_join(cur, name), fs_join(old, name))
            _move(fs, fs_join(pend, name), fs_join(cur, name))
        fs.delete(pend)
    fs.delete(trash)


def _stage_terms(spark: SparkSession, path: str, blooms: bool, stats: bool,
                 old_rows=None, new_rows=None, touched=None):
    """Stage the term sidecars' new state from one :func:`_term_pass` per
    analyzed field; returns the ``finalize()`` that commits it, or None
    when a stored sidecar is torn.

    ``touched`` None is a full write, treated as a delta from an empty
    artifact: the new rows are the whole artifact, the stored stats are
    zeros and the stored vocab empty, the bucket count comes from the
    artifact's size estimate, every shard and bucket counts as touched,
    and each Bloom width is sized from the observed per-shard term counts.
    Otherwise ``old_rows``/``new_rows`` are the ``touched`` shards before
    and after a rewrite: the stats and the vocab buckets of the changed
    terms move by the signed change, and the touched shards' bitmaps are
    recomputed at the stored (m, k).  The stats are torn when
    :func:`_whole_stats` refuses them, the Blooms when a field has no
    stored (m, k); the caller then runs the full write.

    ``finalize()`` writes the Blooms, then takes the ``_SEARCH_STATS.json``
    commit marker DOWN, promotes the staged vocab buckets and writes the
    stats LAST; it returns ``(blooms_sidecar, stats)``, None for an output
    not maintained."""
    from solr_map_reduce_spark import term_blooms
    from solr_map_reduce_spark.fs import get_fs
    from solr_map_reduce_spark.fs import join as fs_join
    from solr_map_reduce_spark.indexing import MANIFEST, read_index

    fs = get_fs(path, spark)
    manifest = json.loads(fs.read_text(fs_join(path, MANIFEST)))
    analyzed: dict = manifest.get("analyzed", {})
    if not analyzed:
        return lambda: (None, None)
    if touched is None:
        new_rows = read_index(spark, path)
        shards = list(range(int(manifest["shards"])))
        stored, stored_blooms = {f: _ZERO for f in analyzed}, {}
        n_buckets = _auto_buckets(_size_estimate(new_rows)) if stats else None
    else:
        shards = sorted(int(s) for s in touched)
        stored = _whole_stats(spark, fs, path, analyzed) if stats else {}
        stored_blooms = (term_blooms.load_term_blooms(spark, path) or {}) if blooms else {}
        if stored is None or (blooms and not all(
            {"m", "k"} <= set(stored_blooms.get(f, {})) for f in analyzed
        )):
            return None
        n_buckets = int(load_vocab_meta(fs, path)["n_buckets"]) if stats else None

    # field -> its new stats, its touched buckets (None: all), its Blooms
    new_stats, pending, sidecar = {}, {}, {}
    for field, info in analyzed.items():
        change, buckets, shard_terms, terms = _term_pass(
            old_rows if stats else None, new_rows, info["tokens_col"],
            n_buckets, shards if blooms else [],
        )
        if stats:
            new_stats[field] = {k: int(stored[field][k]) + v for k, v in change.items()}
            pending[field] = None if touched is None else buckets
            if touched is None or buckets:
                # materialize NOW: the stored buckets it reads move at finalize
                _write_vocab(spark, path, field, terms, n_buckets, pending[field])
        if blooms:
            sidecar[field] = term_blooms._field_blooms(
                field, terms, shard_terms, stored_blooms.get(field)
            )

    def finalize() -> tuple[dict | None, dict | None]:
        if blooms:
            fs.write_text(fs_join(path, term_blooms.BLOOMS), json.dumps(sidecar))
        if not stats:
            return sidecar, None
        # marker DOWN: from here until the final write, readers see no
        # stats file and fall back to computing statistics — correct
        # post-swap scores, never new-vocab-with-old-scalars skew
        fs.delete(fs_join(path, STATS))
        _swap_vocab(fs, path, pending)
        _write_vocab_meta(fs, path, n_buckets)
        fs.write_text(fs_join(path, STATS), json.dumps(new_stats))  # marker UP last
        return (sidecar if blooms else None), new_stats

    return finalize


def prepare_stats_delta(spark: SparkSession, path: str, old_subset, new_subset,
                        touched: list[int], *, blooms: bool, stats: bool):
    """O(touched) maintenance of the term sidecars for a touched-shard
    rewrite (``merge_into``, ``update_fields``, ``delete_where``).
    ``old_subset`` is the artifact content of the ``touched`` shards BEFORE
    the swap (still readable); ``new_subset`` is the rewritten content (read
    back from the staging dir).  All scans run HERE, pre-swap, in one
    signed :func:`_term_pass` per analyzed field:

    - ``stats' = stats - agg(old) + agg(new)`` (exact integer arithmetic —
      identical to a full rebuild by associativity of count/sum);
    - the term dictionary gets ``df'(t) = df_stored(t) + df_new(t) -
      df_old(t)``, terms reaching 0 dropped.  Only changed terms can move,
      so the stored vocab is read with a BUCKET-PRUNED scan and only those
      buckets are staged (:func:`_write_vocab`) — O(changed-term
      buckets), not O(|vocab|);
    - with ``blooms``, the touched shards' bitmaps at the stored (m, k).

    Returns a ``finalize()`` closure to call AFTER the artifact swap (see
    :func:`_stage_terms`), or None when a maintained sidecar is torn — the
    caller then runs the full write."""
    return _stage_terms(spark, path, blooms, stats, old_subset, new_subset, touched)


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
