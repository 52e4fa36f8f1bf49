"""Per-shard term Bloom filters — shard pruning for term queries.

The reference's artifact is a Lucene index: a term query touches only the
postings of that term.  This engine's artifact is sharded parquet whose
stored token arrays answer term queries with a scan; at 100 TB even a
column-pruned scan of every shard is the wrong cost when the term lives in
a handful of shards.  The sidecar closes that gap:

    out/_TERM_BLOOMS.json    {field: {m, k, shards: {"0": base64 bitmap}}}

Build: one pass over the stored token column — ``(shard, token)`` distinct,
k positions per token via ``xxhash64(token, i) % m`` (JVM-side), distinct
positions per shard collected and packed into a bitmap driver-side.  The
width m is sized from the largest per-shard distinct-term count
(:func:`_auto_bloom_m`, 2^16 to 2^24 bits = 8 KiB to 2 MiB per shard).

Query: ``SearchIndex.contains_all/any/phrase`` intersect the query terms
with each shard's bitmap and add a ``shard IN (candidates)`` partition
filter before the scan — Bloom semantics guarantee NO false negatives, so
results are identical; false positives only cost scanning an extra shard.

Mutation safety: deleting rows leaves bitmaps a superset (still correct);
``merge_into`` ADDS tokens, so it refreshes the touched shards' bitmaps
when a sidecar exists (a stale bitmap there would be a false negative).
"""

from __future__ import annotations

import base64
import json
import warnings

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from solr_map_reduce_spark.lru import LRU

BLOOMS = "_TERM_BLOOMS.json"
DEFAULT_M = 1 << 16  # bitmap width floor (8 KiB per shard)
DEFAULT_K = 4
MAX_M = 1 << 24  # width cap: 2 MiB bitmap per shard per field

# Bits per distinct term a full build sizes the bitmap for: 16 at k=4 gives
# a false-positive rate of ~0.24%.  A fixed width would saturate on a large
# corpus — at m=2^16/k=4 a shard with 1 M distinct terms drives the rate to
# ~1.0 and candidate_shards degenerates to "all shards".
_BLOOM_BITS_PER_TERM = 16


def _auto_bloom_m(n_terms: int) -> int:
    """Smallest power-of-two bitmap width in [DEFAULT_M, MAX_M] giving at
    least ``_BLOOM_BITS_PER_TERM`` bits per distinct term (the max over
    shards).  Powers of two keep ``pmod(xxhash64, m)`` a mask and make any
    two widths fold-compatible; the cap bounds the sidecar JSON (base64 of
    m/8 bytes per shard per field) at 100 TB scale, degrading FP
    gracefully instead of growing the artifact without bound."""
    need = max(int(n_terms), 0) * _BLOOM_BITS_PER_TERM
    m = DEFAULT_M
    while m < MAX_M and m < need:
        m <<= 1
    return m


def _positions_col(token: F.Column, m: int, k: int) -> F.Column:
    """k bloom positions for a token, all JVM-side (xxhash64 with the probe
    index as a second hashed column acts as the seed)."""
    return F.array(
        *[F.pmod(F.xxhash64(token, F.lit(i)), F.lit(m)).cast("int") for i in range(k)]
    )


def _max_shard_terms(terms) -> int:
    """Largest per-shard distinct-term count of a distinct ``(_s, term)``
    set — one cheap job over the (persisted) set the bitmap job reads
    anyway, not a second corpus pass."""
    return max(
        (int(r["count"]) for r in terms.groupBy("_s").count().collect()),
        default=0,
    )


def _bitmaps(terms, term_col: str, m: int, k: int) -> dict[str, str]:
    """Base64 bitmap per shard of a distinct ``(_s, term_col)`` set.  The
    distinct (shard, position) pairs are collected directly and packed
    driver-side: grouping them per shard first would add a full exchange
    of the position set only to reshape rows the driver unpacks anyway
    (the collected volume is bounded by shards x m either way)."""
    bitmaps: dict[str, bytearray] = {}
    for row in (
        terms.select("_s", F.explode(_positions_col(F.col(term_col), m, k)).alias("_p"))
        .distinct()
        .collect()
    ):
        s = str(int(row["_s"]))
        bm = bitmaps.get(s)
        if bm is None:
            bm = bitmaps[s] = bytearray(m // 8)
        p = row["_p"]
        bm[p // 8] |= 1 << (p % 8)
    return {s: base64.b64encode(bytes(bm)).decode() for s, bm in bitmaps.items()}


# (m, k, term) -> positions
_POSITIONS_MEMO: LRU = LRU(4096)


def _terms_positions(
    spark: SparkSession, terms: list[str], m: int, k: int
) -> dict[str, list[int]]:
    """Positions for query terms, computed by the SAME JVM expression used
    at build time (one tiny local job on a |terms|-row DataFrame).
    Memoized per (m, k, term): repeated queries — the serving pattern —
    skip the job entirely."""
    out: dict[str, list[int]] = {}
    for t in terms:
        if (m, k, t) in _POSITIONS_MEMO:
            out[t] = _POSITIONS_MEMO[(m, k, t)]
    missing = [t for t in terms if t not in out]
    if missing:
        df = spark.createDataFrame([(t,) for t in missing], "term string")
        rows = df.select(
            "term", _positions_col(F.col("term"), m, k).alias("pos")
        ).collect()
        for r in rows:
            out[r["term"]] = _POSITIONS_MEMO[(m, k, r["term"])] = list(r["pos"])
    return out


def write_term_blooms(
    spark: SparkSession, path: str, shards: list[int] | None = None
) -> dict | None:
    """Compute and persist per-shard bitmaps for every analyzed field of the
    artifact at ``path``.  Returns the sidecar dict (None when the artifact
    has no analyzed fields).

    A full build sizes each field's width with :func:`_auto_bloom_m` from
    the largest per-shard distinct-term count.  ``shards`` restricts the
    recompute to those shard dirs (partition-pruned scan) and merges into
    the existing sidecar — the ``merge_into`` refresh path.  It ADOPTS the
    stored per-field (m, k), so the untouched bitmaps stay valid by
    construction; when the sidecar is absent or misses an analyzed field
    the untouched shards' bitmaps cannot be kept, and the refresh rebuilds
    in full (a missing shard would be a query false negative).  Adopted
    refreshes re-check saturation: when the touched shards' distinct-term
    count leaves the stored width under half the bits-per-term target, a
    loud warning recommends a full re-size."""
    from solr_map_reduce_spark.fs import get_fs
    from solr_map_reduce_spark.fs import join as fs_join
    from solr_map_reduce_spark.indexing import MANIFEST, SHARD_COL, read_index

    fs = get_fs(path, spark)
    manifest = json.loads(fs.read_text(fs_join(path, MANIFEST)))
    analyzed: dict = manifest.get("analyzed", {})
    if not analyzed:
        return None
    existing: dict = {}
    if shards is not None and fs.exists(fs_join(path, BLOOMS)):
        existing = json.loads(fs.read_text(fs_join(path, BLOOMS)))
    # a subset refresh needs a stored (m, k) for every analyzed field
    if not all({"m", "k"} <= set(existing.get(f, {})) for f in analyzed):
        shards, existing = None, {}

    idx = read_index(spark, path)
    if shards is not None:
        idx = idx.filter(F.col(SHARD_COL).isin([int(s) for s in shards]))
    sidecar: dict = {}
    for field, info in analyzed.items():
        terms = (
            idx.select(
                F.col(SHARD_COL).alias("_s"),
                F.explode(F.array_distinct(F.col(info["tokens_col"]))).alias("_t"),
            )
            .distinct()
            .persist()
        )
        try:
            n_max = _max_shard_terms(terms)
            if shards is None:
                m, k = _auto_bloom_m(n_max), DEFAULT_K
            else:
                m, k = int(existing[field]["m"]), int(existing[field]["k"])
                if n_max and m < n_max * max(_BLOOM_BITS_PER_TERM // 2, 1):
                    # an adopted width never grows, so a corpus that outgrew
                    # it would silently decay to FP ~1: pruning dies while
                    # the build cost stays
                    warnings.warn(
                        f"term-bloom sidecar for field {field!r}: stored "
                        f"m={m} gives {m / n_max:.1f} bits/term for "
                        f"{n_max} distinct terms in the refreshed shards "
                        f"(target {_BLOOM_BITS_PER_TERM}); shard pruning is "
                        "degrading — run a full write_term_blooms(spark, "
                        "path) to re-size the bitmaps",
                        stacklevel=2,
                    )
            shard_maps = dict(existing.get(field, {}).get("shards", {}))
            shard_maps.update(_bitmaps(terms, "_t", m, k))
        finally:
            terms.unpersist()
        sidecar[field] = {"m": m, "k": k, "shards": shard_maps}

    fs.write_text(fs_join(path, BLOOMS), json.dumps(sidecar))
    return sidecar


def load_term_blooms(spark: SparkSession, path: str) -> dict | None:
    from solr_map_reduce_spark.fs import get_fs
    from solr_map_reduce_spark.fs import join as fs_join

    fs = get_fs(path, spark)
    full = fs_join(path, BLOOMS)
    if not fs.exists(full):
        return None
    return json.loads(fs.read_text(full))


def candidate_shards(
    spark: SparkSession,
    blooms: dict,
    field: str,
    terms: list[str],
    mode: str = "all",
) -> list[int] | None:
    """Shards that can possibly satisfy the term query, or None when the
    sidecar doesn't cover the field (no pruning).  ``mode='all'`` keeps a
    shard when EVERY term might be present (AND/phrase), ``'any'`` when ANY
    might be (OR)."""
    info = blooms.get(field)
    if not info or not terms:
        return None
    m, k = int(info["m"]), int(info["k"])
    positions = _terms_positions(spark, list(terms), m, k)
    bitmaps = {
        int(s): base64.b64decode(b64) for s, b64 in info["shards"].items()
    }
    for s, bm in bitmaps.items():
        if len(bm) != m // 8:
            # loud, typed: a truncated/tampered bitmap previously hit a
            # bare IndexError mid-probe — and a silently-short bitmap
            # read as "bit clear" would PRUNE a matching shard (a false
            # negative, the one thing the Bloom contract forbids)
            raise ValueError(
                f"term-bloom bitmap for field {field!r} shard {s} is "
                f"{len(bm)} bytes, expected {m // 8} — sidecar corrupt; "
                "rebuild with write_term_blooms"
            )

    def has(bm: bytes, term: str) -> bool:
        return all(bm[p // 8] & (1 << (p % 8)) for p in positions[term])

    out = []
    for shard, bm in bitmaps.items():
        hits = [has(bm, t) for t in terms]
        if (mode == "all" and all(hits)) or (mode == "any" and any(hits)):
            out.append(shard)
    return sorted(out)
