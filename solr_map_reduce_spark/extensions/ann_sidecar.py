"""ANN serving sidecar for the {!knn} query parser: build, sublinear
probe, and O(touched) delta maintenance across every engine mutation.

Layout under ``<index>/_ann/<field>/``:

- ``_IVF_MANIFEST.json`` / ``_IVFPQ_MANIFEST.json`` + ``vectors/`` or
  ``codes/`` partitioned by coarse bucket — the
  :class:`~solr_map_reduce_spark.extensions.similarity.IvfIndex` /
  ``IvfPqIndex`` persistence (epoch-0 base).  The manifest records the
  base's schema; every read of the base, the delta and the tombstones is
  pinned to it, and a sidecar without one is an older layout
  (:func:`load` returns None).
- ``_ANN_META.json`` — ``{kind, field, nprobe, built_generation,
  epoch}``.  ``built_generation`` pins the sidecar to the artifact
  manifest's content hash; a mismatch reads as STALE and the query
  falls back to the exact scan (never a stale answer).  ``epoch`` is a
  monotone mutation counter consumed by the delta rows below.
- ``delta/`` (optional) — upserted vectors (IVF) or PQ codes (IVF-PQ),
  partitioned by bucket like the base, each row carrying its
  ``_ann_epoch``.
- ``tombstones/`` (optional) — ``(key, tomb_epoch)`` rows appended by
  deletes and upserts.

Liveness rule (the versioned-exclusion contract): a stored row of key
``k`` at epoch ``e`` is ALIVE iff no tombstone for ``k`` has
``tomb_epoch > e``.  Every upsert tombstones its batch keys at the new
epoch and appends the post-resolution rows at that same epoch, so
exactly one row per present key is alive; a delete tombstones at a new
epoch with no append, so none is.  The rule is applied BEFORE the
top-k, over probe-pruned rows only, in two twins that must agree:
:func:`alive_mask` against the tombstones' per-key maximum
(:func:`tombstone_max`) when serving, and the Spark join
:func:`_apply_liveness` when :func:`compact` folds whole buckets.

Serving (:func:`probe_topk`) runs in the driver, as a Solr searcher
answers a vector query in-process: the probed ``bucket=N`` files of the
base and the delta are read one at a time through ``fs.read_parquet``,
pinned to the recorded schema, scored with the Spark path's own
arithmetic and cut to a running top-k, so a sidecar knn page runs no
Spark job on any filesystem scheme.  A ``{!knn preFilter=}`` adds one
job: finding which probed keys the filter admits.

Maintenance is one pass for every mutation (:func:`delta_upsert`, run
on one batch frame the mutation materialized before its shard swap):
each sidecar is tombstoned and appended to, or only re-pinned.
Crash-safety (two-phase meta): a sidecar the batch touches first gets
its meta written with the NEW epoch but the OLD generation (consuming
the epoch — a crashed attempt's partial delta/tombstone rows can never
be revived by a later mutation reusing the number), then its
delta/tombstones appended, then ``built_generation`` re-pinned last.  A
crash anywhere in between leaves the meta stale → exact fallback.
Staleness is STICKY: the pass is gated on each meta being pinned to the
generation its mutation started from (``pre_gen``), so a sidecar left
behind by ANY earlier event — crashed phase, legacy-schema skip — is
never re-pinned by later mutations; only ``build_ann`` recovers it.
``compact`` bumps the artifact generation before folding so live
handles drop their memoized sidecar and serve exact during the fold
window.

Reference parity: Solr 9's KnnQParser serves from a Lucene HNSW graph
(sublinear per query, rebuilt per segment on reindex); the
partitioned-storage analog here is IVF bucket pruning with
delta-maintained liveness instead of per-segment graph rebuilds.
"""

from __future__ import annotations

import json

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructField, StructType

from solr_map_reduce_spark.fs import get_fs
from solr_map_reduce_spark.fs import join as fs_join

ANN_DIR = "_ann"
ANN_META = "_ANN_META.json"
TOMBSTONES = "tombstones"
DELTA = "delta"
EPOCH_COL = "_ann_epoch"


# -- meta ----------------------------------------------------------------

def side_path(index_path: str, field: str) -> str:
    return fs_join(index_path, ANN_DIR, field)


def load_meta(fs, side: str) -> dict | None:
    try:
        return json.loads(fs.read_text(fs_join(side, ANN_META)))
    except Exception:
        return None


def write_meta(fs, side: str, meta: dict) -> None:
    fs.write_text(fs_join(side, ANN_META), json.dumps(meta))


def manifest_generation_hash(fs, index_path: str) -> str | None:
    """sha1 of the artifact manifest text — the same fingerprint
    ``SearchIndex._current_generation`` computes, so metas written with
    it read as generation-current to live handles."""
    import hashlib

    from solr_map_reduce_spark.indexing import MANIFEST

    try:
        text = fs.read_text(fs_join(index_path, MANIFEST))
    except Exception:
        return None
    return hashlib.sha1(text.encode("utf-8")).hexdigest()


def sidecars(fs, index_path: str) -> list[tuple[str, str]]:
    """(field, side_path) for every sidecar present under the artifact."""
    base = fs_join(index_path, ANN_DIR)
    try:
        names = fs.listdir(base)
    except Exception:
        return []
    out = []
    for d in names:
        side = fs_join(base, d)
        if fs.exists(fs_join(side, ANN_META)):
            out.append((d, side))
    return out


def _base(kind: str, index) -> "tuple[str, StructType | None]":
    """(sub-dir, recorded schema) of a loaded index's epoch-0 base."""
    pinned = index.vectors_schema if kind == "ivf" else index.codes_schema
    schema = StructType.fromJson(pinned) if pinned else None
    return ("vectors" if kind == "ivf" else "codes"), schema


def load(spark: SparkSession, side: str, meta: dict):
    """``(kind, index, sub, schema)`` for the sidecar at ``side``: the
    loaded IvfIndex / IvfPqIndex, the sub-dir of its base and the schema
    the base was written with.  None when the kind is unknown, the sidecar
    is unreadable, or its manifest records no base schema (an older
    layout: serving answers exactly and maintenance leaves it stale until
    ``build_ann``)."""
    from solr_map_reduce_spark.extensions import similarity as sim

    kind = meta.get("kind", "ivf")
    cls = {"ivf": sim.IvfIndex, "ivfpq": sim.IvfPqIndex}.get(kind)
    if cls is None:
        return None
    try:
        index = cls.load(spark, side)
    except Exception:
        return None
    sub, schema = _base(kind, index)
    return None if schema is None else (kind, index, sub, schema)


# -- build ---------------------------------------------------------------

def _unit_normalized(df: DataFrame, field: str) -> DataFrame:
    """L2-normalize the vector column JVM-side (zero vectors stay zero):
    PQ codes of unit vectors make the ADC score rank by cosine instead
    of ||v||·cos."""
    from solr_map_reduce_spark.extensions.similarity import _as_double, l2_norm

    v = _as_double(F.col(field))
    nrm = l2_norm(v)
    return df.withColumn(
        field, F.when(nrm == 0.0, v).otherwise(F.transform(v, lambda x: x / nrm))
    )


def _auto_nprobe(
    base_rows: DataFrame,
    field: str,
    centroids,
    unit_space: bool,
    target_recall: float = 0.9,
    sample_n: int = 2048,
    n_queries: int = 16,
    k: int = 10,
    seed: int = 7,
) -> dict:
    """Pick the smallest serving nprobe whose ESTIMATED recall@k meets
    ``target_recall``, from one bounded held-out probe: sample ~sample_n
    vectors (ONE pass over the vector column), compute each sample
    query's exact cosine top-k WITHIN the sample, and measure what
    fraction of those true neighbors live in the query's first-p probe
    buckets, cumulatively over p.  Driver-side numpy on the bounded
    sample — build-time maintenance cost, amortized over every query
    the picked default serves.  Returns {nprobe, estimated_recall,
    target_recall, sample_n, n_queries} for the meta (observability:
    the pick is auditable)."""
    import numpy as np

    from solr_map_reduce_spark.extensions.similarity import _driver_sample

    co = np.asarray(centroids, dtype=np.float64)
    n_centroids = len(co)
    X = _driver_sample(base_rows, field, sample_n, seed)
    if len(X) < k + 1:
        return {"nprobe": n_centroids, "estimated_recall": 1.0,
                "target_recall": target_recall, "sample_n": int(len(X)),
                "n_queries": 0}
    with np.errstate(invalid="ignore", divide="ignore"):
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    Xn = np.nan_to_num(Xn)
    # assignment in the space the sidecar stores (unit for ivfpq)
    A = Xn if unit_space else X
    assign = (
        -2.0 * (A @ co.T) + (co**2).sum(axis=1)[None, :]
    ).argmin(axis=1)
    rng = np.random.RandomState(seed)
    qidx = rng.choice(len(X), size=min(n_queries, len(X)), replace=False)
    # hit_rank[h] = position of the true neighbor's bucket in its
    # query's probe ranking; recall(p) = fraction with rank < p
    ranks: list = []
    for qi in qidx:
        q = A[qi]
        bucket_order = (
            (co - q[None, :]) ** 2
        ).sum(axis=1).argsort()
        pos = np.empty(n_centroids, dtype=np.int64)
        pos[bucket_order] = np.arange(n_centroids)
        sims = Xn @ Xn[qi]
        sims[qi] = -np.inf  # the query itself is not a neighbor
        top = np.argsort(-sims)[:k]
        ranks.extend(pos[assign[top]].tolist())
    ranks_arr = np.asarray(ranks)
    est = 1.0
    for p in range(1, n_centroids + 1):
        est = float((ranks_arr < p).mean())
        if est >= target_recall:
            return {"nprobe": p, "estimated_recall": round(est, 4),
                    "target_recall": target_recall,
                    "sample_n": int(len(X)), "n_queries": int(len(qidx))}
    return {"nprobe": n_centroids, "estimated_recall": round(est, 4),
            "target_recall": target_recall, "sample_n": int(len(X)),
            "n_queries": int(len(qidx))}


def _auto_adaptive_tau(
    base_rows: DataFrame,
    field: str,
    centroids,
    unit_space: bool,
    target_recall: float = 0.9,
    sample_n: int = 2048,
    n_queries: int = 16,
    k: int = 10,
    seed: int = 7,
) -> dict:
    """Calibrate the PER-QUERY adaptive-nprobe closure ratio ``tau``:
    at serve time the probe reads every bucket whose coarse
    (Euclidean) centroid distance is within ``tau ×`` the query's own
    nearest-centroid distance — the ε-ball closure rule SPANN serves
    with (Chen et al., NeurIPS 2021, §4: "query-aware dynamic
    pruning").  A fixed nprobe pays the boundary-query worst case on
    every query; the ratio rule probes 1–2 buckets when one centroid
    dominates and widens only where the query actually sits between
    buckets.

    Calibration mirrors :func:`_auto_nprobe`'s bounded held-out
    probe: sample ~``sample_n`` vectors, take ``n_queries`` of them
    as queries, compute each query's exact top-``k`` within the
    sample, and record for every true neighbor the ratio
    d(query, centroid_of(neighbor's bucket)) / d(query, nearest
    centroid).  ``tau`` is the ``target_recall`` quantile of those
    ratios; the estimated recall, the ratio distribution inputs, and
    the resulting mean/max nprobe on the sample are recorded in the
    meta (the pick is auditable, and mean_nprobe doubles as the
    integer fallback default for paths the ratio rule doesn't cover).
    A too-small sample returns ``tau=None`` — serve treats that as
    full probe (never silently under-probes).

    Query space: cosine's answer depends only on the query's
    DIRECTION, but the raw coarse-distance profile depends on its
    NORM — a query far outside the corpus norm distribution skews
    the ratio profile (a tiny norm collapses to ~1 probed bucket, a
    huge one forces near-full probe) even though the true result is
    unchanged.  The profile is therefore computed with every query
    rescaled to the corpus RMS norm (recorded as ``rms_norm`` in the
    meta; serve and probe ordering apply the same rescale), which is
    (a) a no-op for in-distribution queries, (b) scale-invariant, and
    (c) exactly unit-normalization when the corpus itself is
    unit-norm — NOT plain unit-normalization, which against raw
    centroids at corpus radius R flattens every ratio toward 1 and
    destroys the rule's discrimination.  ivfpq calibrates in its
    stored unit space as before."""
    import numpy as np

    from solr_map_reduce_spark.extensions.similarity import _driver_sample

    co = np.asarray(centroids, dtype=np.float64)
    n_centroids = len(co)
    X = _driver_sample(base_rows, field, sample_n, seed)
    base = {"target_recall": target_recall, "sample_n": int(len(X)),
            "query_space": "unit" if unit_space else "corpus_rms"}
    if len(X) < k + 1:
        return {**base, "tau": None, "estimated_recall": 1.0,
                "n_queries": 0, "mean_nprobe": n_centroids,
                "max_nprobe": n_centroids}
    norms = np.linalg.norm(X, axis=1)
    with np.errstate(invalid="ignore", divide="ignore"):
        Xn = X / norms[:, None]
    Xn = np.nan_to_num(Xn)
    A = Xn if unit_space else X
    assign = (
        -2.0 * (A @ co.T) + (co**2).sum(axis=1)[None, :]
    ).argmin(axis=1)
    finite = norms[np.isfinite(norms) & (norms > 0.0)]
    rms = float(np.sqrt((finite**2).mean())) if len(finite) else 1.0
    if not unit_space:
        base["rms_norm"] = rms
    rng = np.random.RandomState(seed)
    qidx = rng.choice(len(X), size=min(n_queries, len(X)), replace=False)
    ratios: list = []
    profiles: list = []
    for qi in qidx:
        q = Xn[qi] * (1.0 if unit_space else rms)
        d = np.sqrt(((co - q[None, :]) ** 2).sum(axis=1))
        dmin = max(float(d.min()), 1e-12)
        sims = Xn @ Xn[qi]
        sims[qi] = -np.inf
        top = np.argsort(-sims)[:k]
        ratios.extend((d[assign[top]] / dmin).tolist())
        profiles.append(d / dmin)
    r = np.sort(np.asarray(ratios))
    # smallest tau covering target_recall of the true-neighbor buckets,
    # floored at a 1% closure slack: a sample of in-distribution
    # (cluster-interior) queries can yield tau == 1.0 exactly — zero
    # tolerance, so EVERY query would probe exactly one bucket and a
    # genuinely ambiguous boundary query (the case the ratio rule
    # exists for, absent from such a sample by construction)
    # under-probes on any sub-percent asymmetry.  Near-ties within 1%
    # probe both buckets; well-separated queries (ratios >> 1) are
    # unaffected.
    pos = min(int(np.ceil(target_recall * len(r))) - 1, len(r) - 1)
    tau = max(float(r[max(pos, 0)]), 1.01)
    est = float((np.asarray(ratios) <= tau).mean())
    per_q = [int((p <= tau).sum()) for p in profiles]
    return {**base, "tau": tau, "estimated_recall": round(est, 4),
            "n_queries": int(len(qidx)),
            "mean_nprobe": max(1, int(round(float(np.mean(per_q))))),
            "max_nprobe": int(max(per_q))}


def _rescale_query(meta: dict, kind: str, q):
    """Put a cosine/unit-dot query into the space its sidecar's probe
    profile was calibrated in: unit for ivfpq (the stored space), the
    corpus RMS norm for an adaptively-calibrated ivf sidecar (scale
    invariance without flattening the ratio profile — see
    :func:`_auto_adaptive_tau`).  Metas without ``rms_norm`` (fixed
    nprobe, or calibrated before the field existed) keep the raw
    query — behavior-stable."""
    import numpy as np

    q = np.asarray(q, dtype=np.float64)
    nrm = float(np.sqrt((q * q).sum()))
    if nrm <= 0.0:
        return q
    if kind == "ivfpq":
        return q / nrm
    rms = (meta.get("adaptive") or {}).get("rms_norm")
    if rms:
        return q * (float(rms) / nrm)
    return q


def adaptive_nprobe(meta: dict, index, qvec) -> int:
    """Per-query nprobe from the query's own coarse-distance profile:
    the number of buckets within ``tau ×`` the nearest-centroid
    distance (calibrated by :func:`_auto_adaptive_tau`), clamped to
    [1, n_centroids].  ``tau=None`` (calibration had no sample) means
    full probe.  Pure driver-side numpy over the (small) centroid
    table — no data read; the widening loop still applies after, so a
    tombstone-thinned or filtered page can never come back short.
    The query is rescaled into the calibration space first
    (:func:`_rescale_query`) so an out-of-distribution query NORM
    cannot skew the profile cosine's answer doesn't depend on."""
    import numpy as np

    kind = meta.get("kind", "ivf")
    ivf = index if kind == "ivf" else index.ivf
    n_centroids = len(ivf.centroids)
    tau = meta.get("adaptive", {}).get("tau")
    if tau is None:
        return n_centroids
    q = _rescale_query(meta, kind, qvec)
    d = np.sqrt(((ivf.centroids - q[None, :]) ** 2).sum(axis=1))
    dmin = max(float(d.min()), 1e-12)
    return max(1, min(int((d <= tau * dmin).sum()), n_centroids))


def _mips_aug_denoms(dot_route: dict, centroids):
    """Norm-augmented centroid magnitudes ``‖[c_b; aug_b]‖`` shared by
    the MIPS probe ranking and the MIPS adaptive profile (one formula,
    two call sites — they MUST agree or the adaptive count stops being
    a prefix of the probe order)."""
    import numpy as np

    co = np.asarray(centroids, dtype=np.float64)
    n = np.asarray(dot_route["n"], dtype=np.float64)
    s2 = np.asarray(dot_route["sum_nrm2"], dtype=np.float64)
    m2 = float(dot_route["max_norm"]) ** 2
    mean2 = np.where(n > 0, s2 / np.maximum(n, 1.0), 0.0)
    aug2 = np.maximum(m2 - mean2, 0.0)
    return co, np.maximum(np.sqrt((co**2).sum(axis=1) + aug2), 1e-12)


def _mips_profile(dot_route: dict, centroids, q):
    """Per-bucket ANGULAR distance profile in the MIPS-augmented space:
    the augmented cosine between [q; 0] and [c_b; aug_b] is
    ŝ_b = dot(q, c_b) / (‖[c_b; aug_b]‖ · ‖q‖) ∈ [−1, 1], and
    d_b = sqrt(2 − 2·ŝ_b) is the Euclidean distance between the two
    unit-normalized augmented vectors — a genuine distance the SPANN
    ε-ball ratio rule applies to unchanged.  Monotone-decreasing in
    the probe-ranking score, so the τ-ball is always a PREFIX of
    :func:`_mips_probe_order`'s bucket order.  Scale-invariant in the
    query by construction.  ``None`` for a zero-norm query (dot's
    degenerate case — caller full-probes)."""
    import numpy as np

    q = np.asarray(q, dtype=np.float64)
    qn = float(np.sqrt((q * q).sum()))
    if qn <= 0.0 or not np.isfinite(qn):
        return None
    co, denom = _mips_aug_denoms(dot_route, centroids)
    s_hat = np.clip((co @ q) / (denom * qn), -1.0, 1.0)
    return np.sqrt(np.maximum(2.0 - 2.0 * s_hat, 0.0))


def _auto_adaptive_tau_dot(
    base_rows: DataFrame,
    field: str,
    centroids,
    dot_route: dict,
    target_recall: float = 0.9,
    sample_n: int = 2048,
    n_queries: int = 16,
    k: int = 10,
    seed: int = 7,
) -> dict:
    """Calibrate the adaptive-nprobe closure ratio for NON-unit
    inner-product ({!knn similarity=dot} MIPS) queries.  The L2
    centroid-distance profile :func:`_auto_adaptive_tau` calibrates on
    does not rank buckets for dot — the MIPS probe order is the
    norm-augmented-centroid score (:func:`_mips_probe_order`) — so τ
    is calibrated on THAT profile, mapped to a proper distance via the
    augmented angular form (:func:`_mips_profile`): sample vectors,
    take queries, compute each query's exact DOT top-k within the
    sample, and record d(neighbor's bucket)/d(nearest bucket) ratios;
    τ is the ``target_recall`` quantile.  Same bounded build-time
    cost and the same auditable meta shape as the cosine calibration;
    ``tau=None`` (no usable sample/queries) means serve full-probes —
    never a silent under-probe."""
    import numpy as np

    from solr_map_reduce_spark.extensions.similarity import _driver_sample

    co = np.asarray(centroids, dtype=np.float64)
    n_centroids = len(co)
    X = _driver_sample(base_rows, field, sample_n, seed)
    base = {"target_recall": target_recall, "sample_n": int(len(X)),
            "query_space": "mips_augmented"}
    if len(X) < k + 1:
        return {**base, "tau": None, "estimated_recall": 1.0,
                "n_queries": 0, "mean_nprobe": n_centroids,
                "max_nprobe": n_centroids}
    # ivf assignment rule: raw-L2 nearest centroid (matches build)
    assign = (
        -2.0 * (X @ co.T) + (co**2).sum(axis=1)[None, :]
    ).argmin(axis=1)
    rng = np.random.RandomState(seed)
    qidx = rng.choice(len(X), size=min(n_queries, len(X)), replace=False)
    ratios: list = []
    profiles: list = []
    for qi in qidx:
        d = _mips_profile(dot_route, co, X[qi])
        if d is None:
            continue  # zero/non-finite sample query: no profile
        dmin = max(float(d.min()), 1e-12)
        sims = X @ X[qi]  # true inner product, raw space
        sims[qi] = -np.inf
        top = np.argsort(-sims)[:k]
        ratios.extend((d[assign[top]] / dmin).tolist())
        profiles.append(d / dmin)
    if not ratios:
        return {**base, "tau": None, "estimated_recall": 1.0,
                "n_queries": 0, "mean_nprobe": n_centroids,
                "max_nprobe": n_centroids}
    r = np.sort(np.asarray(ratios))
    pos = min(int(np.ceil(target_recall * len(r))) - 1, len(r) - 1)
    # same 1% closure-slack floor as the cosine calibration (see
    # _auto_adaptive_tau: tau == 1.0 exactly means boundary queries
    # under-probe on any sub-percent asymmetry)
    tau = max(float(r[max(pos, 0)]), 1.01)
    est = float((np.asarray(ratios) <= tau).mean())
    per_q = [int((p <= tau).sum()) for p in profiles]
    return {**base, "tau": tau, "estimated_recall": round(est, 4),
            "n_queries": int(len(profiles)),
            "mean_nprobe": max(1, int(round(float(np.mean(per_q))))),
            "max_nprobe": int(max(per_q))}


def adaptive_nprobe_dot(meta: dict, index, qvec) -> int:
    """Per-query nprobe for a MIPS (non-unit dot) query: the number of
    buckets within ``tau ×`` the best bucket's augmented angular
    distance (calibrated by :func:`_auto_adaptive_tau_dot`), clamped
    to [1, n_centroids].  Profile computed from the CURRENT dot_route
    stats (upsert folds included), so the adaptive width tracks the
    corpus the probe ranking itself sees.  ``tau=None`` or a zero-norm
    query means full probe — never a silent under-probe."""
    ivf = index if meta.get("kind", "ivf") == "ivf" else index.ivf
    n_centroids = len(ivf.centroids)
    tau = meta.get("adaptive_dot", {}).get("tau")
    dr = meta.get("dot_route")
    if tau is None or not dr:
        return n_centroids
    d = _mips_profile(dr, ivf.centroids, qvec)
    if d is None:
        return n_centroids
    dmin = max(float(d.min()), 1e-12)
    return max(1, min(int((d <= tau * dmin).sum()), n_centroids))


def _finite(col: F.Column) -> F.Column:
    """Finite-double predicate: a single NaN/Inf vector norm must not
    poison a SUM aggregate (one poisoned row would NaN the MIPS stats
    and silently degrade EVERY later probe ranking — the same failure
    shape as the r11 NaN-jaccard finding)."""
    return col.isNotNull() & ~F.isnan(col) & (col != float("inf"))


def _dot_route_stats(spark: SparkSession, side: str, ivf) -> "dict | None":
    """Per-bucket norm statistics for MIPS (inner-product) probe
    ranking on a NON-unit corpus — the norm-augmented-centroid form of
    the public MIPS→cosine reduction (Bachrach et al. 2014, Neyshabur
    & Srebro 2015): augmenting every stored v to [v; sqrt(M² − ‖v‖²)]
    (M = max corpus norm) makes every augmented norm equal M, so
    cosine bucket ranking in the augmented space ranks DOT in the
    original space.  Rather than materialize augmented vectors, the
    probe ranks buckets by dot(q, c_b) / sqrt(‖c_b‖² + aug_b²) with
    aug_b² = max(0, M² − mean_b ‖v‖²) — only the per-bucket
    (count, Σ‖v‖², max ‖v‖) scalars are kept: ONE map-side-combined
    JVM aggregate over the written vectors table, n_centroids rows
    out.  Upserts fold their batch's stats in (O(batch),
    :func:`_fold_batch_norms`); deletes leave them a superset — the
    stats steer probe-ranking QUALITY only, never correctness
    (full-probe exactness and the widening loop don't depend on
    them).  ``None`` when the corpus holds no vectors."""
    from solr_map_reduce_spark.extensions.similarity import _as_double, l2_norm

    sub, schema = _base("ivf", ivf)
    rows = spark.read.schema(schema).parquet(fs_join(side, sub))
    nrm = l2_norm(_as_double(F.col(ivf.vec_col)))
    got = (
        rows.filter(
            F.col(ivf.vec_col).isNotNull() & _finite(nrm)
        )
        .groupBy(ivf.bucket_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(nrm * nrm).alias("s2"),
            F.max(nrm).alias("mx"),
        )
        .collect()
    )
    if not got:
        return None
    k = len(ivf.centroids)
    n = [0] * k
    s2 = [0.0] * k
    mx = 0.0
    for r in got:
        b = int(r[ivf.bucket_col])
        if 0 <= b < k:
            n[b] = int(r["n"])
            s2[b] = float(r["s2"])
            mx = max(mx, float(r["mx"]))
    return {"max_norm": mx, "n": n, "sum_nrm2": s2}


def _fold_batch_norms(meta: dict, assigned: DataFrame, field: str,
                      bucket_col: str) -> None:
    """Fold an IVF upsert batch's norms into the meta from ONE per-bucket
    aggregate over its assigned raw vectors (≤ n_centroids rows
    collected).  ``unit_norms`` turns off unless every bucket's non-NULL
    norms pass :func:`_is_unit` (a NaN norm fails it, as it does at build).
    The MIPS probe-ranking stats (``dot_route``) add the batch's count,
    Σ‖v‖² and max ‖v‖ over its finite norms only (:func:`_finite`).
    Additive-only: replaced/deleted rows are never subtracted, leaving the
    stats a superset of the live corpus — acceptable because they steer
    probe ranking only; build_ann recomputes them exactly."""
    from solr_map_reduce_spark.extensions.similarity import _as_double, l2_norm

    nrm = l2_norm(_as_double(F.col(field)))
    fin = _finite(nrm)
    got = (
        assigned.groupBy(bucket_col)
        .agg(
            F.count(F.when(fin, 1)).alias("n"),
            F.sum(F.when(fin, nrm * nrm)).alias("s2"),
            F.max(F.when(fin, nrm)).alias("mx"),
            F.min(nrm).alias("lo"),
            F.max(nrm).alias("hi"),
        )
        .collect()
    )
    if meta.get("unit_norms") and not all(
        _is_unit(r["lo"], r["hi"]) for r in got if r["lo"] is not None
    ):
        meta["unit_norms"] = False
    dr = meta.get("dot_route")
    if not dr:
        return
    for r in got:
        b = r[bucket_col]
        if r["n"] and 0 <= b < len(dr["n"]):
            dr["n"][b] += int(r["n"])
            dr["sum_nrm2"][b] += float(r["s2"])
            dr["max_norm"] = max(float(dr["max_norm"]), float(r["mx"]))


def _mips_probe_order(meta: dict, centroids) -> "callable":
    """Return probe_order(q) -> bucket ids best-first for an
    inner-product query over a non-unit corpus, ranking by the cosine
    between the augmented query [q; 0] and the norm-augmented bucket
    centroid [c_b; aug_b] (see :func:`_dot_route_stats`).  Since the
    query's augmented coordinate is 0, that cosine is
    dot(q, c_b) / ‖[c_b; aug_b]‖ — buckets of short vectors (large
    aug_b) are deprioritized exactly as the MIPS reduction requires.
    Empty buckets get the maximal aug (M²), ranking last."""
    import numpy as np

    co, denom = _mips_aug_denoms(meta["dot_route"], centroids)

    def order(q) -> list:
        q = np.asarray(q, dtype=np.float64)
        # rescale q by a power of two so its largest component lies in
        # [0.5, 1): exact, rank-preserving, and it keeps a tiny query's
        # products out of the subnormal range, where underflow would
        # make the ranking depend on the query's magnitude
        peak = float(np.max(np.abs(q), initial=0.0))
        if 0.0 < peak < np.inf:
            q = np.ldexp(q, -np.frexp(peak)[1])
        score = (co @ q) / denom
        return [int(b) for b in np.argsort(-score, kind="stable")]

    return order


def build(
    spark: SparkSession,
    index_path: str,
    base_rows: DataFrame,
    key: str,
    field: str,
    kind: str = "ivf",
    n_centroids: int = 16,
    nprobe: "int | str" = 2,
    target_recall: float = 0.9,
    **fit_kw,
) -> str:
    """Fit + persist the sidecar from ``base_rows`` (key, field), clear
    any delta/tombstones from a previous generation, and pin the meta to
    the artifact generation SNAPSHOTTED BEFORE the data scan: if a
    concurrent mutation commits mid-build, the stored (pre-mutation)
    hash no longer matches and the sidecar reads as stale — the safe
    direction; pinning the post-mutation hash over pre-mutation data
    would serve stale-wrong.

    ``nprobe="auto"``: the serving default is picked by a held-out
    recall probe (:func:`_auto_nprobe`) — the smallest nprobe whose
    estimated recall@10 meets ``target_recall`` on a bounded sample;
    the estimate and its inputs are recorded in the meta."""
    from solr_map_reduce_spark.extensions import similarity as sim

    fs = get_fs(index_path, spark)
    pinned_gen = manifest_generation_hash(fs, index_path)
    side = side_path(index_path, field)
    # a NULL vector is no vector: its row gets no bucket and stays out of
    # the base, as delta_upsert keeps it out of the delta
    base_rows = base_rows.filter(F.col(field).isNotNull())
    # REBUILD ordering: stale the existing meta FIRST, then clear the
    # old delta/tombstones, then write the new base, then the fresh
    # meta last.  The old order (overwrite base, clear delta, write
    # meta) left the OLD meta generation-current while vectors/ was
    # half-overwritten and old tombstones still applied — a concurrent
    # query (or a crash before the clear) served wrong results AS
    # FRESH: e.g. a tombstone at epoch 3 from the previous lifecycle
    # permanently hiding a live key from the rebuilt epoch-0 base.
    # With the stale-first order, every window of the rebuild reads as
    # stale -> exact fallback; only the final meta write re-enables
    # routing.
    old_meta = load_meta(fs, side)
    if old_meta is not None:
        old_meta["built_generation"] = "__rebuilding__"
        write_meta(fs, side, old_meta)
    for sub in (TOMBSTONES, DELTA):
        p = fs_join(side, sub)
        if fs.exists(p):
            fs.delete(p)
    dot_route = None
    unit_norms: "bool | None" = None
    if kind == "ivf":
        ivf = sim.IvfIndex.fit(
            base_rows, n_centroids=n_centroids, id_col=key, vec_col=field,
            **fit_kw,
        )
        # the unit_norms min/max ride the save-write job as an Observation
        # (r13: one fewer full corpus scan at build); min/max ignore NULL
        # vectors' NULL norms, matching _all_unit_norms' isNotNull filter,
        # and the write executes the observed node over every base row
        from pyspark.sql import Observation

        nrm = sim.l2_norm(sim._as_double(F.col(field)))
        obs = Observation()
        ivf.save(
            side,
            assigned=ivf.assign(base_rows).observe(
                obs, F.min(nrm).alias("lo"), F.max(nrm).alias("hi")
            ),
        )
        row = obs.get
        unit_norms = row["lo"] is not None and _is_unit(row["lo"], row["hi"])
        cents = ivf.centroids
        # MIPS probe-ranking stats: lets {!knn similarity=dot} route on
        # NON-unit corpora too (norm-augmented centroids); reads the
        # just-written vectors back (pinned schema, one aggregate)
        dot_route = _dot_route_stats(spark, side, ivf)
    elif kind == "ivfpq":
        idx = sim.IvfPqIndex.fit(
            _unit_normalized(base_rows, field), n_centroids=n_centroids,
            id_col=key, vec_col=field, **fit_kw,
        )
        idx.build(_unit_normalized(base_rows, field), side)
        cents = idx.ivf.centroids
    else:
        raise ValueError(f"build_ann kind {kind!r} unsupported (ivf, ivfpq)")
    meta = {
        "kind": kind,
        "field": field,
        "nprobe": nprobe,
        "epoch": 0,
        "built_generation": pinned_gen,
    }
    if dot_route is not None:
        meta["dot_route"] = dot_route
    # unit_norms: whether EVERY stored vector has ||v|| == 1 (an exact
    # map-side-combined min/max aggregate — observed on the ivf save
    # write above, its own pass only on the ivfpq branch).
    # When true, {!knn similarity=dot} routes through the same probes
    # for BOTH kinds — for unit vectors the cosine bucket ranking IS
    # dot's; IVF scores true dot over probed raw vectors, and IVF-PQ's
    # ADC score (cosine over unit-encoded codes) EQUALS dot under the
    # invariant.  A later upsert of a non-unit vector flips the flag
    # off (delta_upsert) so dot falls back to the exact scan.
    meta["unit_norms"] = (
        unit_norms if unit_norms is not None else _all_unit_norms(base_rows, field)
    )
    if nprobe == "auto":
        pick = _auto_nprobe(
            base_rows, field, cents, unit_space=(kind == "ivfpq"),
            target_recall=target_recall,
        )
        meta["nprobe"] = pick.pop("nprobe")
        meta["nprobe_auto"] = pick
    elif nprobe == "adaptive":
        # PER-QUERY serving default: probe the buckets within tau× the
        # query's nearest-centroid distance (SPANN ε-ball closure);
        # meta["nprobe"] keeps the sample-mean as the integer fallback
        # for paths the ratio rule doesn't cover (non-unit dot) and
        # for explicit integer overrides
        pick = _auto_adaptive_tau(
            base_rows, field, cents, unit_space=(kind == "ivfpq"),
            target_recall=target_recall,
        )
        meta["nprobe"] = int(pick["mean_nprobe"])
        meta["adaptive"] = pick
        if dot_route is not None:
            # non-unit dot gets its own τ, calibrated on the
            # MIPS-augmented profile its probe ranking actually uses
            # (the L2 τ above would count the wrong ball)
            meta["adaptive_dot"] = _auto_adaptive_tau_dot(
                base_rows, field, cents, dot_route,
                target_recall=target_recall,
            )
    write_meta(fs, side, meta)
    return side


def _is_unit(lo: float, hi: float) -> bool:
    """Whether norms bounded by [lo, hi] are all unit: both bounds within
    1e-6 of 1 (a NaN bound fails).  The one definition build and every
    upsert share."""
    return abs(lo - 1.0) <= 1e-6 and abs(hi - 1.0) <= 1e-6


def _all_unit_norms(rows: DataFrame, field: str, empty: bool = False) -> bool:
    """True iff every non-null vector's L2 norm passes :func:`_is_unit` —
    ONE map-side-combined min/max aggregate (JVM fold, no UDF).
    ``empty`` is the vacuous-case answer: False at build (an all-null
    corpus must not claim the invariant), True for an upsert batch that
    added no vectors (nothing could have broken it)."""
    from solr_map_reduce_spark.extensions.similarity import _as_double, l2_norm

    nrm = l2_norm(_as_double(F.col(field)))
    row = rows.filter(F.col(field).isNotNull()).agg(
        F.min(nrm).alias("lo"), F.max(nrm).alias("hi")
    ).first()
    if row is None or row["lo"] is None:
        return empty
    return _is_unit(row["lo"], row["hi"])


# -- serve ---------------------------------------------------------------

def _read_delta(spark, side: str, schema: StructType) -> DataFrame:
    """The upsert delta: base rows (``schema``) stamped with their epoch."""
    return spark.read.schema(_delta_schema(schema)).parquet(fs_join(side, DELTA))


def _delta_schema(schema: StructType) -> StructType:
    return StructType(schema.fields + [StructField(EPOCH_COL, LongType())])


def _tombstone_schema(schema: StructType, key: str) -> StructType:
    return StructType([schema[key], StructField("tomb_epoch", LongType())])


def _read_tombstones(
    spark, fs, side: str, schema: StructType, key: str
) -> DataFrame | None:
    """(key, tomb_epoch) rows, the key typed as in the base ``schema``;
    None when the sidecar has no tombstones."""
    tomb_path = fs_join(side, TOMBSTONES)
    if not fs.exists(tomb_path):
        return None
    return spark.read.schema(_tombstone_schema(schema, key)).parquet(tomb_path)


def _apply_liveness(rows: DataFrame, tombstones: DataFrame, key: str) -> DataFrame:
    """Keep rows alive under the versioned-exclusion rule: a row at
    epoch e survives iff no tombstone for its key has tomb_epoch > e."""
    tmax = tombstones.groupBy(key).agg(F.max("tomb_epoch").alias("_tmax"))
    return (
        rows.join(tmax, on=key, how="left")
        .filter(F.col("_tmax").isNull() | (F.col(EPOCH_COL) >= F.col("_tmax")))
        .drop("_tmax")
    )


def tombstone_max(fs, side: str, schema: StructType, key: str):
    """The tombstones' per-key maximum ``tomb_epoch`` as ``(keys, tmax)``
    (a pyarrow array of non-null keys, an int64 numpy array), read in the
    driver; None when the sidecar has no tombstones."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from solr_map_reduce_spark.fs import data_files, read_parquet

    tomb = _tombstone_schema(schema, key)
    files = data_files(fs, fs_join(side, TOMBSTONES))
    if not files:
        return None
    table = pa.concat_tables([read_parquet(fs, f, tomb) for f in files])
    grouped = table.group_by(key).aggregate([("tomb_epoch", "max")])
    grouped = grouped.filter(
        pc.and_(grouped[key].is_valid(), grouped["tomb_epoch_max"].is_valid())
    )
    return (
        grouped[key].combine_chunks(),
        grouped["tomb_epoch_max"].to_numpy().astype(np.int64),
    )


def alive_mask(keys, epochs, tombstones) -> "np.ndarray":
    """Driver-side twin of :func:`_apply_liveness` over one batch of
    stored rows: ``keys`` (pyarrow) at ``epochs`` (numpy int64) are alive
    iff no tombstone for the key has ``tomb_epoch`` above the row's epoch;
    a NULL key matches no tombstone, as in the join."""
    import numpy as np
    import pyarrow.compute as pc

    if tombstones is None:
        return np.ones(len(keys), dtype=bool)
    tkeys, tmax = tombstones
    at = pc.index_in(keys, value_set=tkeys)
    hit = at.is_valid().to_numpy(zero_copy_only=False)
    alive = np.ones(len(keys), dtype=bool)
    pos = at.to_numpy(zero_copy_only=False)[hit].astype(np.int64)
    alive[hit] = np.asarray(epochs)[hit] >= tmax[pos]
    return alive


def _keep_topk(keys: list, scores, k: int) -> tuple:
    """``(keys, scores)`` of the ``k`` best pairs in Spark's
    ``orderBy(desc(score), key)`` order, NaN standing for a NULL score
    (sorted last); a numpy partition narrows the candidates first, so the
    Python sort sees O(k) pairs (ties at the cut all kept)."""
    import numpy as np

    scores = np.asarray(scores, dtype=np.float64)
    if len(scores) > k:
        rank = np.where(np.isnan(scores), -np.inf, scores)
        cut = -np.partition(-rank, k - 1)[k - 1]
        near = np.flatnonzero(rank >= cut)
        keys = [keys[i] for i in near]
        scores = scores[near]

    def spark_order(i: int) -> tuple:
        # NULL scores last, -0.0 equal to 0.0 (as Python compares them),
        # then the key ascending with NULL keys first
        null = bool(np.isnan(scores[i]))
        return (null, 0.0 if null else -scores[i], keys[i] is not None, keys[i])

    order = sorted(range(len(keys)), key=spark_order)[:k]
    return [keys[i] for i in order], scores[order]


def _probe_order(meta: dict, kind: str, ivf, qvec, nprobe: int, metric: str) -> list:
    """The first ``nprobe`` bucket ids in the query's probe order."""
    import numpy as np

    # probe-ranking space: unit for ivfpq (the base was fit on UNIT
    # vectors — _unit_normalized in build/delta_upsert), corpus-RMS
    # for an adaptively-calibrated ivf sidecar, raw otherwise — the
    # SAME rescale the adaptive count uses, so the counted τ-ball is
    # exactly a prefix of the probe order (scores themselves are
    # metric-correct in any case).  Scale-invariant where the metric
    # is (cosine, unit dot); a no-op multiple for the MIPS order.
    q = _rescale_query(meta, kind, np.asarray(qvec, dtype=np.float64))
    if metric == "dot" and kind == "ivf" and not meta.get("unit_norms"):
        # non-unit inner-product query: L2-to-centroid ranking tracks
        # cosine, not dot — rank buckets via the norm-augmented
        # centroids instead (the MIPS→cosine reduction).  The serving
        # caller gates on the stats; this raise keeps a direct caller
        # from getting a raw KeyError.
        if not meta.get("dot_route"):
            raise ValueError(
                "non-unit dot probe needs the sidecar's MIPS stats "
                "(dot_route) — rebuild with build_ann"
            )
        return _mips_probe_order(meta, ivf.centroids)(q)[:nprobe]
    d = ((ivf.centroids - q[None, :]) ** 2).sum(axis=1)
    return [int(b) for b in d.argsort()[:nprobe]]


def probe_topk(
    spark: SparkSession,
    side: str,
    meta: dict,
    index,
    qvec: list,
    k: int,
    nprobe: int,
    filter_keys: DataFrame | None = None,
    metric: str = "cosine",
) -> DataFrame:
    """(key, score) top-k over the probed buckets of base ∪ delta with
    the liveness rule applied, answered in the driver: the probed
    ``bucket=N`` files of the base and of ``delta/`` (and the tombstones)
    are read one at a time through :func:`fs.read_parquet`, pinned to the
    recorded schema, scored with the Spark path's own arithmetic
    (:func:`similarity.fold_scores` for IVF, the shared ADC kernel for
    IVF-PQ) and cut to a running top-k in Spark's ``orderBy(desc(score),
    key)`` order — driver memory is O(largest probed file + k), and no
    Spark job runs.  The page comes back as a local frame.  ``index`` is
    the loaded IvfIndex / IvfPqIndex.

    ``filter_keys`` (one key column) restricts candidates BEFORE the
    top-k — the routed form of Solr 9.1's {!knn preFilter=}: every probed
    live (key, score) pair is kept, the keys among them that the filter's
    key set holds come back from one Spark job (:func:`_admitted_keys`),
    and the page is cut from those, so it is the true top-k of (probed
    buckets ∩ filter), never a post-filtered underfill."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import DoubleType

    from solr_map_reduce_spark.extensions import similarity as sim
    from solr_map_reduce_spark.fs import data_files, read_parquet
    from solr_map_reduce_spark.session import local_frame

    fs = get_fs(side, spark)
    kind = meta.get("kind", "ivf")
    ivf = index if kind == "ivf" else index.ivf
    if kind == "ivfpq" and metric == "dot" and not meta.get("unit_norms"):
        # PQ codes are unit-encoded: stored norms are gone, so ADC can
        # rank dot only when every stored vector's norm is 1 (where
        # cosine == dot).  The caller gates on meta["unit_norms"] too;
        # this is the defense-in-depth raise.
        raise ValueError("ivfpq ADC serves dot only on a unit-norm corpus")
    probe = _probe_order(meta, kind, ivf, qvec, nprobe, metric)
    key = ivf.id_col
    sub, schema = _base(kind, index)
    tombstones = tombstone_max(fs, side, schema, key)
    if kind == "ivf":
        value_col = ivf.vec_col
    else:
        value_col = "pq_code"
        lut, bias = index.pq.adc_tables(qvec)

    def scored(bucket: int, table, epochs) -> tuple:
        """(keys, scores) of one file's live rows with a usable score."""
        keys = table[key].combine_chunks()
        if kind == "ivf":
            scores = sim.fold_scores(table[value_col].combine_chunks(), qvec, metric)
            usable = ~np.isnan(scores)
        else:
            codes = table[value_col].combine_chunks()
            usable = codes.is_valid().to_numpy(zero_copy_only=False)
            scores = np.full(len(codes), np.nan)
            flat = codes.filter(codes.is_valid()).flatten()
            # a NaN score is NULL, as the UDF's NaN crosses Arrow as NULL
            scores[usable] = sim.adc_lut_sum(
                lut,
                flat.to_numpy(zero_copy_only=False).astype(np.int64)
                .reshape(-1, len(lut)),
            ) + (0.0 if bias is None else bias[bucket])
        keep = usable & alive_mask(keys, epochs, tombstones)
        return keys.filter(pa.array(keep)).to_pylist(), scores[keep]

    keys: list = []
    scores = np.empty(0)
    for bucket in probe:
        part = f"{ivf.bucket_col}={bucket}"
        batches = [
            (f, schema, None) for f in data_files(fs, fs_join(side, sub, part))
        ] + [
            (f, _delta_schema(schema), EPOCH_COL)
            for f in data_files(fs, fs_join(side, DELTA, part))
        ]
        for f, file_schema, epoch_col in batches:
            cols = [key, value_col] + ([epoch_col] if epoch_col else [])
            t = read_parquet(fs, f, file_schema, columns=cols)
            epochs = (
                t[epoch_col].to_numpy(zero_copy_only=False) if epoch_col
                else np.zeros(t.num_rows, dtype=np.int64)
            )
            got_keys, got_scores = scored(bucket, t, epochs)
            keys, scores = keys + got_keys, np.concatenate([scores, got_scores])
            if filter_keys is None:
                keys, scores = _keep_topk(keys, scores, k)
    if filter_keys is not None:
        admitted = _admitted_keys(filter_keys, keys)
        keep = [i for i, k_ in enumerate(keys) if k_ in admitted]
        keys, scores = _keep_topk([keys[i] for i in keep], scores[keep], k)
    return local_frame(
        spark, [(k_, None if s_ != s_ else s_) for k_, s_ in zip(keys, scores.tolist())],
        StructType([schema[key], StructField("score", DoubleType())]),
    )


def _sql_literal(value) -> str:
    """A string or numeric key as a Spark SQL literal."""
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return repr(value)


def _admitted_keys(filter_keys: DataFrame, keys: list) -> set:
    """The probed ``keys`` present in ``filter_keys``' one column, found by
    ONE Spark job: an IN list of the probed keys filters the key set and
    only the matches come back, at most one row per probed key under the
    serving contract (the unique key is unique).  No job when nothing was
    probed.  The IN list is one SQL string, parsed once in the JVM: a
    Column literal per key would cost a py4j round trip each."""
    present = [k_ for k_ in keys if k_ is not None]
    if not present:
        return set()
    col = filter_keys.columns[0]
    cond = F.expr(
        f"`{col.replace('`', '``')}` IN ({', '.join(map(_sql_literal, present))})"
    )
    return {r[0] for r in filter_keys.select(col).filter(cond).collect()}


# -- delta maintenance ---------------------------------------------------

def delta_upsert(
    spark: SparkSession,
    index_path: str,
    frame: DataFrame | None,
    key: str,
    pre_gen: str | None,
) -> None:
    """The one maintenance pass of every artifact mutation, run after the
    generation advance.  ``frame`` is the mutation's batch, MATERIALIZED
    by the caller before the staging swap:

    - ``(key, vector columns...)`` for an upsert or update that rewrote
      vector columns: every batch key with its post-rewrite vectors, NULL
      where the rewrite left the document no vector;
    - ``(key,)`` for a delete: the deleted keys;
    - None when no vector column changed (an update of other columns,
      a compaction).

    Each sidecar pinned to ``pre_gen`` (the generation before this
    mutation) that the frame touches — a delete touches every one, a
    batch those whose vector column it carries — tombstones every frame
    key at a fresh epoch and appends the non-NULL rows' vectors (IVF) /
    codes (IVF-PQ) at that epoch: the winner of the resolver is what
    serves, and a document without a vector is correctly absent from ANN
    results (the Lucene contract).  Every other pinned sidecar only
    re-pins: its vectors, delta and tombstones are all still exact.
    O(batch) work.

    A touched sidecar that does not :func:`load` (an older layout without
    a recorded base schema, or unreadable) is left stale, as is every
    sidecar not pinned to ``pre_gen`` (it missed an earlier mutation:
    re-pinning it would revive stale data) — exact fallback until
    ``build_ann``."""
    from solr_map_reduce_spark.extensions import similarity as sim

    fs = get_fs(index_path, spark)
    new_gen = manifest_generation_hash(fs, index_path)
    cols = [] if frame is None else frame.columns
    for field, side in sidecars(fs, index_path):
        meta = load_meta(fs, side)
        if meta is None or new_gen is None:
            continue
        if pre_gen is None or meta.get("built_generation") != pre_gen:
            continue  # already stale before this mutation: stay stale
        if cols == [key] or field in cols:
            loaded = load(spark, side, meta)
            if loaded is None:
                continue  # stale: no epoch-stamped row can match its base
            kind, index, _sub, _schema = loaded
            ivf = index if kind == "ivf" else index.ivf
            epoch = int(meta.get("epoch", 0)) + 1
            meta["epoch"] = epoch
            staged = None
            if field in cols:
                vec_rows = frame.select(key, field).filter(F.col(field).isNotNull())
                assigner = sim.IvfIndex(
                    ivf.centroids, id_col=key, vec_col=field,
                    bucket_col=ivf.bucket_col,
                )
                if kind == "ivf":
                    staged = assigner.assign(vec_rows)
                    if meta.get("unit_norms") or meta.get("dot_route"):
                        _fold_batch_norms(meta, staged, field, ivf.bucket_col)
                else:
                    # a non-unit vector breaks the invariant dot routing
                    # rests on: dot falls back exact, cosine keeps routing
                    if meta.get("unit_norms") and not _all_unit_norms(
                        vec_rows, field, empty=True
                    ):
                        meta["unit_norms"] = False
                    staged = index.pq.encode(
                        assigner.assign(_unit_normalized(vec_rows, field)),
                        code_col="pq_code", bucket_col=ivf.bucket_col,
                    ).select(key, ivf.bucket_col, "pq_code")
            # phase 1: consume the epoch (old generation kept — a crash
            # below leaves the sidecar stale, and the number is never reused)
            write_meta(fs, side, meta)
            if staged is not None:
                (
                    staged.withColumn(EPOCH_COL, F.lit(epoch).cast("long"))
                    .write.mode("append")
                    .partitionBy(ivf.bucket_col)
                    .parquet(fs_join(side, DELTA))
                )
            (
                frame.select(F.col(key), F.lit(epoch).cast("long").alias("tomb_epoch"))
                .write.mode("append")
                .parquet(fs_join(side, TOMBSTONES))
            )
        meta["built_generation"] = new_gen
        write_meta(fs, side, meta)  # phase 2: re-pin


def compact(spark: SparkSession, index_path: str, field: str) -> dict:
    """Fold the upsert delta + tombstones back into the base — the
    lifecycle bound on serve-time overhead under continuous mutation
    (the ANN analog of segment optimize).

    Only AFFECTED buckets rewrite: those holding delta rows plus those
    holding a tombstoned key's base row (found with one column-pruned
    (key, bucket) scan of the base — maintenance-time cost, amortized
    over the mutations it folds).  Unaffected bucket directories are
    never read or written.

    Crash-safety / concurrency: runs under the artifact MUTATION LOCK
    (a concurrent delete's tombstone append must not race the
    tombstone delete below), and the meta is STALED first — any crash
    mid-compaction leaves the sidecar reading as stale (exact
    fallback) until a rerun or rebuild; queries never see a
    half-folded state.  The epoch counter is NOT reset: it stays
    monotone for the sidecar's lifetime, so no later mutation can ever
    collide with a crashed attempt's residue."""
    from solr_map_reduce_spark.indexing import _mutation_lock

    fs = get_fs(index_path, spark)
    side = side_path(index_path, field)
    meta = load_meta(fs, side)
    if meta is None:
        raise ValueError(f"no ANN sidecar for field {field!r}")
    loaded = load(spark, side, meta)
    if loaded is None:
        raise ValueError(
            f"ANN sidecar for {field!r} is unreadable or an older layout — "
            "rebuild with build_ann"
        )
    kind, index, sub, schema = loaded
    ivf = index if kind == "ivf" else index.ivf
    key = ivf.id_col
    bucket_col = ivf.bucket_col
    has_delta = fs.exists(fs_join(side, DELTA))
    has_tomb = fs.exists(fs_join(side, TOMBSTONES))
    if not has_delta and not has_tomb:
        return {"affected_buckets": [], "folded": False}

    with _mutation_lock(fs, index_path, "ann_compact"):
        # RELOAD the meta under the lock before validating: a benign
        # concurrent mutation may have advanced the epoch and correctly
        # re-pinned the sidecar between our pre-lock load and here —
        # comparing the stale in-memory copy would raise a false
        # "stale, rebuild" (and writing it back below would discard the
        # concurrent epoch bump, reviving dead rows)
        meta = load_meta(fs, side)
        if meta is None:
            raise ValueError(f"no ANN sidecar for field {field!r}")
        if meta["built_generation"] != manifest_generation_hash(
            fs, index_path
        ):
            raise ValueError(
                f"ANN sidecar for {field!r} is stale — rebuild with "
                "build_ann instead of compacting"
            )
        # bump the ARTIFACT generation first: live SearchIndex handles
        # memoize the loaded sidecar and would otherwise keep probing
        # bucket dirs mid-swap; the bump drops every handle's caches,
        # and the (still old-generation-pinned) meta reads as stale —
        # every query runs the exact scan until the fold completes
        from solr_map_reduce_spark.indexing import bump_generation

        bump_generation(fs, index_path)
        new_gen = manifest_generation_hash(fs, index_path)
        meta["built_generation"] = "__compacting__"
        write_meta(fs, side, meta)  # belt + braces while we rewrite

        base = spark.read.schema(schema).parquet(fs_join(side, sub))
        delta = _read_delta(spark, side, schema) if has_delta else None
        tomb = _read_tombstones(spark, fs, side, schema, key)

        affected = set()
        if delta is not None:
            affected |= {
                r[0] for r in delta.select(bucket_col).distinct().collect()
            }
        if tomb is not None:
            affected |= {
                r[0]
                for r in base.join(
                    tomb.select(key).distinct(), on=key, how="left_semi"
                ).select(bucket_col).distinct().collect()
            }
        affected = sorted(affected)
        if not affected:
            meta["built_generation"] = new_gen
            write_meta(fs, side, meta)
            return {"affected_buckets": [], "folded": False}

        rows = base.filter(F.col(bucket_col).isin(affected)).withColumn(
            EPOCH_COL, F.lit(0).cast("long")
        )
        if delta is not None:
            rows = rows.unionByName(
                delta.filter(F.col(bucket_col).isin(affected))
                .select(rows.columns)
            )
        if tomb is not None:
            rows = _apply_liveness(rows, tomb, key)
        alive = rows.drop(EPOCH_COL)
        tmp = fs_join(side, f"{sub}__compact_tmp")
        if fs.exists(tmp):
            fs.delete(tmp)
        alive.write.mode("overwrite").partitionBy(bucket_col).parquet(tmp)
        for b in affected:
            tgt = fs_join(side, sub, f"{bucket_col}={b}")
            src = fs_join(tmp, f"{bucket_col}={b}")
            if fs.exists(tgt):
                fs.delete(tgt)
            if fs.exists(src):
                fs.rename(src, tgt)
            # a bucket whose every row died simply loses its directory
        fs.delete(tmp)
        for subdir in (DELTA, TOMBSTONES):
            p = fs_join(side, subdir)
            if fs.exists(p):
                fs.delete(p)
        meta["built_generation"] = new_gen
        write_meta(fs, side, meta)
        return {"affected_buckets": affected, "folded": True}

