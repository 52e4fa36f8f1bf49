"""Similarity search over embedding columns (``array<float>``).

- ``cosine_topk`` — brute-force exact top-k, entirely JVM-side
  (``zip_with`` dot product + ``aggregate`` fold, codegen'd): the correctness
  baseline, O(n) scan per query, embarrassingly parallel.
- ``fold_scores`` — the same fold in the driver over an Arrow column of
  stored vectors, bit-identical to ``attach_cosine_score`` /
  ``attach_dot_score``: what the ANN sidecar's driver-side probe scores
  with.  ``adc_lut_sum`` is the one IVF-PQ ADC kernel, shared by
  ``PqCodec.topk``'s UDF and that probe.
- ``IvfIndex`` — inverted-file ANN: k-means centroids fitted driver-side on a
  bounded sample (centroid count is small by construction), assignment via a
  vectorized numpy matmul pandas UDF, search prunes to the ``nprobe`` nearest
  buckets.  At scale the assigned table is written partitioned by bucket so
  bucket pruning is a partition-pruned scan, mirroring how the index artifact
  prunes by shard; serving reads just the probed bucket files
  (``extensions/ann_sidecar.probe_topk``).
- ``cosine_pairs_lsh`` — near-duplicate pairs by embedding cosine, blocked by
  random-hyperplane signatures (sign-LSH) so no cross join.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf

from solr_map_reduce_spark.session import local_frame


def _as_double(col: F.Column) -> F.Column:
    return col.cast(T.ArrayType(T.DoubleType()))


def dot_product(a: F.Column, b: F.Column) -> F.Column:
    """Sequential fold — deterministic order, same result every run/engine."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: F.Column) -> F.Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _query_norm(query: Sequence[float]) -> float:
    """Driver-side L2 norm of the query vector, rejecting the
    zero-magnitude case loudly: Lucene raises on a zero-norm cosine
    query (VectorUtil cosine requires non-zero magnitude) rather than
    serving the silently-empty page a NULL-everywhere score column
    would produce."""
    qn = float(np.sqrt(np.sum(np.asarray(query, dtype=np.float64) ** 2)))
    if qn == 0.0:
        raise ValueError(
            "cosine similarity is undefined for a zero-magnitude query "
            "vector (Lucene rejects it; every score would be NULL)"
        )
    return qn


def cosine_to_query(vec_col: F.Column, query: Sequence[float]) -> F.Column:
    """NULL (not an error, not NaN) for a zero-norm stored vector:
    under ANSI mode (the Spark 4 default) the bare division raised
    DIVIDE_BY_ZERO — ONE all-zeros embedding hard-failed every exact
    kNN query over the corpus — and with ANSI off it yielded NaN,
    which sorts GREATEST and topped every page.  NULL rows are
    dropped by :func:`finite_score` (the Lucene contract: a document
    without a usable vector is absent from vector results).

    Prefer :func:`attach_cosine_score` on any corpus-wide scan: as a
    single Column this expression evaluates the norm fold twice (the
    guard and the denominator), and a Filter referencing the aliased
    score gets the whole fold substituted into its predicate by
    Catalyst — measured ~2x on the sf0.1 exact scan.  A zero-magnitude
    QUERY vector raises (Lucene parity)."""
    q = F.array(*[F.lit(float(x)) for x in query])
    qd = _as_double(q)
    vd = _as_double(vec_col)
    qn = _query_norm(query)
    den = l2_norm(vd) * F.lit(qn)
    return F.when(den != 0.0, dot_product(vd, qd) / den)


def attach_cosine_score(
    df: DataFrame,
    query: Sequence[float],
    score_col: str = "score",
    vec_col: str = "embedding",
    nonfinite: str = "drop",
) -> DataFrame:
    """Cosine-to-query as a score COLUMN with the array folds evaluated
    once per projection pass — the fast shape for corpus-wide exact
    scans.  Two stacked projections: the inner computes the expensive
    folds (dot product and sum of squares) as scalar columns; the
    outer derives the ANSI-safe guarded score from the scalars.

    ``nonfinite`` picks what happens to unusable scores (zero-norm
    stored vector -> NULL; NaN/Inf component -> non-finite):

    - ``"null"`` — the score is NULL, rows kept.  THE SHAPE FOR TOP-K:
      NULL sorts last under ``desc``, so ``orderBy(desc).limit(k)``
      never pages an unusable vector while k usable ones exist, and a
      post-LIMIT ``isNotNull`` filter (predicates do not push through
      a Limit) removes the underfill padding at O(k).  Total cost: ONE
      fold evaluation per row.
    - ``"drop"`` — rows filtered out here (the Lucene "no usable
      vector" contract as a corpus-wide frame).  NOTE the tax: Catalyst
      pushes the Filter through BOTH projections, SUBSTITUTING the
      fold expressions into the predicate (PushDownPredicate has no
      cheapness heuristic — CollapseProject's is irrelevant to it), so
      the folds evaluate ~twice per row.  Use "null" + post-limit
      filter on any path that ends in a top-k.
    - ``"keep"`` — raw score incl. NaN/Inf (rerankers that guard
      downstream).

    A zero-magnitude QUERY vector raises (Lucene parity)."""
    if nonfinite not in ("drop", "null", "keep"):
        raise ValueError(f"nonfinite mode {nonfinite!r} unsupported")
    qn = _query_norm(query)
    qd = _as_double(F.array(*[F.lit(float(x)) for x in query]))
    vd = _as_double(F.col(vec_col))
    keep = [F.col(c) for c in df.columns]
    inner = df.select(
        *keep,
        dot_product(vd, qd).alias("__smrs_dot"),
        F.aggregate(vd, F.lit(0.0), lambda acc, x: acc + x * x).alias(
            "__smrs_nn"
        ),
    )
    # nested WHEN: the division only evaluates under the nonzero guard
    # (ANSI DIVIDE_BY_ZERO), and the finiteness test references the
    # raw CASE — all cheap scalar refs at this level
    raw = F.when(
        F.col("__smrs_nn") != 0.0,
        F.col("__smrs_dot") / (F.sqrt(F.col("__smrs_nn")) * F.lit(qn)),
    )
    if nonfinite == "keep":
        score = raw
    else:
        score = F.when(
            ~F.isnan(raw)
            & (raw != float("inf"))
            & (raw != float("-inf")),
            raw,
        )
    out = inner.select(*keep, score.alias(score_col))
    if nonfinite == "drop":
        out = out.filter(F.col(score_col).isNotNull())
    return out


def attach_dot_score(
    df: DataFrame,
    query: Sequence[float],
    score_col: str = "score",
    vec_col: str = "embedding",
    nonfinite: str = "null",
) -> DataFrame:
    """Inner-product score column in the same two-projection,
    NULL-on-nonfinite shape as :func:`attach_cosine_score` — a finite
    FILTER on a single-Column dot score pays the fold twice via
    predicate pushdown substitution just like cosine's did."""
    if nonfinite not in ("null", "keep"):
        raise ValueError(f"nonfinite mode {nonfinite!r} unsupported")
    qd = _as_double(F.array(*[F.lit(float(x)) for x in query]))
    vd = _as_double(F.col(vec_col))
    keep = [F.col(c) for c in df.columns]
    inner = df.select(*keep, dot_product(vd, qd).alias("__smrs_dot"))
    d = F.col("__smrs_dot")
    score = d if nonfinite == "keep" else F.when(
        ~F.isnan(d) & (d != float("inf")) & (d != float("-inf")), d
    )
    return inner.select(*keep, score.alias(score_col))


def fold_scores(vectors, query: Sequence[float], metric: str = "cosine") -> np.ndarray:
    """Driver-side twin of :func:`attach_cosine_score` /
    :func:`attach_dot_score` with ``nonfinite="null"``, over a pyarrow
    list array of stored vectors: float64 scores, NaN where the Spark
    score is NULL (a NULL vector or element, a length other than the
    query's, a zero-norm vector for cosine, a non-finite score).

    Bit-identical to the Spark folds: the same sequential order (products,
    then adds in index order, from 0.0), done column by column over the
    matrix of well-formed rows, in IEEE doubles with no fused
    multiply-add on either side."""
    import pyarrow.compute as pc

    if metric not in ("cosine", "dot"):
        raise ValueError(f"fold metric {metric!r} unsupported (cosine, dot)")
    qn = _query_norm(query) if metric == "cosine" else None
    q = np.asarray(query, dtype=np.float64)
    d = len(q)
    out = np.full(len(vectors), np.nan)
    lengths = pc.list_value_length(vectors).to_numpy(zero_copy_only=False)
    rows = np.flatnonzero(
        vectors.is_valid().to_numpy(zero_copy_only=False)
        & (np.nan_to_num(lengths, nan=-1) == d)
    )
    if not len(rows):
        return out
    values = vectors.values
    at = (
        vectors.offsets.to_numpy(zero_copy_only=False)[rows, None]
        + np.arange(d)[None, :]
    )
    m = values.to_numpy(zero_copy_only=False).astype(np.float64)[at]
    null_element = values.is_null().to_numpy(zero_copy_only=False)[at].any(axis=1)
    with np.errstate(all="ignore"):
        dot = np.zeros(len(rows))
        for i in range(d):
            dot = dot + m[:, i] * q[i]
        if metric == "dot":
            score = dot
        else:
            nn = np.zeros(len(rows))
            for i in range(d):
                nn = nn + m[:, i] * m[:, i]
            score = np.where(nn != 0.0, dot / (np.sqrt(nn) * qn), np.nan)
    score[null_element | ~np.isfinite(score)] = np.nan
    out[rows] = score
    return out


def dot_to_query(vec_col: F.Column, query: Sequence[float]) -> F.Column:
    """Raw dot product against a literal query vector (Solr's
    dot_product similarityFunction) — same deterministic sequential
    fold as the cosine path, no normalization."""
    q = F.array(*[F.lit(float(x)) for x in query])
    return dot_product(_as_double(vec_col), _as_double(q))


def _driver_sample(
    df: DataFrame, vec_col: str, sample_size: int, seed: int
) -> np.ndarray:
    """Bounded driver-side vector sample as a numpy matrix — the shared
    recipe behind every k-means/codebook fit (capped regardless of table
    size, so fitting stays cheap at 100 TB): count -> content-hash band
    filter -> bottom-k by hash -> Arrow collect.

    Selection is CONTENT-KEYED (``xxhash64(vector, seed)``), not
    position-keyed: a row is in or out of the sample based on its own
    bytes, so the fit is identical run-to-run AND across partition
    layouts — a rebuild after compaction/repartitioning (which reshapes
    partitions but not content) refits the SAME centroids.  The
    previous per-partition Bernoulli ``sample(seed)`` was only
    run-stable after the r12 sort fix; a different layout still drew a
    different (equally valid) sample.  The band filter keeps the sort
    bounded (~1.2×sample_size rows in expectation — same variance as
    the Bernoulli draw it replaces) and the bottom-k-by-hash makes the
    final pick a canonical uniform sample of distinct contents;
    duplicate vectors share a hash and enter together, which is
    harmless for fitting (duplicates add no centroid information).
    The limit runs as a per-partition top-k (TakeOrdered), never a
    table-wide shuffle."""
    n = df.count()
    frac = min(1.0, (sample_size * 1.2) / max(n, 1))
    band = 1 << 20
    h = F.pmod(F.xxhash64(F.col(vec_col), F.lit(int(seed))), F.lit(band))
    return np.array(
        df.select(vec_col)
        .filter(F.col(vec_col).isNotNull())
        .filter(h < F.lit(int(math.ceil(frac * band))))
        .orderBy(h.asc(), F.col(vec_col))
        .limit(sample_size)
        .toPandas()[vec_col]
        .tolist(),
        dtype=np.float64,
    )


def _unit_rows(m: np.ndarray) -> np.ndarray:
    """Row-wise L2 normalization (zero rows kept zero)."""
    m = np.asarray(m, dtype=np.float64)
    nrm = np.linalg.norm(m, axis=1, keepdims=True)
    with np.errstate(invalid="ignore", divide="ignore"):
        out = m / nrm
    return np.where(nrm > 0, out, m)


def finite_score(col: F.Column) -> F.Column:
    """Keep only rows whose similarity score is a finite number.
    Spark sorts NaN as the GREATEST double, so a single zero-norm
    vector (cosine 0/0 → NaN), NaN component, or Inf overflow would
    TOP every kNN page it survives into.  Lucene rejects non-finite
    vectors at index time (KnnFloatVectorField checks finiteness);
    the serving-side equivalent is excluding them from ranked pages —
    the same "document has no usable vector" contract NULL vectors
    already get."""
    return col.isNotNull() & ~F.isnan(col) & (F.abs(col) != float("inf"))


def cosine_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_score: bool = True,
) -> DataFrame:
    """Exact brute-force top-k by cosine similarity; deterministic tiebreak on
    id.  The scan is a single stage with no shuffle until the final top-k
    (``orderBy ... limit`` → TakeOrderedAndProject, which keeps only k rows
    per partition).  Zero-norm/NaN/Inf vectors are excluded via the
    NULL-score shape: unusable vectors score NULL (sorting last under
    ``desc``), and the O(k) post-limit ``isNotNull`` filter removes any
    underfill padding — a pre-limit finite FILTER would get the array
    folds substituted into its pushed-down predicate and pay the scan
    twice (measured ~1.4x on the sf0.1 exact scan)."""
    scored = attach_cosine_score(
        df.select(id_col, vec_col), query, score_col="score",
        vec_col=vec_col, nonfinite="null",
    ).select(id_col, "score")
    out = (
        scored.orderBy(F.desc("score"), F.col(id_col)).limit(k)
        .filter(F.col("score").isNotNull())
    )
    return out if with_score else out.select(id_col)


def sq_fit(df: DataFrame, vec_col: str = "embedding") -> tuple[float, float]:
    """Global (min, max) over every vector component — the scalar-
    quantization codebook, ONE map-side-combined aggregate over the
    corpus.  A global (rather than per-dimension) range keeps the code a
    single affine map, which is what makes the quantized dot product a
    pure integer fold."""
    row = df.agg(
        F.min(F.array_min(_as_double(F.col(vec_col)))).alias("mn"),
        F.max(F.array_max(_as_double(F.col(vec_col)))).alias("mx"),
    ).collect()[0]
    return float(row["mn"]), float(row["mx"])


def _sq_scale(mn: float, mx: float, bits: int) -> float:
    # SYMMETRIC quantization (x ~ code * scale, zero-point 0): the integer
    # dot product of codes is then monotone in the decoded dot product.
    # An affine min/max scheme would add a per-document  mn * sum(codes)
    # term that REORDERS results — symmetric is what keeps the pure
    # integer fold a valid ranking function.
    levels = (1 << (bits - 1)) - 1
    amax = max(abs(mn), abs(mx))
    return amax / levels if amax > 0 else 1.0  # degenerate all-zero corpus


def sq_code_col(vec_col: F.Column, mn: float, mx: float, bits: int = 8) -> F.Column:
    """Quantize an ``array<float>`` column to symmetric integer codes in
    ``[-(2^(bits-1)-1), 2^(bits-1)-1]``: ``clamp(floor(x/scale + 0.5))``
    — round-half-up in plain double arithmetic, so any engine reproduces
    the exact codes.  Entirely JVM-side (``transform``), 4x smaller than
    float32 at 8 bits."""
    levels = (1 << (bits - 1)) - 1
    scale = _sq_scale(mn, mx, bits)
    return F.transform(
        _as_double(vec_col),
        lambda x: F.least(
            F.greatest(
                F.floor(x / F.lit(scale) + F.lit(0.5)), F.lit(-levels)
            ),
            F.lit(levels),
        ).cast("int"),
    )


def sq_encode_query(
    query: Sequence[float], mn: float, mx: float, bits: int = 8
) -> list[int]:
    """The same symmetric code applied driver-side to the query vector."""
    import math

    levels = (1 << (bits - 1)) - 1
    scale = _sq_scale(mn, mx, bits)
    return [
        min(max(int(math.floor(float(x) / scale + 0.5)), -levels), levels)
        for x in query
    ]


def sq_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mn: float | None = None,
    mx: float | None = None,
    bits: int = 8,
    with_score: bool = True,
) -> DataFrame:
    """Top-k by QUANTIZED dot product — SYMMETRIC int8 scalar
    quantization (the Lucene/FAISS ``SQ8`` serving shape, zero-point 0):
    codes are 4x smaller than float32, the score is an exact integer fold
    (no float drift, total order) monotone in the decoded dot product,
    and the scan stays one stage + TakeOrdered.

    Fit the codebook once with :func:`sq_fit` and pass ``mn``/``mx`` for
    serving (recomputing per query would be a second corpus pass); left
    ``None`` they are fitted inline (fine for one-shot jobs).  Returns
    ``(id_col, score)`` with ``score`` the int dot product of codes —
    monotone in the true dot product up to quantization error; recall vs
    the exact scan is property-tested, not assumed."""
    if mn is None or mx is None:
        mn, mx = sq_fit(df, vec_col)
    qc = sq_encode_query(query, mn, mx, bits)
    qcodes = F.array(*[F.lit(int(c)) for c in qc])
    score = F.aggregate(
        F.zip_with(sq_code_col(F.col(vec_col), mn, mx, bits), qcodes,
                   lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    out = (
        df.select(F.col(id_col), score.alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )
    return out if with_score else out.select(id_col)


def mmr_rerank(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    pool: int = 50,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98)
    diversified top-``k``: greedily pick the candidate maximizing
    ``lam * rel(c) - (1 - lam) * max_{s in selected} sim(c, s)``,
    relevance and inter-candidate similarity both cosine.

    Scale shape: the RELEVANCE pass is the distributed one-scan
    ``cosine_topk`` TakeOrdered down to ``pool`` candidates; only that
    bounded pool (ids, vectors, scores — ``pool`` rows) is collected, and
    the inherently sequential greedy selection runs driver-side in
    O(k * pool) float comparisons (the guarded bounded-collect serving
    contract, same as the exact-kNN path).  Pairwise similarities use the
    same sequential left-to-right double fold as the JVM/SQL cosine, so
    an external SQL engine replays the selection exactly.

    Returns ``(id_col, mmr_rank)`` with rank 1..k in selection order.
    """
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    if k > pool:
        raise ValueError(f"k ({k}) cannot exceed the candidate pool ({pool})")
    scored = (
        attach_cosine_score(
            df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("_v")),
            query, score_col="rel", vec_col="_v", nonfinite="keep",
        )
        .orderBy(F.desc("rel"), F.col(id_col))
        .limit(pool)
    )
    rows = scored.collect()  # bounded: exactly `pool` rows

    def _dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def _norm(a):
        import math

        acc = 0.0
        for x in a:
            acc += x * x
        return math.sqrt(acc)

    ids = [r[id_col] for r in rows]
    rel = {r[id_col]: r["rel"] for r in rows}
    vecs = {r[id_col]: [float(x) for x in r["_v"]] for r in rows}
    norms = {i: _norm(v) for i, v in vecs.items()}

    def _sim(a, b):
        return _dot(vecs[a], vecs[b]) / (norms[a] * norms[b])

    selected: list = []
    remaining = set(ids)
    while remaining and len(selected) < k:
        if not selected:
            # anchor: pure relevance (no diversity term yet)
            best = max(sorted(remaining), key=lambda c: rel[c])
        else:
            def mmr(c):
                worst = max(_sim(c, s) for s in selected)
                return lam * rel[c] - (1.0 - lam) * worst

            best = max(sorted(remaining), key=mmr)
        selected.append(best)
        remaining.discard(best)
    out_rows = [(i, r + 1) for r, i in enumerate(selected)]
    id_field = scored.schema[id_col]
    return local_frame(
        df.sparkSession,
        out_rows,
        T.StructType([id_field, T.StructField("mmr_rank", T.IntegerType(), False)]),
    )


def cosine_pairs_blocked(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    blocks: int | None = None,
    target_block_rows: int = 4096,
) -> DataFrame:
    """ALL exact cosine pairs >= threshold via a block gram-matrix join.

    The naive formulation (row-pair cross join + per-pair fold) evaluates an
    interpreted expression per pair — O(n²) Python/interpreter dispatches.
    Here each vector is tagged with every block-pair it participates in
    (B rows per vector — the canonical block-matrix replication), and each
    of the B(B+1)/2 block-pair GROUPS computes its similarity sub-matrix as
    ONE numpy matmul inside ``applyInPandas``.

    Memory shape: a task holds one block-pair's rows as Arrow batches —
    ~2n/B ordinary rows, never a single ``collect_list`` row of the corpus
    (a packed row grows as n/B and hits JVM record limits long before the
    group path does).  ``blocks=None`` sizes B from the table so a block
    stays ≈``target_block_rows`` rows (one cheap count() — this operator
    materializes all pairs, so a count is noise); pass ``blocks`` explicitly
    to skip the count.  Work per task is (n/B)²·d with perfect parallelism
    across block pairs; total shuffle is B·n·d (the replication), the
    standard exact-pairs trade.
    """
    if blocks is None:
        import math

        blocks = max(1, math.ceil(df.count() / target_block_rows))
    e = df.select(
        F.col(id_col).cast("long").alias("_id"),
        _as_double(F.col(vec_col)).alias("_v"),
        F.pmod(F.hash(F.col(id_col)), F.lit(blocks)).alias("_blk"),
    )
    # replicate: a vector in block p serves side A of pair (p,q) when p<=q,
    # side B when p>q; the diagonal pair (p,p) gets it once, side A
    tagged = e.select(
        "_id",
        "_v",
        F.explode(F.sequence(F.lit(0), F.lit(blocks - 1))).alias("_q"),
        F.col("_blk"),
    ).select(
        "_id",
        "_v",
        F.least("_blk", "_q").alias("_pa"),
        F.greatest("_blk", "_q").alias("_pb"),
        (F.col("_blk") <= F.col("_q")).alias("_is_a"),
    )

    def _gram(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame({"id_a": [], "id_b": []})
        diagonal = pdf["_pa"].iloc[0] == pdf["_pb"].iloc[0]
        a_side = pdf[pdf["_is_a"]]
        b_side = a_side if diagonal else pdf[~pdf["_is_a"]]
        if a_side.empty or b_side.empty:
            return pd.DataFrame({"id_a": [], "id_b": []})
        ids_a = a_side["_id"].to_numpy(dtype=np.int64)
        ids_b = b_side["_id"].to_numpy(dtype=np.int64)
        A = np.stack([np.asarray(v, dtype=np.float64) for v in a_side["_v"]])
        B = np.stack([np.asarray(v, dtype=np.float64) for v in b_side["_v"]])
        with np.errstate(invalid="ignore", divide="ignore"):
            An = A / np.linalg.norm(A, axis=1, keepdims=True)
            Bn = B / np.linalg.norm(B, axis=1, keepdims=True)
            S = An @ Bn.T
        ii, jj = np.nonzero(S >= threshold)
        pa, pb = ids_a[ii], ids_b[jj]
        if diagonal:
            keep = pa < pb  # dedupe the symmetric diagonal block
            lo, hi = pa[keep], pb[keep]
        else:
            lo, hi = np.minimum(pa, pb), np.maximum(pa, pb)
        return pd.DataFrame({"id_a": lo, "id_b": hi})

    return tagged.groupBy("_pa", "_pb").applyInPandas(_gram, "id_a long, id_b long")


class IvfIndex:
    """IVF-flat ANN index: centroids + bucket assignment + pruned search."""

    def __init__(self, centroids: np.ndarray, id_col: str = "vec_id",
                 vec_col: str = "embedding", bucket_col: str = "bucket"):
        self.centroids = np.asarray(centroids, dtype=np.float64)
        self.id_col = id_col
        self.vec_col = vec_col
        self.bucket_col = bucket_col
        # schema of the persisted vectors table (set by save()/load());
        # lets search_stored read without footer inference
        self.vectors_schema: dict | None = None

    @classmethod
    def fit(
        cls,
        df: DataFrame,
        n_centroids: int = 16,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        sample_size: int = 10_000,
        iters: int = 10,
        seed: int = 42,
    ) -> "IvfIndex":
        """Fit k-means centroids on a bounded driver-side sample.  The sample
        is capped regardless of table size, so this stays cheap at 100 TB;
        Lloyd iterations run in numpy."""
        sample = _driver_sample(df, vec_col, sample_size, seed)
        rng = np.random.RandomState(seed)
        k = min(n_centroids, len(sample))
        centroids = sample[rng.choice(len(sample), size=k, replace=False)]
        for _ in range(iters):
            d = ((sample[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(k):
                members = sample[assign == c]
                if len(members):
                    centroids[c] = members.mean(axis=0)
        return cls(centroids, id_col, vec_col)

    def assign(self, df: DataFrame, bucket_col: str = "bucket") -> DataFrame:
        """Vectorized nearest-centroid assignment: one numpy matmul per Arrow
        batch.  A NULL vector gets no bucket (NULL)."""
        cents = self.centroids
        cent_sq = (cents**2).sum(axis=1)

        @pandas_udf(T.IntegerType())
        def _nearest(vecs: pd.Series) -> pd.Series:
            out = pd.Series(pd.NA, index=vecs.index, dtype="Int32")
            present = vecs.notna().to_numpy()
            if present.any():
                m = np.array(vecs[present].tolist(), dtype=np.float64)
                # argmin over ||v-c||^2 = -2 v.c + ||c||^2 (+ ||v||^2 const)
                d = -2.0 * (m @ cents.T) + cent_sq[None, :]
                out[present] = d.argmin(axis=1).astype(np.int32)
            return out

        return df.withColumn(bucket_col, _nearest(F.col(self.vec_col)))

    def search(
        self,
        assigned: DataFrame,
        query: Sequence[float],
        k: int = 10,
        nprobe: int = 2,
        bucket_col: str = "bucket",
    ) -> DataFrame:
        """Top-k within the nprobe buckets nearest to the query — at scale a
        partition-pruned scan when the assigned table is partitioned by
        bucket (see :meth:`save` / :meth:`search_stored`)."""
        q = np.asarray(query, dtype=np.float64)
        d = ((self.centroids - q[None, :]) ** 2).sum(axis=1)
        probe = [int(b) for b in d.argsort()[:nprobe]]
        pruned = assigned.filter(F.col(bucket_col).isin(probe))
        return cosine_topk(pruned, query, k, self.id_col, self.vec_col)

    # -- persistence: the serving shape -------------------------------
    MANIFEST = "_IVF_MANIFEST.json"

    def save(self, path: str, assigned: DataFrame | None = None,
             bucket_col: str | None = None) -> None:
        """Persist the index: centroids (KBs of JSON) + optionally the
        assigned vector table written ``partitionBy(bucket)`` — the layout
        that makes :meth:`search_stored` a partition-pruned scan reading
        only nprobe of the bucket directories."""
        import json

        from solr_map_reduce_spark.fs import get_fs
        from solr_map_reduce_spark.fs import join as fs_join

        bucket_col = bucket_col or self.bucket_col
        spark = assigned.sparkSession if assigned is not None else None
        fs = get_fs(path, spark)
        fs.mkdirs(path)
        if assigned is not None:
            assigned.write.mode("overwrite").partitionBy(bucket_col).parquet(
                fs_join(path, "vectors")
            )
        manifest = {
            "centroids": self.centroids.tolist(),
            "id_col": self.id_col,
            "vec_col": self.vec_col,
            "bucket_col": bucket_col,
        }
        if assigned is not None:
            # pin the vectors schema so serving reads need ZERO
            # planning-time footer inference — at scale that's one fewer
            # listing+footer pass per query, and the read plan depends
            # only on the manifest + the probed bucket dirs
            self.vectors_schema = assigned.schema.jsonValue()
            manifest["vectors_schema"] = self.vectors_schema
        fs.write_text(fs_join(path, self.MANIFEST), json.dumps(manifest))

    @classmethod
    def load(cls, spark, path: str) -> "IvfIndex":
        import json

        from solr_map_reduce_spark.fs import get_fs
        from solr_map_reduce_spark.fs import join as fs_join

        fs = get_fs(path, spark)
        m = json.loads(fs.read_text(fs_join(path, cls.MANIFEST)))
        out = cls(
            np.asarray(m["centroids"]), m["id_col"], m["vec_col"],
            m.get("bucket_col", "bucket"),
        )
        out.vectors_schema = m.get("vectors_schema")
        return out

    def add(self, df: DataFrame, path: str, batch_tag: str | None = None) -> None:
        """Incremental ANN ingest: assign the NEW vectors to their nearest
        stored centroids and APPEND them into the bucket directories — the
        index grows without touching a byte of the existing vectors
        (centroids stay fixed, the standard IVF incremental contract;
        re-``fit`` + rebuild when drift degrades recall).  At 100 TB this
        is the difference between an O(batch) nightly ingest and an
        O(corpus) rebuild.  ``search_stored`` sees appended vectors
        immediately: the probe reads whole bucket directories, appended
        files included.

        ``batch_tag`` makes the append REPLAY-IDEMPOTENT (the streaming
        foreachBatch contract): the batch stages to a side directory, any
        files from a previous attempt of the same tag are removed, and the
        staged files move into the bucket dirs under tag-prefixed names —
        re-delivering a batch (including after a mid-append crash) yields
        exactly one copy.  The replay sweep visits ONLY the buckets this
        batch stages into (plus any bucket dirs left in a crashed earlier
        attempt's staging dir) — per-batch ingest cost stays O(batch)
        however many buckets/files the index has accumulated.  That bound
        is sound because assignment is deterministic (fixed stored
        centroids, same foreachBatch data): a replay stages into exactly
        the buckets the failed attempt did, and a partially-moved attempt
        leaves its staging bucket dirs behind as a record."""
        from solr_map_reduce_spark.fs import get_fs
        from solr_map_reduce_spark.fs import join as fs_join

        assigned = self.assign(df, self.bucket_col)
        vectors = fs_join(path, "vectors")
        if batch_tag is None:
            (
                assigned.write.mode("append")
                .partitionBy(self.bucket_col)
                .parquet(vectors)
            )
            return
        fs = get_fs(path, df.sparkSession)
        if batch_tag in self._absorbed_tags(fs, path):
            # this batch's rows were folded into compacted files — the
            # replay is a no-op, not a re-append
            return
        stage = fs_join(path, f"_ingest_{batch_tag}")
        is_bucket = lambda name: name.startswith(f"{self.bucket_col}=")  # noqa: E731
        # a surviving staging dir records which buckets a crashed earlier
        # attempt may have (partially) moved files into — read it BEFORE
        # the overwrite clears it
        prior_buckets = (
            {b for b in fs.listdir(stage) if is_bucket(b)}
            if fs.isdir(stage)
            else set()
        )
        (
            assigned.write.mode("overwrite")
            .partitionBy(self.bucket_col)
            .parquet(stage)
        )
        staged_buckets = {
            b for b in fs.listdir(stage)
            if is_bucket(b) and fs.isdir(fs_join(stage, b))
        }
        prefix = f"b{batch_tag}-"
        # sweep partial files from a previous attempt of this batch —
        # only in the buckets that attempt could have touched
        for bdir in sorted(prior_buckets | staged_buckets):
            full = fs_join(vectors, bdir)
            if fs.isdir(full):
                for f in fs.listdir(full):
                    if f.startswith(prefix):
                        fs.delete(fs_join(full, f))
        for bdir in sorted(staged_buckets):
            src_dir = fs_join(stage, bdir)
            dst_dir = fs_join(vectors, bdir)
            fs.mkdirs(dst_dir)
            for f in fs.listdir(src_dir):
                if f.endswith(".parquet"):
                    fs.rename(fs_join(src_dir, f), fs_join(dst_dir, prefix + f))
        fs.delete(stage)

    ABSORBED_TAGS = "_ABSORBED_TAGS.json"

    def _absorbed_tags(self, fs, path: str) -> set:
        import json

        from solr_map_reduce_spark.fs import join as fs_join

        full = fs_join(path, self.ABSORBED_TAGS)
        if not fs.exists(full):
            return set()
        return set(json.loads(fs.read_text(full)))

    def compact(self, spark, path: str) -> int:
        """Maintenance for a streaming-aged index: each tagged micro-batch
        appends files into the bucket dirs, so file counts grow without
        bound (the segment-accumulation problem; the reference answers it
        with the mtree merge, A19).  Compaction rewrites the vector store
        to ~one file per bucket and records every absorbed batch tag in
        ``_ABSORBED_TAGS.json`` — a late REPLAY of an absorbed tag is a
        NO-OP (its rows are already durable in the compacted files), so
        exactly-once survives compaction.  Crash-safe: the rewrite stages
        to a side dir and swaps via rename-aside; the absorbed-tag record
        is written before the swap (recording early only ever suppresses
        a re-append of data that exists in both pre- and post-swap
        states), and a rerun self-heals a crash BETWEEN the two swap
        renames by rolling the swap forward from the completed stage (or
        back to the old dir) before proceeding
        (:meth:`_repair_interrupted_swap`).  Returns the number of files
        removed.

        STOP THE INGEST STREAM FIRST.  Compaction holds the artifact's
        advisory mutation lock and REFUSES while any ``_ingest_<tag>``
        staging dir survives: a crashed mid-move batch has rows still in
        staging, and absorbing its tag would turn the batch's replay into
        a no-op that loses them — replay the batch (or clear a junk
        staging dir) first.  A batch committing concurrently with the
        directory swap would likewise be silently dropped; the lock plus
        the staging-dir check make that loud instead."""
        import json
        import re

        from solr_map_reduce_spark.fs import get_fs
        from solr_map_reduce_spark.fs import join as fs_join
        from solr_map_reduce_spark.indexing import _mutation_lock

        fs = get_fs(path, spark)
        with _mutation_lock(fs, path, "ivf_compact"):
            return self._compact_locked(spark, fs, path)

    def _repair_interrupted_swap(self, fs, path: str, vectors: str) -> None:
        """Make the two-rename swap crash-safe in effect: a crash between
        ``vectors -> vectors__old`` and ``vectors__compact -> vectors``
        leaves no live ``vectors`` dir.  On entry, roll the swap FORWARD
        when the fully-written compacted stage exists (it is always
        materialized before any rename), else BACK to the old dir — so
        reads and a compact rerun always find a complete vector store.
        A leftover stage beside a live ``vectors`` (crash before the
        first rename) is junk from an aborted rewrite: drop it."""
        from solr_map_reduce_spark.fs import join as fs_join

        old = fs_join(path, "vectors__old")
        stage = fs_join(path, "vectors__compact")
        if fs.exists(vectors):
            # live store intact: clear crash leftovers (old = absorbed
            # pre-swap copy, stage = incomplete pre-rename rewrite)
            for leftover in (old, stage):
                if fs.exists(leftover):
                    fs.delete(leftover)
            return
        if fs.exists(stage):
            fs.rename(stage, vectors)  # roll forward: stage was complete
            if fs.exists(old):
                fs.delete(old)
        elif fs.exists(old):
            fs.rename(old, vectors)  # roll back
        else:
            raise RuntimeError(
                f"IVF index at {path} has no vectors/, vectors__old/ or "
                "vectors__compact/ dir — not a recoverable swap state"
            )

    def _compact_locked(self, spark, fs, path: str) -> int:
        import json
        import re

        from solr_map_reduce_spark.fs import join as fs_join

        vectors = fs_join(path, "vectors")
        self._repair_interrupted_swap(fs, path, vectors)
        leftover = [
            d for d in fs.listdir(path)
            if d.startswith("_ingest_") and fs.isdir(fs_join(path, d))
        ]
        if leftover:
            raise RuntimeError(
                f"IVF index at {path} has in-flight/crashed ingest staging "
                f"dirs {leftover}: replay those batches (add with the same "
                "batch_tag completes them idempotently) or remove junk "
                "staging dirs, then compact — absorbing a partially-moved "
                "batch's tag would make its replay a data-losing no-op"
            )
        tags: set = set(self._absorbed_tags(fs, path))
        n_before = 0
        for bdir in fs.listdir(vectors):
            full = fs_join(vectors, bdir)
            if not (bdir.startswith(f"{self.bucket_col}=") and fs.isdir(full)):
                continue
            for f in fs.listdir(full):
                if f.endswith(".parquet"):
                    n_before += 1
                    m = re.match(r"^b(.+?)-part-", f)
                    if m:
                        tags.add(m.group(1))
        fs.write_text(fs_join(path, self.ABSORBED_TAGS), json.dumps(sorted(tags)))
        stage = fs_join(path, "vectors__compact")
        (
            spark.read.parquet(vectors)
            .repartition(self.bucket_col)  # whole buckets per task: one
            .write.mode("overwrite")       # file per bucket directory
            .partitionBy(self.bucket_col)
            .parquet(stage)
        )
        old = fs_join(path, "vectors__old")
        if fs.exists(old):
            fs.delete(old)
        fs.rename(vectors, old)
        fs.rename(stage, vectors)
        fs.delete(old)
        n_after = sum(
            1
            for bdir in fs.listdir(vectors)
            if bdir.startswith(f"{self.bucket_col}=")
            for f in fs.listdir(fs_join(vectors, bdir))
            if f.endswith(".parquet")
        )
        return n_before - n_after

    def search_stored(
        self,
        spark,
        path: str,
        query: Sequence[float],
        k: int = 10,
        nprobe: int = 2,
        bucket_col: str | None = None,
        exclude: DataFrame | None = None,
    ) -> DataFrame:
        """Top-k over a saved index: the ``bucket isin(probe)`` filter hits
        the partition column, so only nprobe bucket directories are read —
        the IVF promise (touch 1/n_centroids of the data per probe) made
        physical.  With a manifest-pinned schema (save() records it) the
        read also skips footer inference, so NO unprobed file is touched
        at plan time either.  ``exclude``: an (id) DataFrame anti-joined
        BEFORE the top-k (tombstones from delta-maintained deletes) —
        AQE broadcasts the typically-small exclusion set."""
        from solr_map_reduce_spark.fs import join as fs_join

        reader = spark.read
        if self.vectors_schema:
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(self.vectors_schema))
        assigned = reader.parquet(fs_join(path, "vectors"))
        if exclude is not None:
            assigned = assigned.join(exclude, on=self.id_col, how="left_anti")
        return self.search(
            assigned, query, k, nprobe, bucket_col or self.bucket_col
        )


def cosine_pairs_lsh(
    df: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs (cosine >= threshold) without a cross join:
    block on sign-LSH signatures (random hyperplanes), verify exact cosine
    JVM-side on candidates that agree on any half of the signature.

    The hyperplanes are derived from ``(seed, dim)`` INSIDE the UDF on first
    batch — plan construction triggers no driver-side action (``dim`` is
    optional and only pins the dimensionality up front; every worker
    regenerates the identical planes from the seed)."""
    fixed_dim = dim

    @pandas_udf(T.IntegerType())
    def _sig(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=np.int32)
        m = np.array(vecs.tolist(), dtype=np.float64)
        d = fixed_dim if fixed_dim is not None else m.shape[1]
        planes = np.random.RandomState(seed).randn(n_planes, d)
        bits = (m @ planes.T) > 0
        vals = (bits * (1 << np.arange(n_planes))[None, :]).sum(axis=1)
        return pd.Series(vals.astype(np.int32))

    half = n_planes // 2
    sigs = df.select(id_col, vec_col).withColumn("_sig", _sig(F.col(vec_col)))
    sigs = sigs.withColumn("_lo", F.col("_sig") % (1 << half)).withColumn(
        "_hi", (F.col("_sig") / (1 << half)).cast("int")
    )
    blocked = sigs.select(
        id_col, vec_col, F.explode(F.array(
            F.concat(F.lit("lo:"), F.col("_lo").cast("string")),
            F.concat(F.lit("hi:"), F.col("_hi").cast("string")),
        )).alias("block")
    )
    l, r = blocked.alias("l"), blocked.alias("r")
    pairs = (
        l.join(
            r,
            on=[
                F.col("l.block") == F.col("r.block"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"l.{vec_col}").alias("_va"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col(f"r.{vec_col}").alias("_vb"),
        )
        .distinct()
    )
    va, vb = _as_double(F.col("_va")), _as_double(F.col("_vb"))
    cos = dot_product(va, vb) / (l2_norm(va) * l2_norm(vb))
    return pairs.select("id_a", "id_b", cos.alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 10_000,
) -> DataFrame:
    """Exact k-nearest-neighbor join by cosine: for every query vector, the
    ``k`` most similar corpus vectors, as ``(query_id, neighbor_id,
    knn_rank)`` with ties broken by neighbor id.

    Scale shape — the canonical broadcast-kNN: the query side is small by
    contract (a probe/eval set vs a 100 TB corpus), so it is collected into
    one numpy matrix and broadcast; the corpus streams through ONE
    ``mapInPandas`` pass computing an Arrow-batch × query matmul and keeping
    only the per-batch top-k per query — at most ``n_q*k`` candidate rows
    leave each task, so the shuffle into the final per-query rank is
    O(partitions * n_q * k), independent of corpus size.  The corpus itself
    never shuffles and never leaves the JVM except as Arrow batches.

    The small-query contract is ENFORCED: more than ``max_queries`` rows on
    the query side raises (a cheap ``limit(n+1)`` probe, not a full count)
    instead of collecting an unbounded DataFrame onto the driver — for a
    large query side use the blocked exact pairs (``cosine_pairs``) or the
    LSH/IVF paths, which keep both sides distributed.
    """
    from pyspark.sql import Window

    probe = queries.select(query_id).limit(max_queries + 1).collect()
    if len(probe) > max_queries:
        raise ValueError(
            f"knn_join query side exceeds max_queries={max_queries} — it is "
            "collected and broadcast, so a large query set would OOM the "
            "driver.  Raise max_queries deliberately, or use cosine_pairs "
            "(blocked exact) / lsh_cosine_pairs / IvfIndex for a "
            "distributed-both-sides search"
        )
    q_rows = queries.select(query_id, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([r[1] for r in q_rows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    bc = queries.sparkSession.sparkContext.broadcast((q_ids, Qn))
    kk = k

    def _partial_topk(batches):
        ids_b, Qb = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            C = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            cids = pdf[corpus_id].to_numpy(dtype=np.int64)
            with np.errstate(invalid="ignore", divide="ignore"):
                Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
                S = Cn @ Qb.T  # (batch, n_q)
            top = min(kk, S.shape[0])
            # per-query top-`top` rows of this batch (argpartition then sort)
            part = np.argpartition(-S, top - 1, axis=0)[:top, :]
            rows, qs, sims = [], [], []
            for j in range(S.shape[1]):
                sel = part[:, j]
                rows.append(cids[sel])
                qs.append(np.full(top, ids_b[j], dtype=np.int64))
                sims.append(S[sel, j])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(qs),
                    "neighbor_id": np.concatenate(rows),
                    "_sim": np.concatenate(sims),
                }
            )

    cand = corpus.select(corpus_id, vec_col).mapInPandas(
        _partial_topk, "query_id long, neighbor_id long, _sim double"
    )
    rnk = F.row_number().over(
        Window.partitionBy("query_id").orderBy(
            F.desc("_sim"), F.col("neighbor_id")
        )
    )
    return (
        cand.withColumn("knn_rank", rnk)
        .filter(F.col("knn_rank") <= k)
        .select("query_id", "neighbor_id", F.col("knn_rank").cast("long").alias("knn_rank"))
    )


def knn_classify(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """kNN label propagation: majority label of the ``k`` nearest corpus
    vectors per query — the embedding-space classifier a curation pipeline
    uses to extend a small labeled set (quality/domain tags) over a huge
    corpus.  Ties break to the smallest label (deterministic).

    Scale shape: :func:`knn_join` streams the corpus once (broadcast query
    matrix, no corpus shuffle); the n_q*k neighbor rows are then BROADCAST
    back against the corpus's (id, label) projection, so labeling is a
    second stream — the corpus never shuffles.  Returns
    (query_id, predicted_label, votes)."""
    from pyspark.sql import Window

    nn = knn_join(queries, corpus, k, query_id, corpus_id, vec_col)
    labeled = corpus.select(
        F.col(corpus_id).alias("_nid"), F.col(label_col)
    ).join(F.broadcast(nn), F.col("_nid") == F.col("neighbor_id"))
    votes = labeled.groupBy("query_id", label_col).agg(
        F.count(F.lit(1)).alias("votes")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.asc(label_col)
    )
    return (
        votes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "query_id",
            F.col(label_col).alias("predicted_label"),
            F.col("votes").cast("long").alias("votes"),
        )
    )


def adc_lut_sum(lut: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """The ADC kernel: each row of ``codes`` (n x m codebook indices,
    int64) scores the sum of its ``m`` lookups in ``lut`` (m x ksub).  One
    function for the Spark UDF (:meth:`PqCodec.topk`) and the driver-side
    probe (``ann_sidecar.probe_topk``), so both sum in the same order."""
    return lut[np.arange(lut.shape[0])[None, :], codes].sum(axis=1)


class PqCodec:
    """Product quantization (Jégou et al. 2011): split a d-dim vector into
    ``m`` subvectors, k-means each subspace to ``ksub`` centroids, store a
    vector as ``m`` one-byte-ish codes — a 64-float embedding (256 B)
    becomes m=8 codes (8 B), a 32x compression that is the difference
    between a 100 TB raw embedding table and a ~3 TB searchable one.

    Vectors are L2-normalized before encoding so the asymmetric-distance
    inner product approximates cosine.  Codebooks are fitted driver-side on
    a bounded sample (m * ksub * dsub floats — KBs); encode and search are
    vectorized Arrow-batch numpy, no per-row Python.

    Residual mode (``coarse`` set — the standard IVF-PQ formulation,
    Jégou et al. §IV): what gets PQ-encoded is ``v̂ − c_bucket(v)``, the
    residual after the coarse quantizer, not v̂ itself.  Residuals
    cluster far tighter than raw vectors (the coarse step removed the
    between-bucket variance), so the same code budget quantizes finer —
    better in-bucket ADC recall at identical storage.  The ADC score
    recombines exactly: q̂·v̂ ≈ q̂·c_bucket + lut_sum(codes), with the
    per-bucket constant precomputed driver-side (n_centroids dots).
    Encode/score then REQUIRE the stored bucket column — the residual is
    meaningless without knowing which centroid it is relative to.

    Space contract: vectors are normalized before encoding, so
    ``coarse`` MUST live near the unit sphere too — the recombination
    q̂·(c + r) is exact for ANY c, but a raw-space centroid subtracted
    from a unit vector leaves a residual of magnitude ~||c|| (worse
    than no residual at all).  :class:`IvfPqIndex` passes its coarse
    centroids ROW-NORMALIZED for exactly this reason (its IVF layout
    may be fit on raw vectors).
    """

    def __init__(self, codebooks: np.ndarray, id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 coarse: "np.ndarray | None" = None):
        # codebooks: (m, ksub, dsub); coarse: (n_centroids, d) or None
        self.codebooks = np.asarray(codebooks, dtype=np.float64)
        self.m, self.ksub, self.dsub = self.codebooks.shape
        self.id_col = id_col
        self.vec_col = vec_col
        self.coarse = (
            np.asarray(coarse, dtype=np.float64) if coarse is not None
            else None
        )

    @classmethod
    def fit(
        cls,
        df: DataFrame,
        m: int = 8,
        ksub: int = 16,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        sample_size: int = 10_000,
        iters: int = 10,
        seed: int = 42,
        coarse: "np.ndarray | None" = None,
    ) -> "PqCodec":
        # zero rows stay zero: dividing them by their norm would spread
        # NaN through k-means into every codebook
        sample = _unit_rows(_driver_sample(df, vec_col, sample_size, seed))
        if coarse is not None:
            # residual mode: codebooks are k-means of v̂ − c_nearest(v̂)
            # (fit-time assignment approximates build-time's; both pick
            # the nearest centroid, and fit quality only shapes recall)
            co = np.asarray(coarse, dtype=np.float64)
            d2 = (
                -2.0 * (sample @ co.T) + (co**2).sum(axis=1)[None, :]
            )
            sample = sample - co[d2.argmin(axis=1)]
        d = sample.shape[1]
        if d % m:
            raise ValueError(f"dim {d} not divisible by m={m}")
        dsub = d // m
        rng = np.random.RandomState(seed)
        books = np.empty((m, min(ksub, len(sample)), dsub))
        for s in range(m):
            sub = sample[:, s * dsub : (s + 1) * dsub]
            k = books.shape[1]
            cents = sub[rng.choice(len(sub), size=k, replace=False)]
            for _ in range(iters):
                dist = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
                assign = dist.argmin(axis=1)
                for c in range(k):
                    members = sub[assign == c]
                    if len(members):
                        cents[c] = members.mean(axis=0)
            books[s] = cents
        return cls(books, id_col, vec_col, coarse=coarse)

    def encode(
        self,
        df: DataFrame,
        code_col: str = "pq_code",
        bucket_col: "str | None" = None,
    ) -> DataFrame:
        """Vector → array<short> of ``m`` codebook indices (one matmul per
        subspace per Arrow batch).  In residual mode the STORED bucket
        assignment (``bucket_col``) picks the centroid to subtract —
        recomputing it here could diverge from the partition layout on
        argmin ties, and the score-side constant is keyed by the stored
        bucket."""
        books = self.codebooks
        m, dsub = self.m, self.dsub
        coarse = self.coarse
        if coarse is not None and not bucket_col:
            raise ValueError(
                "residual PqCodec.encode needs bucket_col (the stored "
                "coarse assignment the residual is relative to)"
            )

        def _encode_batch(X: np.ndarray) -> pd.Series:
            codes = np.empty((X.shape[0], m), dtype=np.int16)
            for s in range(m):
                sub = X[:, s * dsub : (s + 1) * dsub]
                cents = books[s]
                dist = (
                    -2.0 * (sub @ cents.T)
                    + (cents**2).sum(axis=1)[None, :]
                )
                codes[:, s] = dist.argmin(axis=1).astype(np.int16)
            return pd.Series(list(codes))

        def _normed(vecs: pd.Series) -> np.ndarray:
            X = np.array(vecs.tolist(), dtype=np.float64)
            with np.errstate(invalid="ignore", divide="ignore"):
                return X / np.linalg.norm(X, axis=1, keepdims=True)

        if coarse is None:
            @pandas_udf(T.ArrayType(T.ShortType()))
            def _enc(vecs: pd.Series) -> pd.Series:
                if len(vecs) == 0:
                    return pd.Series([], dtype=object)
                return _encode_batch(_normed(vecs))

            return df.withColumn(code_col, _enc(F.col(self.vec_col)))

        @pandas_udf(T.ArrayType(T.ShortType()))
        def _enc_res(vecs: pd.Series, buckets: pd.Series) -> pd.Series:
            if len(vecs) == 0:
                return pd.Series([], dtype=object)
            X = _normed(vecs) - coarse[buckets.to_numpy(dtype=np.int64)]
            return _encode_batch(X)

        return df.withColumn(
            code_col,
            _enc_res(F.col(self.vec_col), F.col(bucket_col).cast("long")),
        )

    def adc_tables(self, query: Sequence[float]) -> tuple:
        """``(lut, bias)`` for an ADC scan: the (m x ksub) inner-product
        lookup table of the unit query, and in residual mode the
        per-bucket constant q̂·c_bucket (None otherwise).  A code row's
        score is ``adc_lut_sum(lut, codes) + bias[bucket]``."""
        q = np.asarray(query, dtype=np.float64)
        q = q / np.linalg.norm(q)
        lut = np.stack(
            [
                self.codebooks[s] @ q[s * self.dsub : (s + 1) * self.dsub]
                for s in range(self.m)
            ]
        )  # (m, ksub)
        bias = self.coarse @ q if self.coarse is not None else None
        return lut, bias

    def topk(
        self,
        encoded: DataFrame,
        query: Sequence[float],
        k: int = 10,
        code_col: str = "pq_code",
        bucket_col: "str | None" = None,
    ) -> DataFrame:
        """Approximate top-k by asymmetric distance: precompute the
        (m x ksub) inner-product lookup table from the query driver-side,
        then score each stored code with ``m`` table lookups — the scan
        reads only ids + m-byte codes (column pruning drops the raw
        vectors), and only k rows per partition survive into the final
        TakeOrdered.  Residual mode adds the per-bucket constant
        q̂·c_bucket (an n_centroids-long broadcast table) so the score
        is q̂·(c + r) — cosine over the decoded vector."""
        lut, bias = self.adc_tables(query)
        if self.coarse is not None and not bucket_col:
            raise ValueError(
                "residual PqCodec.topk needs bucket_col (the per-bucket "
                "score constant is keyed by the stored assignment)"
            )

        def _lut_sum(codes: pd.Series) -> np.ndarray:
            return adc_lut_sum(lut, np.array(codes.tolist(), dtype=np.int64))

        if bias is None:
            @pandas_udf(T.DoubleType())
            def _adc(codes: pd.Series) -> pd.Series:
                if len(codes) == 0:
                    return pd.Series([], dtype=np.float64)
                return pd.Series(_lut_sum(codes))

            score = _adc(F.col(code_col))
        else:
            @pandas_udf(T.DoubleType())
            def _adc_res(codes: pd.Series, buckets: pd.Series) -> pd.Series:
                if len(codes) == 0:
                    return pd.Series([], dtype=np.float64)
                return pd.Series(
                    _lut_sum(codes)
                    + bias[buckets.to_numpy(dtype=np.int64)]
                )

            score = _adc_res(F.col(code_col), F.col(bucket_col).cast("long"))
        scored = encoded.select(F.col(self.id_col), score.alias("score"))
        return scored.orderBy(F.desc("score"), F.col(self.id_col)).limit(k)


class IvfPqIndex:
    """IVF + product quantization — the full 100 TB ANN serving shape:
    coarse k-means buckets give a partition-pruned scan (read nprobe of
    n_centroids bucket dirs), PQ codes shrink what those buckets store by
    ~32x (ids + m-byte codes instead of raw float arrays).  A probe
    therefore touches ``nprobe/n_centroids`` of the corpus at 1/32 of the
    bytes, both enforced by layout rather than by trust.

    Composition of :class:`IvfIndex` (coarse quantizer / layout) and
    :class:`PqCodec` (within-bucket compression); search is asymmetric
    distance over the stored codes.  Recall vs exact cosine is
    golden-tested (tests/test_similarity_pq.py).
    """

    MANIFEST = "_IVFPQ_MANIFEST.json"

    def __init__(self, ivf: IvfIndex, pq: PqCodec):
        if ivf.id_col != pq.id_col or ivf.vec_col != pq.vec_col:
            raise ValueError("ivf and pq must agree on id/vec columns")
        self.ivf = ivf
        self.pq = pq
        self.codes_schema: dict | None = None  # set by build()/load()

    @classmethod
    def fit(
        cls,
        df: DataFrame,
        n_centroids: int = 16,
        m: int = 8,
        ksub: int = 16,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        sample_size: int = 10_000,
        seed: int = 42,
    ) -> "IvfPqIndex":
        ivf = IvfIndex.fit(
            df, n_centroids, id_col, vec_col, sample_size, seed=seed
        )
        # residual-encode (the standard IVF-PQ formulation): the PQ
        # codebooks quantize v̂ − ĉ_bucket, whose variance the coarse
        # step already shrank — measurably better in-bucket ADC recall
        # at the same code size (SCALING.md r11).  The centroids are
        # ROW-NORMALIZED into the codec's unit space: the IVF layout
        # may be fit on raw vectors, and a raw-space centroid
        # subtracted from a unit vector would blow the residual up to
        # ~||c|| instead of shrinking it (PqCodec's space contract)
        pq = PqCodec.fit(
            df, m, ksub, id_col, vec_col, sample_size, seed=seed,
            coarse=_unit_rows(ivf.centroids),
        )
        return cls(ivf, pq)

    def build(self, df: DataFrame, path: str) -> None:
        """Assign buckets, encode to PQ codes, and persist: codebooks +
        centroids as KBs of JSON, the code table written
        ``partitionBy(bucket)`` with the raw vectors DROPPED."""
        import json

        from solr_map_reduce_spark.fs import get_fs
        from solr_map_reduce_spark.fs import join as fs_join

        assigned = self.ivf.assign(df, bucket_col=self.ivf.bucket_col)
        encoded = self.pq.encode(
            assigned, code_col="pq_code", bucket_col=self.ivf.bucket_col
        ).select(self.ivf.id_col, self.ivf.bucket_col, "pq_code")
        fs = get_fs(path, df.sparkSession)
        fs.mkdirs(path)
        encoded.write.mode("overwrite").partitionBy(self.ivf.bucket_col).parquet(
            fs_join(path, "codes")
        )
        # pinned codes schema: serving reads skip footer inference (see
        # IvfIndex.save)
        self.codes_schema = encoded.schema.jsonValue()
        fs.write_text(
            fs_join(path, self.MANIFEST),
            json.dumps(
                {
                    "centroids": self.ivf.centroids.tolist(),
                    "codebooks": self.pq.codebooks.tolist(),
                    "id_col": self.ivf.id_col,
                    "vec_col": self.ivf.vec_col,
                    "bucket_col": self.ivf.bucket_col,
                    "codes_schema": self.codes_schema,
                    # residual flag: codes decode as c_bucket + r, so a
                    # loader must know which space they live in (old
                    # manifests without it read as plain-v̂ codes)
                    "residual": self.pq.coarse is not None,
                }
            ),
        )

    def add(self, df: DataFrame, path: str) -> None:
        """Incremental ingest (the :meth:`IvfIndex.add` contract for the
        compressed index): assign new vectors with the STORED centroids,
        encode with the STORED codebooks, and append (id, code) rows into
        the bucket directories — O(batch), existing codes untouched.
        Re-``fit`` + rebuild when centroid/codebook drift degrades
        recall."""
        from solr_map_reduce_spark.fs import join as fs_join

        assigned = self.ivf.assign(df, bucket_col=self.ivf.bucket_col)
        encoded = self.pq.encode(
            assigned, code_col="pq_code", bucket_col=self.ivf.bucket_col
        ).select(self.ivf.id_col, self.ivf.bucket_col, "pq_code")
        (
            encoded.write.mode("append")
            .partitionBy(self.ivf.bucket_col)
            .parquet(fs_join(path, "codes"))
        )

    @classmethod
    def load(cls, spark, path: str) -> "IvfPqIndex":
        import json

        from solr_map_reduce_spark.fs import get_fs
        from solr_map_reduce_spark.fs import join as fs_join

        m = json.loads(get_fs(path, spark).read_text(fs_join(path, cls.MANIFEST)))
        ivf = IvfIndex(
            np.asarray(m["centroids"]), m["id_col"], m["vec_col"],
            m["bucket_col"],
        )
        pq = PqCodec(
            np.asarray(m["codebooks"]), m["id_col"], m["vec_col"],
            # the residual space is the UNIT-normalized centroids (the
            # same transform fit() applied — see the space contract)
            coarse=(
                _unit_rows(np.asarray(m["centroids"]))
                if m.get("residual") else None
            ),
        )
        out = cls(ivf, pq)
        out.codes_schema = m.get("codes_schema")
        return out

    def search_stored(
        self, spark, path: str, query: Sequence[float], k: int = 10,
        nprobe: int = 3, exclude: DataFrame | None = None,
    ) -> DataFrame:
        """ADC top-k over the probed buckets of a built index: the bucket
        filter hits the partition column (partition-pruned scan) and the
        scan reads only (id, code).  A manifest-pinned codes schema skips
        footer inference (no unprobed file touched at plan time).
        ``exclude``: (id) tombstones anti-joined before the top-k."""
        from solr_map_reduce_spark.fs import join as fs_join

        q = np.asarray(query, dtype=np.float64)
        d = ((self.ivf.centroids - q[None, :]) ** 2).sum(axis=1)
        probe = [int(b) for b in d.argsort()[:nprobe]]
        reader = spark.read
        if self.codes_schema:
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(self.codes_schema))
        codes = reader.parquet(fs_join(path, "codes")).filter(
            F.col(self.ivf.bucket_col).isin(probe)
        )
        if exclude is not None:
            codes = codes.join(exclude, on=self.ivf.id_col, how="left_anti")
        return self.pq.topk(
            codes, query, k=k, bucket_col=self.ivf.bucket_col
        )


def semantic_dedup(
    df: "DataFrame",
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_lsh: bool = True,
    **lsh_kwargs,
) -> "DataFrame":
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): drop documents
    whose EMBEDDINGS are near-duplicates, keeping one representative per
    semantic cluster — the embedding-space sibling of MinHash text dedup,
    catching paraphrases exact n-gram methods miss.

    Pipeline: cosine near-dup pair graph (sign-LSH blocked at scale —
    only (id, band) pairs shuffle, never an all-pairs join — or the exact
    blocked gram-matrix path for small corpora) → connected components
    (iterative min-label propagation, O(diameter) rounds) → keep the
    min-id representative of each cluster, dropping the rest via one
    left-anti join.  Returns the SURVIVING rows of ``df``.

    100 TB shape: every stage is the already-scale-shaped building block
    (cosine_pairs_lsh / connected_components); the final anti-join
    broadcasts when the dropped set is small (the common case — dup
    rates are single-digit percentages) and shuffles on the id otherwise.
    """
    pairs = (
        cosine_pairs_lsh(
            df, threshold=threshold, id_col=id_col, vec_col=vec_col,
            **lsh_kwargs,
        )
        if use_lsh
        else cosine_pairs_blocked(
            df, threshold=threshold, id_col=id_col, vec_col=vec_col
        )
    ).select("id_a", "id_b")
    from solr_map_reduce_spark.extensions.text_dedup import (
        connected_components,
    )

    dropped = (
        connected_components(pairs)
        .filter(F.col("cluster_id") != F.col("id"))
        .select(F.col("id").alias(id_col))
    )
    return df.join(dropped, id_col, "left_anti")
