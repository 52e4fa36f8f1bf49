"""Full-text search over the indexed artifact (SURVEY §2 C9 + the BM25
extension flagged there).

The reference's artifact answers full-text queries through Solr; the repo
itself only exercises index-time analysis (text_en fields).  Here the engine
answers them natively:

- ``contains_all`` / ``contains_any`` — boolean term queries over the token
  array (C9's ``array_contains`` shape).
- ``bm25_search`` — Okapi BM25 ranking (Robertson/Sparck Jones; the classic
  ``(k1+1)`` formulation) computed as a DataFrame plan: one projection of
  per-document term frequencies, scored against the corpus statistics.

Scale shape: the term frequencies are a narrow map; stored statistics
(``df_t`` per query term, ``n_docs``, ``avgdl``) are literal columns of that
map, and computed ones are a one-row aggregate broadcast back; the top-k is
a TakeOrdered with no shuffle of document rows.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from solr_map_reduce_spark.extensions.text_dedup import tokens_column


def _toks(text_col: str, tokens_col: "str | F.Column | None") -> F.Column:
    """The analyzed token array: the STORED column when the artifact carries
    one (analyze-once, the reference's index-time contract), else on-the-fly
    analysis of the raw text column.  Accepts a pre-built Column so
    callers can hand in a cleaned view (e.g. reversed-marker copies
    filtered out for text_general_rev fields)."""
    if tokens_col is None:
        return tokens_column(F.col(text_col))
    return F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col


def contains_all(
    df: DataFrame, terms: Sequence[str], text_col: str = "text", id_col: str = "doc_id",
    tokens_col: str | None = None,
) -> DataFrame:
    """Docs whose token set contains ALL terms (AND term query)."""
    if not terms:
        raise ValueError("contains_all needs at least one term")
    toks = _toks(text_col, tokens_col)
    staged = df.withColumn("_toks", toks)
    cond = None
    for term in terms:
        c = F.array_contains(F.col("_toks"), term)
        cond = c if cond is None else (cond & c)
    return staged.filter(cond).select(id_col)


def contains_any(
    df: DataFrame, terms: Sequence[str], text_col: str = "text", id_col: str = "doc_id",
    tokens_col: str | None = None,
) -> DataFrame:
    """Docs whose token set contains ANY term (OR term query)."""
    if not terms:
        raise ValueError("contains_any needs at least one term")
    toks = _toks(text_col, tokens_col)
    staged = df.withColumn("_toks", toks)
    cond = None
    for term in terms:
        c = F.array_contains(F.col("_toks"), term)
        cond = c if cond is None else (cond | c)
    return staged.filter(cond).select(id_col)


def contains_none(
    df: DataFrame, terms: Sequence[str], text_col: str = "text", id_col: str = "doc_id",
    tokens_col: str | None = None,
) -> DataFrame:
    """Docs whose token set contains NONE of the terms (NOT term query —
    Solr's ``-term`` / prohibited clauses)."""
    if not terms:
        raise ValueError("contains_none needs at least one term")
    toks = _toks(text_col, tokens_col)
    staged = df.withColumn("_toks", toks)
    cond = None
    for term in terms:
        c = ~F.array_contains(F.col("_toks"), term)
        cond = c if cond is None else (cond & c)
    return staged.filter(cond).select(id_col)


def prefix_match(
    df: DataFrame, prefix: str, text_col: str = "text", id_col: str = "doc_id",
    tokens_col: str | None = None,
) -> DataFrame:
    """Docs with any token starting with ``prefix`` (Solr's ``prefix*``
    wildcard).  Same padded-token-join trick as :func:`match_phrase`:
    a token boundary is a space, so ``' prefix'`` containment == some
    token starts with it — whole predicate stays in codegen."""
    import re

    norm = re.findall(r"[^\W_]+", prefix.lower(), flags=re.UNICODE)
    if len(norm) != 1:
        raise ValueError(f"prefix {prefix!r} must normalize to one token")
    toks = _toks(text_col, tokens_col)
    hay = F.concat(F.lit(" "), F.array_join(toks, " "), F.lit(" "))
    return df.filter(hay.contains(" " + norm[0])).select(id_col)


def match_phrase(
    df: DataFrame, phrase: str, text_col: str = "text", id_col: str = "doc_id",
    tokens_col: str | None = None, slop: int = 0,
) -> DataFrame:
    """Analyzed phrase query (Solr's ``"a b"`` / ``"a b"~N``): with
    ``slop=0`` the phrase's tokens must appear adjacently; with
    ``slop=N`` they must appear IN ORDER with at most ``N`` extra
    positions between first and last (see :func:`_slop_match`) — under
    the same analysis as the index side.

    The slop-0 implementation stays in whole-stage codegen: tokens
    contain no spaces, so a single-space token join padded with spaces
    turns token-adjacency into plain substring containment — no
    higher-order array scan.  The sloppy path is higher-order array
    functions over token positions, still fully JVM-side."""
    import re

    terms = re.findall(r"[^\W_]+", phrase.lower(), flags=re.UNICODE)
    if not terms:
        raise ValueError(f"phrase {phrase!r} has no tokens")
    toks = _toks(text_col, tokens_col)
    if slop and len(terms) > 1:
        return df.filter(_slop_match(toks, terms, slop)).select(id_col)
    needle = " " + " ".join(terms) + " "
    # _visible_toks: text_general_rev interleaves \x01-marked reversed
    # copies between the real tokens, which would break adjacency.
    hay = F.concat(
        F.lit(" "), F.array_join(_visible_toks(toks), " "), F.lit(" ")
    )
    return df.filter(hay.contains(needle)).select(id_col)


def _bm25_term_expr(
    tf: F.Column, dl: F.Column, n_docs: F.Column, df_t: F.Column,
    avgdl: F.Column, k1: float, b: float,
) -> F.Column:
    """THE BM25 per-term score expression — the single definition both
    :func:`bm25_search` and :func:`bm25_dismax` build from (a formula
    change here changes both, by construction):
    ``ln(1 + (N - df + 0.5)/(df + 0.5)) · tf(k1+1)/(tf + k1(1 - b +
    b·dl/avgdl))``, and an absent term contributes exactly 0 (skipping
    the 0/x arithmetic so decimal rounding of -0.0 can't diverge)."""
    idf = F.log(F.lit(1.0) + (n_docs - df_t + 0.5) / (df_t + 0.5))
    raw = idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))
    return F.when(tf > 0, raw).otherwise(F.lit(0.0))


def _with_stats(
    compact: DataFrame, stored: "Mapping[str, float] | None",
    aggs: "Callable[[], list[F.Column]]",
) -> DataFrame:
    """``compact``'s rows with the BM25 statistics beside them as columns,
    the one step :func:`bm25_search` and :func:`bm25_dismax` share.
    ``stored`` (column name -> the sidecar's value) become literal columns
    of the one scan: no join, so no job beyond the scan's own.  The
    optimizer then folds each term's idf to a constant with the same
    ``StrictMath.log`` and IEEE arithmetic that codegen runs, so scores
    stay bit-identical to the computed path.  Without them, ``aggs()``
    derive the statistics in a one-row aggregate over the checkpointed
    compact table (small at any scale: an id, dls and tfs per document;
    its two consumers share one tokenization), broadcast back to every
    row."""
    if stored is not None:
        return compact.select(
            "*", *[F.lit(v).alias(name) for name, v in stored.items()]
        )
    compact = compact.localCheckpoint(eager=False)
    return compact.join(F.broadcast(compact.agg(*aggs())))


def bm25_search(
    df: DataFrame,
    query_terms: Sequence[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    with_score: bool = True,
    exact_sum: bool = False,
    tokens_col: str | None = None,
    stored_stats: tuple[int, int, int] | None = None,
    stored_dfs: "dict[str, int] | None" = None,
    boosts: "dict[str, float] | None" = None,
    boost_col: "F.Column | None" = None,
) -> DataFrame:
    """Top-k documents for a bag-of-terms query by BM25.

    ``boost_col`` is Solr's edismax MULTIPLICATIVE function-query boost
    (``boost=recip(ms(NOW,date),...)``): an arbitrary Column expression
    over the document's stored fields, multiplied into the final score —
    recency/popularity boosting without touching matching.

    ``boosts={term: weight}`` applies Lucene query-time term boosts
    (``term^2``): the term's BM25 contribution is multiplied by the
    weight.  Boosts never change WHICH documents match, only ranking.

    ``stored_stats=(n_docs, sum_dl, n_dl)`` + ``stored_dfs={term: df}`` switch to
    the serve-from-the-artifact path: corpus statistics come from the build
    time sidecar instead of a per-query stats pass, as literal columns of
    the scan, so the plan is ONE scan (which the caller may additionally
    shard-prune) + TakeOrdered, with no join: one Spark job to collect.
    Scores are bit-identical to the computed-stats path: dl sums and df
    counts are integers, exact in IEEE doubles far beyond any corpus size,
    so ``avgdl = sum_dl/n_docs`` reproduces ``avg(dl)`` exactly.

    idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (Lucene-style bounded idf);
    score = Σ_t idf_t · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl)).

    ``exact_sum`` routes the per-term score sum through DECIMAL(18,6) so the
    result is independent of summation order (cross-engine oracle parity).

    Plan shape (one corpus pass, zero wide shuffles): a single tokenize
    projection reduces each document to a compact "norms" row
    ``(id, dl, tf per query term)`` — the analog of Lucene's norms +
    query-term postings.  Without stored statistics that small table is
    checkpointed (so its two consumers don't re-tokenize the corpus), a
    one-row aggregate computes ``n_docs``/``avgdl``/``df_t`` for every
    term simultaneously, and scoring is a broadcast of that row + a
    per-row expression + TakeOrdered(k) (see :func:`_with_stats`).
    The earlier explode -> groupBy(id, term) -> groupBy(term) formulation
    evaluated the tokenizer three times and shuffled twice (~4x slower at
    sf0.1).
    """
    if not query_terms:
        raise ValueError("bm25_search needs at least one term")
    terms = [t.lower() for t in query_terms]
    toks = _toks(text_col, tokens_col)
    boost_proj = (
        [boost_col.cast("double").alias("_fnboost")]
        if boost_col is not None
        else []
    )

    def _tf(term: str) -> F.Column:
        # single-parameter lambda: a two-parameter one would make PySpark pass
        # the element *index* as the second argument, clobbering the default
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    tf_cols = [
        _tf(term).cast("double").alias(f"_tf{i}") for i, term in enumerate(terms)
    ]
    compact = df.select(
        F.col(id_col), F.size(toks).cast("double").alias("dl"), *tf_cols,
        *boost_proj,
    )
    stored = None
    if stored_stats is not None and stored_dfs is not None:
        # n_docs = count(*) (idf denominator base); avgdl = sum(dl)/count(dl)
        # over non-null dl — exactly F.avg's semantics, exact because both
        # are integer-valued
        n_docs, sum_dl, n_dl = stored_stats
        stored = {
            "n_docs": float(n_docs),
            "avgdl": float(sum_dl) / float(n_dl) if n_dl else 0.0,
            **{f"_df{i}": float(stored_dfs.get(term, 0))
               for i, term in enumerate(terms)},
        }
    compact = _with_stats(compact, stored, lambda: [
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("double")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    ])

    norm_boosts = {t.lower(): float(w) for t, w in (boosts or {}).items()}

    def term_score(i: int) -> F.Column:
        score = _bm25_term_expr(
            F.col(f"_tf{i}"), F.col("dl"), F.col("n_docs"),
            F.col(f"_df{i}"), F.col("avgdl"), k1, b,
        )
        w = norm_boosts.get(terms[i], 1.0)
        if w != 1.0:
            score = score * F.lit(w)
        return score.cast("decimal(18,6)") if exact_sum else score

    total = term_score(0)
    for i in range(1, len(terms)):
        total = total + term_score(i)
    if exact_sum:
        total = total.cast("double")
    if boost_col is not None:
        # multiplicative function boost AFTER the (possibly decimal-
        # exact) term sum: identical double operands give bit-identical
        # products cross-engine
        total = total * F.coalesce(F.col("_fnboost"), F.lit(1.0))

    hit = None
    for i in range(len(terms)):
        c = F.col(f"_tf{i}") > 0
        hit = c if hit is None else (hit | c)

    scored = compact.filter(hit).select(F.col(id_col), total.alias("score"))
    if k is not None:  # k=None: every matching doc, unordered (rerank feeds)
        scored = scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)
    return scored if with_score else scored.select(id_col)


def resolve_mm(mm: "int | str", n_words: int) -> int:
    """Solr's dismax ``mm`` (minimum-should-match) to a required word
    count over ``n_words`` optional clauses: a positive int is absolute,
    a negative int leaves that many optional (n - N), ``"P%"`` rounds
    DOWN, ``"-P%"`` leaves floor(n*P/100) optional.  A non-positive
    computed mm floors to 1 — Lucene treats it as no constraint, and a
    pure disjunction already needs one match.  An mm ABOVE the clause
    count is returned as-is: Lucene's minimumShouldMatch beyond the
    optional-clause count matches NOTHING, and the caller's
    ``matched_words >= req`` predicate is then unsatisfiable — clamping
    down to "all words" would silently widen over-specified queries.

    Conditional expressions (Solr's ``2<-25% 9<-3``) follow the
    documented contract: each space-separated ``N<spec`` applies when
    the clause count EXCEEDS N; the spec of the greatest such N wins;
    at or below the smallest N, ALL clauses are required."""
    s = str(mm).strip()
    if "<" in s:
        conds = []
        for part in s.split():
            n_str, _, spec = part.partition("<")
            try:
                thresh = int(n_str)
            except ValueError:
                thresh = None
            if thresh is None or not spec or "<" in spec:
                raise QuerySyntaxError(
                    f"unsupported conditional mm {mm!r} (expected "
                    "space-separated N<spec pairs, e.g. '2<-25% 9<-3')"
                )
            conds.append((thresh, spec))
        conds.sort()
        applicable = [spec for t_, spec in conds if n_words > t_]
        if not applicable:
            return n_words  # at or below the smallest N: all required
        return resolve_mm(applicable[-1], n_words)
    try:
        if s.endswith("%"):
            pct = float(s[:-1])
            req = (
                n_words - int(n_words * (-pct) / 100.0)
                if pct < 0
                else int(n_words * pct / 100.0)
            )
        else:
            v = int(s)
            req = n_words + v if v < 0 else v
    except ValueError:
        raise QuerySyntaxError(
            f"unsupported mm spec {mm!r} (int, -int, P%, -P% supported)"
        ) from None
    return max(1, req)


def bm25_dismax(
    df: DataFrame,
    field_specs: "Mapping[str, dict]",
    k: int = 10,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    tie: float = 0.0,
    exact_sum: bool = False,
    with_score: bool = True,
    mm: "int | str | None" = None,
    boost_col: "F.Column | None" = None,
    pf_specs: "Mapping[str, dict] | None" = None,
) -> DataFrame:
    """Multi-field DisMax ranking — Solr's (e)dismax ``qf=title^2 body``
    (Lucene DisjunctionMaxQuery): for each query WORD, every field scores
    it independently (its own analysis, statistics, and boost); the
    word's score is the MAX over fields plus ``tie`` times the rest
    (``tie=0`` pure dismax, ``tie=1`` sum-of-fields); document score is
    the sum over words.

    ``field_specs`` maps field name -> ``{"weight": w, "tokens_col": c,
    "word_tokens": [[tok, ...] per query word], "stored_stats":
    (n_docs, sum_dl, n_dl) | None, "stored_dfs": {tok: df} | None}`` —
    the per-field analysis happens at the CALLER (each field analyzes
    the raw words with its own analyzer, Solr's per-field query
    analysis), and BM25 statistics are PER FIELD (Lucene's per-field
    norms/docCount).  When every field carries stored stats they are
    literal columns of the scan and the plan is ONE scan + TakeOrdered,
    with no join; otherwise one extra aggregate over the checkpointed
    compact projection derives all fields' statistics simultaneously and
    is broadcast back (:func:`_with_stats`, shared with bm25_search).

    ``exact_sum`` routes each (word, field) contribution through
    DECIMAL(18,6) before the max/tie/sum combination, making scores
    independent of engine-internal float ordering (cross-engine oracle
    parity — the ext_dismax_topk entry's DuckDB mirror builds the same
    expression tree).

    MAINTENANCE: this intentionally mirrors bm25_search's machinery
    (compact tf projection, stored-vs-computed stats, the BM25 term
    expression, TakeOrdered tail) generalized to per-field
    statistics and the word-level max/tie combiner.  A change to the
    scoring formula or stats handling in either function must be
    mirrored in the other — their score parity is pinned by
    tests/test_search.py::TestDismax (stored==computed) and both
    oracled entries."""
    fields = list(field_specs)

    def _tf_of(toks_c: F.Column, term: str) -> F.Column:
        # single-parameter lambda: a two-parameter one would make PySpark
        # pass the element INDEX as the second argument (same pitfall as
        # bm25_search's _tf)
        return F.size(F.filter(toks_c, lambda x: x == F.lit(term)))

    # compact projection: per field its dl + a tf per needed token.
    # The multiplicative boost (edismax boost=) evaluates HERE, over the
    # full row, so the function query may reference any document column
    # without widening the projection beyond one extra double.
    proj: list = [F.col(id_col)]
    if boost_col is not None:
        proj.append(boost_col.cast("double").alias("_fnboost"))
    # edismax pf= (phrase fields): an ADDITIVE bonus when the whole
    # query appears as an adjacent phrase in the field.  Solr adds the
    # Lucene phrase score; our PINNED formula is the field's pf weight
    # itself per matched field (a constant, oracle-exact) — the ranking
    # effect (adjacent-phrase docs first) is the same.  The indicator
    # is the slop-0 token-join containment trick: one string op in the
    # same projection, no positions scan.
    # pf2/pf3 ride the same projection: each spec carries a LIST of
    # shingles (the full phrase for pf, consecutive pairs/triples for
    # pf2/pf3) and the bonus counts matched shingles × weight.
    for i, (pf_f, pf_spec) in enumerate((pf_specs or {}).items()):
        tc_ = pf_spec["tokens_col"]
        toks_ = F.col(tc_) if isinstance(tc_, str) else tc_
        hay = F.concat(
            F.lit(" "), F.array_join(_visible_toks(toks_), " "), F.lit(" ")
        )
        shingles = pf_spec.get(
            "shingles", [pf_spec["phrase_tokens"]]
        )
        slop = int(pf_spec.get("slop", 0))
        cnt = None
        for sh in shingles:
            if slop > 0 and len(sh) > 1:
                # ps=/ps2=/ps3= (Solr's pf phrase slop): the sloppy
                # ordered-window matcher instead of strict adjacency
                c = F.coalesce(
                    _slop_match(toks_, list(sh), slop), F.lit(False)
                ).cast("int")
            else:
                needle = " " + " ".join(sh) + " "
                c = hay.contains(needle).cast("int")
            cnt = c if cnt is None else cnt + c
        proj.append(cnt.alias(f"_pf_{i}"))
    tok_idx: dict = {}
    for f in fields:
        spec = field_specs[f]
        tc = spec["tokens_col"]
        toks = F.col(tc) if isinstance(tc, str) else tc
        proj.append(F.size(toks).cast("double").alias(f"_dl_{f}"))
        for wtoks in spec["word_tokens"]:
            for t in wtoks:
                if (f, t) not in tok_idx:
                    i = len(tok_idx)
                    tok_idx[(f, t)] = i
                    proj.append(
                        _tf_of(toks, t).cast("double").alias(f"_tf_{i}")
                    )
    compact = df.select(*proj)
    all_stored = all(
        field_specs[f].get("stored_stats")
        and field_specs[f].get("stored_dfs") is not None
        for f in fields
    )
    stored = None
    if all_stored:
        stored = {}
        for f in fields:
            n, sdl, ndl = field_specs[f]["stored_stats"]
            stored[f"_n_{f}"] = float(n)
            stored[f"_avgdl_{f}"] = float(sdl) / float(ndl) if ndl else 0.0
        for (f, t), i in tok_idx.items():
            stored[f"_df_{i}"] = float(field_specs[f]["stored_dfs"].get(t, 0))

    def aggs() -> list:
        cols = []
        for f in fields:
            # count(*), not count(dl): the stored-stats path's n_docs
            # counts ALL rows (search_stats counts the corpus), so the
            # derived path must too or idf diverges when a field is NULL
            cols.append(F.count(F.lit(1)).cast("double").alias(f"_n_{f}"))
            cols.append(F.avg(f"_dl_{f}").alias(f"_avgdl_{f}"))
        for (_f, _t), i in tok_idx.items():
            cols.append(
                F.sum((F.col(f"_tf_{i}") > 0).cast("double")).alias(f"_df_{i}")
            )
        return cols

    compact = _with_stats(compact, stored, aggs)

    def tok_score(f: str, i: int) -> F.Column:
        return _bm25_term_expr(
            F.col(f"_tf_{i}"), F.col(f"_dl_{f}"), F.col(f"_n_{f}"),
            F.col(f"_df_{i}"), F.col(f"_avgdl_{f}"), k1, b,
        )

    n_words = max(len(field_specs[f]["word_tokens"]) for f in fields)
    word_scores = []
    for w in range(n_words):
        per_field = []
        for f in fields:
            spec = field_specs[f]
            wtoks = spec["word_tokens"][w] if w < len(spec["word_tokens"]) else []
            if not wtoks:
                continue
            s = None
            for t in wtoks:
                c = tok_score(f, tok_idx[(f, t)])
                s = c if s is None else s + c
            s = s * F.lit(float(spec.get("weight", 1.0)))
            if exact_sum:
                s = s.cast("decimal(18,6)")
            per_field.append(s)
        if not per_field:
            continue
        if len(per_field) == 1:
            word_scores.append(per_field[0])
        else:
            mx = F.greatest(*per_field)
            if tie:
                total_f = per_field[0]
                for c in per_field[1:]:
                    total_f = total_f + c
                word_scores.append(mx + F.lit(float(tie)) * (total_f - mx))
            else:
                word_scores.append(mx)
    if not word_scores:
        raise ValueError("dismax query has no analyzable words in any field")
    total = word_scores[0]
    for s in word_scores[1:]:
        total = total + s
    if exact_sum:
        total = total.cast("double")
    for i, (pf_f, pf_spec) in enumerate((pf_specs or {}).items()):
        total = total + (
            F.col(f"_pf_{i}").cast("double")
            * F.lit(float(pf_spec.get("weight", 1.0)))
        )
    if boost_col is not None:
        # Solr's edismax boost=: multiplicative, AFTER the dismax
        # combination (matching bm25_search's boost_col placement)
        total = total * F.coalesce(F.col("_fnboost"), F.lit(1.0))
    # per-WORD match predicates (a word matches when ANY qf field
    # matches any of its analyzed tokens) — the units Solr's mm
    # (minimum-should-match) counts; words that analyzed away don't
    # count (Solr: removed clauses don't participate in mm)
    word_hits = []
    for w in range(n_words):
        cond = None
        for f in fields:
            spec = field_specs[f]
            wtoks = spec["word_tokens"][w] if w < len(spec["word_tokens"]) else []
            for t_ in wtoks:
                c = F.col(f"_tf_{tok_idx[(f, t_)]}") > 0
                cond = c if cond is None else (cond | c)
        if cond is not None:
            word_hits.append(cond)
    if mm is None:  # pure disjunction: any word matching admits the doc
        hit = word_hits[0]
        for c in word_hits[1:]:
            hit = hit | c
    else:
        req = resolve_mm(mm, len(word_hits))
        cnt = word_hits[0].cast("int")
        for c in word_hits[1:]:
            cnt = cnt + c.cast("int")
        hit = cnt >= req
    scored = (
        compact.filter(hit)
        .select(F.col(id_col), total.alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )
    return scored if with_score else scored.select(id_col)


def bm25_oracle_sql(
    query_terms: Sequence[str], k: int | None = 10, k1: float = 1.2, b: float = 0.75,
    with_score: bool = True, exact_sum: bool = False,
    fq_sql: str | None = None,
    boosts: "dict[str, float] | None" = None,
    boost_sql: str | None = None,
) -> str:
    """The matching DuckDB SQL for :func:`bm25_search` over ``documents``.

    ``fq_sql`` (a predicate over the token list ``t``, e.g.
    ``"list_contains(t, 'database')"``) mirrors Solr's filter-query
    semantics: it restricts the CANDIDATES, never the statistics —
    n_docs/avgdl/df stay collection-wide, so scores are fq-invariant.
    ``boosts`` mirrors :func:`bm25_search`'s term boosts (same multiply-
    then-round order, so exact_sum scores stay bit-identical)."""
    terms = ", ".join(f"'{t.lower()}'" for t in query_terms)
    score_col = ", score" if with_score else ""
    score_expr = (
        "ln(1.0 + (s.n_docs - d.df_t + 0.5) / (d.df_t + 0.5))"
        f" * (p.tf * ({k1} + 1)) / (p.tf + {k1} * (1 - {b} + {b} * p.dl / s.avgdl))"
    )
    norm_boosts = {t.lower(): float(w) for t, w in (boosts or {}).items()}
    if any(w != 1.0 for w in norm_boosts.values()):
        cases = " ".join(
            f"WHEN '{t}' THEN {w!r}" for t, w in sorted(norm_boosts.items())
        )
        score_expr = f"({score_expr}) * (CASE p.term {cases} ELSE 1.0 END)"
    sum_expr = (
        f"CAST(sum(CAST({score_expr} AS DECIMAL(18,6))) AS DOUBLE)"
        if exact_sum
        else f"sum({score_expr})"
    )
    cand_filter = (
        f"\n  WHERE p.doc_id IN (SELECT doc_id FROM toks WHERE {fq_sql})"
        if fq_sql
        else ""
    )
    # multiplicative function-query boost (edismax boost=): applied AFTER
    # the (decimal-exact) sum, mirroring bm25_search's boost_col order
    limit_clause = f" LIMIT {k}" if k is not None else ""
    boost_mul = f" * ({boost_sql})" if boost_sql else ""
    boost_join = " JOIN documents doc ON doc.doc_id = p.doc_id" if boost_sql else ""
    boost_group = f", ({boost_sql})" if boost_sql else ""
    return f"""
WITH toks AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '[^\\p{{L}}\\p{{N}}]+'),
                x -> x <> '') AS t
  FROM documents
), staged AS (
  SELECT doc_id, t, CAST(length(t) AS DOUBLE) AS dl FROM toks
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM staged
), postings AS (
  SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, dl, unnest(t) AS term FROM staged)
  WHERE term IN ({terms})
  GROUP BY doc_id, dl, term
), df_t AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS df_t FROM postings GROUP BY term
), scored AS (
  SELECT p.doc_id, {sum_expr}{boost_mul} AS score
  FROM postings p JOIN df_t d ON p.term = d.term CROSS JOIN stats s{boost_join}{cand_filter}
  GROUP BY p.doc_id{boost_group}
)
SELECT doc_id{score_col} FROM scored ORDER BY score DESC, doc_id{limit_clause}
"""


# ---------------------------------------------------------------------------
# Boolean query language (the Solr/Lucene syntax subset the reference's
# users write: terms, "quoted phrases", AND / OR / NOT (and && / || / -),
# parentheses; default operator OR, Solr's q.op default).  Parsed
# driver-side into a tiny AST, compiled to ONE Column predicate over the
# stored token array — a single scan however complex the query.
# ---------------------------------------------------------------------------

import re as _re


class QuerySyntaxError(ValueError):
    """Malformed boolean query string."""


_LOCAL_PARAMS_RE = _re.compile(r"^\s*\{!\s*(\w+)((?:\s+[\w.]+=(?:'[^']*'|\"[^\"]*\"|\S+?(?=\s|\})))*)\s*\}(.*)$", _re.DOTALL)
_LOCAL_PARAM_KV_RE = _re.compile(r"([\w.]+)=('[^']*'|\"[^\"]*\"|\S+)")


def parse_local_params(q: str):
    """Solr local-params prefix: ``{!type key=value key='quoted'}rest``.

    Returns ``(qtype, params, rest)`` when ``q`` starts with a local-params
    block, else ``None`` (the plain query path).  Values may be single- or
    double-quoted (quotes stripped) — Solr's LocalParams syntax.  ``rest``
    is returned VERBATIM (no whitespace strip): {!field}/{!prefix}/{!terms}
    match the raw body exactly, spaces included; query-typed consumers
    ({!join} inner queries etc.) strip it themselves.  A malformed block
    (``{!``... without a closing ``}``) raises :class:`QuerySyntaxError`
    rather than silently parsing ``{!join`` as terms."""
    if not q.lstrip().startswith("{!"):
        return None
    m = _LOCAL_PARAMS_RE.match(q)
    if not m:
        raise QuerySyntaxError(f"malformed local params in {q!r}")
    qtype, raw, rest = m.group(1), m.group(2), m.group(3)
    params = {}
    # SEQUENTIAL anchored scan, not findall: the block regex can accept
    # a quoted-then-continued value (v='rock'n'roll') via its lazy \S+?
    # alternative, and findall would silently re-extract just v='rock'
    # — unconsumed garbage after a pair must be LOUD instead
    pos2 = 0
    while pos2 < len(raw):
        while pos2 < len(raw) and raw[pos2].isspace():
            pos2 += 1
        if pos2 >= len(raw):
            break
        mkv = _LOCAL_PARAM_KV_RE.match(raw, pos2)
        if not mkv:
            raise QuerySyntaxError(
                f"malformed local params near {raw[pos2:].strip()!r} "
                f"in {q!r}"
            )
        k, v = mkv.group(1), mkv.group(2)
        end = mkv.end()
        if (
            v and v[0] in "'\"" and v[-1] == v[0] and len(v) > 1
            and end < len(raw) and not raw[end].isspace()
        ):
            raise QuerySyntaxError(
                f"local param {k}= has trailing characters after its "
                f"quoted value in {q!r} (escape interior quotes)"
            )
        pos2 = end
        if v and v[0] in "'\"" and v[-1] == v[0]:
            v = v[1:-1]
        if k in params:
            # Solr local params repeat keys ({!bool must='a' must='b'});
            # a repeated key becomes a list, a single one stays a str
            prev = params[k]
            params[k] = (prev if isinstance(prev, list) else [prev]) + [v]
        else:
            params[k] = v
    return qtype, params, rest


_FQ_TOKEN_RE = _re.compile(
    r"\s*(?:(?P<num>-?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?)"
    r"|(?P<name>[A-Za-z_][\w.]*)"
    r"|(?P<str>'[^']*'|\"[^\"]*\")"
    r"|(?P<punc>[(),]))"
)

# relevance functions take a RAW (field, term) pair — the field is an
# identity, not a value expression, and the term is the INDEXED form
# (Solr's termfreq/docfreq contract: no query-time analysis) — and need
# an index context (token columns + the stored term dictionary)
_FQ_RELEVANCE_FNS = ("termfreq", "docfreq", "idf", "ttf", "tf", "norm")


def parse_function_query(s: str, context=None) -> F.Column:
    """Solr function-query syntax → ONE Column expression: numeric
    literals, bare field references, and the arithmetic core —
    ``sum/sub/product/div/min/max/abs/sqrt/pow/log/ln/linear/recip``
    (``log`` is base-10, Lucene's; ``recip(x,m,a,b) = a/(m*x+b)``,
    the canonical recency boost; ``linear(x,m,c) = m*x+c``) — plus the
    conditional family: ``if(test,a,b)`` (test true when nonzero,
    Solr's BoolFunction coercion), ``exists(f)`` (1 when the field has
    a value), ``def(f,d)`` (field value or default — Solr's def),
    ``map(x,min,max,target[,def])`` (range remap; untouched values
    pass through unless ``def`` overrides), ``mod(a,b)``, ``not(x)``.
    Field refs cast to double so integer fields divide like Solr
    doubles.

    ``ms()`` is Solr's epoch-milliseconds family — ``ms()`` (NOW),
    ``ms(a)``, ``ms(a,b) = a - b`` — where each arg is a
    timestamp/date FIELD or a Solr date-math string (``NOW/DAY``,
    ``2024-01-01T00:00:00Z+7DAYS``); date math resolves driver-side to
    a millis literal (NOW through the deterministic ``fixed_now``
    hook), so the canonical recency boost ``recip(ms(NOW,ts),m,a,b)``
    is one codegen expression with a constant NOW.

    RELEVANCE functions — ``termfreq(f,t)`` / ``docfreq(f,t)`` /
    ``idf(f,t)`` — take a raw (field, term) pair (the term in its
    INDEXED form, optionally quoted — Solr applies no query-time
    analysis here either) and need ``context``, an index adapter
    providing the stored token columns and term dictionary; the
    SearchIndex sort/frange/collapse paths supply it.  ``termfreq`` is
    a per-row token count over the analyze-once ``__tokens`` column;
    ``docfreq``/``idf`` fold to plan-time LITERALS from the dictionary
    sidecar (a KB-scale driver lookup, the Solr/Lucene cost model);
    ``idf`` is Lucene BM25's ``ln(1+(N-df+0.5)/(df+0.5))`` — the
    default similarity; ``tf``/``norm``/``ttf`` raise (ClassicSimilarity
    statistics this artifact does not store).

    Stays an expression tree (JVM whole-stage codegen) — a function
    query never becomes a UDF."""
    pos = 0
    n = len(s)

    def err(msg):
        return QuerySyntaxError(f"function query {s!r}: {msg}")

    def next_tok():
        nonlocal pos
        if pos >= n or not s[pos:].strip():
            return None
        m = _FQ_TOKEN_RE.match(s, pos)
        if not m:
            raise err(f"unexpected character at {pos}: {s[pos]!r}")
        pos = m.end()
        return m

    def peek():
        save = pos
        m = next_tok()
        restore(save)
        return m

    def restore(p):
        nonlocal pos
        pos = p

    def parse_expr() -> F.Column:
        m = next_tok()
        if m is None:
            raise err("unexpected end of input")
        if m.group("num") is not None:
            return F.lit(float(m.group("num")))
        if m.group("str") is not None:
            raise err(
                "string literals are only valid as the term argument of "
                f"{'/'.join(_FQ_RELEVANCE_FNS[:3])}"
            )
        if m.group("name") is not None:
            name = m.group("name")
            nxt = peek()
            if nxt is not None and nxt.group("punc") == "(":
                next_tok()  # consume (
                if name.lower() in _FQ_RELEVANCE_FNS:
                    return parse_relevance(name.lower())
                if name.lower() == "ms":
                    return parse_ms()
                if name.lower() in ("exists", "def"):
                    # the field argument is an IDENTITY: presence tests
                    # the RAW column — the generic path's double cast
                    # reads present-but-non-numeric values as missing,
                    # while Solr's exists()/def() see ANY value
                    save = pos
                    first = next_tok()
                    raw0 = expr0 = None
                    if first is not None and first.group("name") is not None:
                        after = peek()
                        if not (after is not None
                                and after.group("punc") == "("):
                            raw0 = F.col(first.group("name"))
                    if raw0 is None:
                        restore(save)
                        expr0 = parse_expr()
                    m2 = next_tok()
                    if name.lower() == "exists":
                        if m2 is None or m2.group("punc") != ")":
                            raise err("exists() takes exactly 1 arg")
                        probe = raw0 if raw0 is not None else expr0
                        return F.when(probe.isNotNull(), 1.0).otherwise(0.0)
                    if m2 is None or m2.group("punc") != ",":
                        raise err("def() takes exactly 2 args")
                    dflt = parse_expr()
                    m3 = next_tok()
                    if m3 is None or m3.group("punc") != ")":
                        raise err("def() takes exactly 2 args")
                    if raw0 is not None:
                        # present-but-non-numeric yields NULL (the field
                        # EXISTS, so the default must not apply)
                        return F.when(
                            raw0.isNotNull(), raw0.cast("double")
                        ).otherwise(dflt)
                    return F.coalesce(expr0, dflt)
                args = []
                if (p := peek()) is not None and p.group("punc") == ")":
                    next_tok()
                else:
                    while True:
                        args.append(parse_expr())
                        m2 = next_tok()
                        if m2 is None:
                            raise err("missing ')'")
                        if m2.group("punc") == ")":
                            break
                        if m2.group("punc") != ",":
                            raise err("expected ',' or ')'")
                return apply_fn(name.lower(), args)
            return F.col(name).cast("double")
        raise err(f"unexpected token {m.group(0)!r}")

    _MS_IDENT_RE = _re.compile(r"^[A-Za-z_][\w.]*$")

    def parse_ms() -> F.Column:
        # Solr ms(): epoch milliseconds — ms() = NOW, ms(a) = millis of
        # a, ms(a,b) = a - b.  Args are DATE sources (a timestamp/date
        # field, or Solr date math: NOW/DAY, 2024-01-01T00:00:00Z+7DAYS)
        # — raw-parsed, since date-math strings contain characters the
        # expression tokenizer rejects.  Date-math resolves DRIVER-SIDE
        # to a millis literal (NOW through resolve_now/fixed_now, the
        # deterministic hook); field refs stay scan expressions
        # (timestamp -> epoch millis).  The canonical recency boost
        # recip(ms(NOW,ts),3.16e-11,1,1) therefore compiles to ONE
        # codegen Column with a constant NOW.
        nonlocal pos
        end = s.find(")", pos)
        if end < 0:
            raise err("ms() missing ')'")
        raw_args = s[pos:end]
        pos = end + 1
        parts = (
            [p.strip() for p in raw_args.split(",")]
            if raw_args.strip() else []
        )
        if len(parts) > 2 or any(not p for p in parts):
            raise err("ms() takes 0-2 date args")

        from datetime import timezone

        from solr_map_reduce_spark.functions.datemath import (
            parse_datemath,
            resolve_now,
        )

        def millis_of(p: str) -> F.Column:
            if p and p[0] in "'\"" and p[-1] == p[0]:
                p = p[1:-1].strip()
            if _MS_IDENT_RE.match(p) and p != "NOW":
                # a field reference — date casts through timestamp at
                # UTC midnight (the session is pinned UTC)
                return (
                    F.col(p).cast("timestamp").cast("double") * 1000.0
                )
            try:
                dt = parse_datemath(p, where="ms()")
            except QuerySyntaxError:
                raise
            except Exception as exc:
                raise err(f"ms() arg {p!r}: {exc}") from None
            return F.lit(
                dt.replace(tzinfo=timezone.utc).timestamp() * 1000.0
            )

        if not parts:
            now = resolve_now()
            return F.lit(
                now.replace(tzinfo=timezone.utc).timestamp() * 1000.0
            )
        if len(parts) == 1:
            return millis_of(parts[0])
        return millis_of(parts[0]) - millis_of(parts[1])

    def parse_relevance(fn) -> F.Column:
        # termfreq/docfreq/idf(field, term): '(' already consumed —
        # field is an IDENTITY token, term a bare word / number /
        # quoted string, both raw (indexed form, no analysis)
        m1 = next_tok()
        if m1 is None or m1.group("name") is None:
            raise err(f"{fn}() needs a field name first")
        fld = m1.group("name")
        m2 = next_tok()
        if m2 is None or m2.group("punc") != ",":
            raise err(f"{fn}() takes (field, term)")
        m3 = next_tok()
        if m3 is None or m3.group("punc") is not None:
            raise err(f"{fn}() needs a term argument")
        term = m3.group(0).strip()
        if m3.group("str") is not None:
            term = term[1:-1]
        m4 = next_tok()
        if m4 is None or m4.group("punc") != ")":
            raise err(f"{fn}() takes exactly (field, term)")
        if fn in ("ttf", "tf", "norm"):
            raise err(
                f"{fn}() needs ClassicSimilarity statistics this artifact "
                "does not store (termfreq/docfreq/idf are available)"
            )
        if context is None:
            raise err(
                f"{fn}() needs an index context — call through the "
                "SearchIndex sort/frange/collapse paths, or pass context="
            )
        return context.relevance_col(fn, fld, term)

    def need(fn, args, k):
        if len(args) != k:
            raise err(f"{fn}() takes {k} args, got {len(args)}")

    def apply_fn(fn, args):
        if fn == "sum":
            if not args:
                raise err("sum() needs args")
            out = args[0]
            for a in args[1:]:
                out = out + a
            return out
        if fn in ("product", "mul"):
            if not args:
                raise err("product() needs args")
            out = args[0]
            for a in args[1:]:
                out = out * a
            return out
        if fn == "sub":
            need(fn, args, 2)
            return args[0] - args[1]
        if fn == "div":
            need(fn, args, 2)
            return args[0] / args[1]
        if fn == "min":
            if len(args) < 2:  # F.least would raise an opaque PySpark error
                raise err(f"min() takes >=2 args, got {len(args)}")
            return F.least(*args)
        if fn == "max":
            if len(args) < 2:
                raise err(f"max() takes >=2 args, got {len(args)}")
            return F.greatest(*args)
        if fn == "abs":
            need(fn, args, 1)
            return F.abs(args[0])
        if fn == "sqrt":
            need(fn, args, 1)
            return F.sqrt(args[0])
        if fn == "pow":
            need(fn, args, 2)
            return F.pow(args[0], args[1])
        if fn == "log":  # Lucene: base 10
            need(fn, args, 1)
            return F.log10(args[0])
        if fn == "ln":
            need(fn, args, 1)
            return F.log(args[0])
        if fn == "mod":  # Java % semantics (sign of dividend), Lucene's
            need(fn, args, 2)
            return args[0] % args[1]
        if fn == "if":  # if(test,a,b): test is true when NONZERO (and
            need(fn, args, 3)  # false when missing) — Solr's BoolFunction
            t = args[0]
            return F.when(t.isNotNull() & (t != 0), args[1]).otherwise(args[2])
        if fn == "exists":
            need(fn, args, 1)
            return F.when(args[0].isNotNull(), 1.0).otherwise(0.0)
        if fn == "def":  # def(field, default) = value-or-default
            need(fn, args, 2)
            return F.coalesce(args[0], args[1])
        if fn == "not":  # not(x): 1 when x is 0/missing, else 0
            need(fn, args, 1)
            x = args[0]
            return F.when(x.isNotNull() & (x != 0), 0.0).otherwise(1.0)
        if fn == "map":  # map(x,min,max,target[,def]): remap the range
            if len(args) not in (4, 5):
                raise err(f"map() takes 4 or 5 args, got {len(args)}")
            x, lo, hi, target = args[:4]
            in_range = x.isNotNull() & (x >= lo) & (x <= hi)
            fallback = args[4] if len(args) == 5 else x
            return F.when(in_range, target).otherwise(fallback)
        if fn == "linear":  # linear(x, m, c) = m*x + c
            need(fn, args, 3)
            return args[1] * args[0] + args[2]
        if fn == "recip":  # recip(x, m, a, b) = a / (m*x + b)
            need(fn, args, 4)
            return args[2] / (args[1] * args[0] + args[3])
        raise err(f"unknown function {fn!r}")

    out = parse_expr()
    if s[pos:].strip():
        raise err(f"trailing input {s[pos:].strip()!r}")
    return out


def parse_query(q: str, default_op: str = "OR"):
    """Parse a boolean query string into an AST of tuples:
    ``("term", text)``, ``("phrase", text)``, ``("and", [..])``,
    ``("or", [..])``, ``("not", node)``.  Precedence NOT > AND > OR;
    bare juxtaposition is OR (Solr's default operator) — EXCEPT that a
    juxtaposed negative clause (``table -shuffle`` / ``table NOT
    shuffle``) is a Lucene prohibit: MUST_NOT over the clause list, i.e.
    ``(table) AND NOT (shuffle)``.  An explicitly OR-joined negation
    (``a OR NOT b``) stays a true disjunct.

    ``default_op="AND"`` is Solr's ``q.op=AND``: juxtaposed clauses
    conjoin instead (``a b c`` means ``a AND b AND c``), and explicit
    ``OR`` still separates disjunct groups (``a OR b c`` parses as
    ``a OR (b AND c)``).  The prohibit idiom is unchanged — it is
    already a conjunction.

    Operators are recognized in UPPERCASE only (Lucene/Solr contract):
    ``black and white`` is three terms OR-ed, ``black AND white`` a
    conjunction.  ``"a b"~N`` is a sloppy phrase (``("phrase", text,
    slop)``), ``term~``/``term~N`` a fuzzy term (``("fuzzy", text,
    max_edits)``, N defaulting to Lucene's 2), and a trailing ``^boost``
    is accepted anywhere a term is (boosts never change MATCHING —
    Lucene semantics — so the boolean AST simply drops them; the scored
    path, :meth:`SearchIndex.bm25`, takes boosts explicitly)."""
    toks: list[tuple] = []
    i, n = 0, len(q)
    while i < n:
        c = q[i]
        if c.isspace():
            i += 1
        elif c == "(":
            toks.append(("LP", c)); i += 1
        elif c == ")":
            toks.append(("RP", c)); i += 1
            m = _re.match(r"~\d+(\.\d+)?", q[i:])
            if m:
                # '(a b)~2': Lucene's classic parser has no group
                # proximity — lexing '~2' as a term silently added a
                # match on the literal token '2'
                raise QuerySyntaxError(
                    f"proximity suffix after a group in {q!r} is not "
                    'supported — use a quoted phrase "..."~N'
                )
            m = _re.match(r"\^\d+(\.\d+)?", q[i:])
            if m:  # group boost (a OR b)^2: matching is boost-invariant
                i += m.end()
        elif c == '"':
            # scan to the closing quote, honoring Lucene backslash
            # escapes (\" stays inside the phrase; the old q.find()
            # stopped at the escaped quote and shredded the phrase
            # into unrelated OR clauses)
            j = i + 1
            while j < n and q[j] != '"':
                j += 2 if q[j] == "\\" else 1
            if j >= n:
                raise QuerySyntaxError(f"unterminated phrase in {q!r}")
            text = q[i + 1:j].replace('\\"', '"').replace("\\\\", "\\")
            i = j + 1
            slop = 0
            m = _re.match(r"~(\d+)", q[i:])
            if m:  # Solr phrase slop: "a b"~2
                slop = int(m.group(1))
                i += m.end()
            m = _re.match(r"\^\d+(\.\d+)?", q[i:])
            if m:  # phrase boost: matching is boost-invariant — drop
                i += m.end()
            toks.append(("PHRASE", (text, slop)))
        elif c == "-":
            toks.append(("NOT", c)); i += 1
        elif c == "!":
            # Lucene's unary prohibit operator (same as '-'); absorbing
            # it into the term silently INVERTED the clause (analysis
            # stripped the '!' and the term matched instead of excluding)
            toks.append(("NOT", c)); i += 1
        elif c == "+":
            # Lucene's unary required operator; absorbed-and-stripped it
            # silently degraded '+a b' to a plain disjunction
            toks.append(("PLUS", c)); i += 1
        elif q.startswith("&&", i):
            toks.append(("AND", "&&")); i += 2
        elif q.startswith("||", i):
            toks.append(("OR", "||")); i += 2
        else:
            m = _re.match(r"(?:\\.|[^\s()\"])+", q[i:])
            word = m.group(0)
            i += len(word)
            # operators must be spelled in uppercase (Lucene/Solr):
            # lowercase 'and'/'or'/'not' are ordinary indexed terms
            if word == "AND":
                toks.append(("AND", word))
            elif word == "OR":
                toks.append(("OR", word))
            elif word == "NOT":
                toks.append(("NOT", word))
            else:
                toks.append(("TERM", word))
    pos = 0

    def peek():
        return toks[pos][0] if pos < len(toks) else None

    def take():
        nonlocal pos
        t = toks[pos]
        pos += 1
        return t

    def parse_or():
        # parts: (node, direct_neg, required, explicit_or) — direct_neg
        # marks a clause the user wrote with NOT/-/! AT THIS LEVEL (a
        # parenthesized sub-query that merely EVALUATES to a negation is
        # not direct); required marks Lucene's unary '+'
        parts = [parse_and() + (False,)]
        while True:
            k = peek()
            if k == "OR":
                take()
                parts.append(parse_and() + (True,))
            elif k in ("TERM", "PHRASE", "NOT", "PLUS", "LP"):
                parts.append(parse_and() + (False,))  # juxtaposition
            else:
                break
        if len(parts) == 1:
            node, direct, req, _exp = parts[0]
            return node
        # Lucene prohibit semantics for the standard exclusion idiom:
        # a JUXTAPOSED directly-negative clause ('table -shuffle',
        # 'table NOT shuffle') is a MUST_NOT over the whole clause list —
        # the query means (table) AND NOT (shuffle), not (table OR NOT
        # shuffle).  An EXPLICITLY OR-joined negation ('a OR NOT b') and
        # a parenthesized one ('(NOT a) OR b') stay true disjuncts: there
        # the user spelled out the algebra (Lucene itself is famously
        # surprising here; the spelled-out forms are where users expect
        # plain boolean behavior).
        def _as_prohibited(node):
            # a direct negation is ('not', x) or an AND chain of them
            # ('NOT a AND NOT b' == NOT (a OR b))
            if node[0] == "not":
                return node[1]
            return ("or", [c[1] for c in node[1]])

        prohibit = [
            _as_prohibited(n)
            for (n, direct, req, exp) in parts if direct and not exp
        ]
        required = [
            n for (n, direct, req, exp) in parts
            if req and not (direct and not exp)
        ]
        kept = [(n, exp) for (n, direct, req, exp) in parts
                if not (direct and not exp) and not req]

        def combine(kept_parts):
            nodes = [n for n, _e in kept_parts]
            if len(nodes) == 1:
                return nodes[0]
            if default_op != "AND":
                return ("or", nodes)
            # q.op=AND: juxtaposed runs conjoin; explicit OR separates
            # the runs into disjunct groups
            groups, cur = [], []
            for n, exp in kept_parts:
                if exp and cur:
                    groups.append(cur)
                    cur = [n]
                else:
                    cur.append(n)
            groups.append(cur)
            gnodes = [g[0] if len(g) == 1 else ("and", g) for g in groups]
            return gnodes[0] if len(gnodes) == 1 else ("or", gnodes)

        # Lucene '+' semantics: with any MUST clause present, plain
        # (SHOULD) clauses stop restricting MATCHING — '+a b' matches
        # the a-docs.  Under q.op=AND every clause is a MUST anyway, so
        # required clauses just rejoin the conjunction.
        if required and default_op == "AND":
            kept = [(n, False) for n in required] + kept
            required = []
        conj: list = []
        if required:
            conj.extend(required)
        elif kept:
            conj.append(combine(kept))
        conj.extend(("not", p) for p in prohibit)
        if not conj:  # can't happen (parts is non-empty) — belt
            return ("all",)
        return conj[0] if len(conj) == 1 else ("and", conj)

    def parse_and():
        # returns (node, direct_neg, required)
        first = parse_not()
        parts = [first]
        while peek() == "AND":
            take()
            parts.append(parse_not())
        if len(parts) == 1:
            return first
        # an AND chain of PURE negations is itself a direct negation
        # ('table NOT shuffle AND NOT spill' must prohibit both — the
        # old hardcoded False turned the chain into an OR disjunct
        # matching nearly the whole corpus)
        all_neg = all(d for _n, d, _r in parts)
        return ("and", [n for n, _d, _r in parts]), all_neg, False

    def parse_not():
        # returns (node, direct_neg, required)
        if peek() == "NOT":
            take()
            inner, _d, _r = parse_not()
            return ("not", inner), True, False
        if peek() == "PLUS":
            take()
            inner, direct, _r = parse_not()
            # '+-x' keeps the negation (Lucene: the '-' wins)
            return inner, direct, not direct
        return parse_atom(), False, False

    def _term_node(word: str, fname: str | None = None):
        """A (possibly fuzzy/boosted/wildcard) term atom.  Boost suffixes
        (``^2`` / ``^0.5``) are parsed and DROPPED: boosts affect scoring
        only, never matching (Lucene), and the scored path takes boosts
        explicitly.  ``word~`` / ``word~N`` is a fuzzy term (Lucene
        default max edits 2)."""
        m = _re.match(r"^(.*?)\^\d+(?:\.\d+)?$", word)
        if m and m.group(1):
            word = m.group(1)
        if "\\" in word:
            # Lucene escaping: a backslash makes the next char LITERAL —
            # the whole word is a plain term (no wildcard/fuzzy parsing;
            # leaving the backslashes in would wash out under analysis)
            literal = _re.sub(r"\\(.)", r"\1", word)
            if fname is not None:
                return ("fterm", fname, literal)
            return ("term", literal)
        if _re.match(r"^.+?~\d*\.\d+$", word):
            # Lucene 4+ removed fractional fuzzy distances (the old
            # float similarity); silently splitting 'roam~0.8' into
            # tokens ['roam','0','8'] matched nothing — be loud instead
            raise QuerySyntaxError(
                f"fuzzy term {word!r}: fractional edit distances are "
                "not supported (use ~1 or ~2, Lucene 4+ contract)"
            )
        m = _re.match(r"^(.+?)~(\d*)$", word)
        if m:
            base, n_s = m.group(1), m.group(2)
            max_edits = int(n_s) if n_s else 2
            if max_edits > 2:
                # Lucene caps FuzzyQuery at 2 edits (LevenshteinAutomata
                # limit); beyond that the dictionary expansion degrades
                # to a near-whole-vocabulary token-OR
                raise QuerySyntaxError(
                    f"fuzzy term {word!r}: max edit distance is 2 "
                    "(Lucene FuzzyQuery limit)"
                )
            if fname is not None:
                return ("ffuzzy", fname, base, max_edits)
            return ("fuzzy", base, max_edits)
        if ("*" in word or "?" in word) and word != "*":
            # Lucene WildcardQuery: collapse star runs first ('**tion' ==
            # '*tion'), then pick the cheapest shape — pure trailing /
            # leading / both-ends stars compile to containment forms, and
            # everything else (te?t, a*b, ?*, c?t*) is the general glob
            # matched as an anchored regex over each stored token.  RAW
            # needles in the AST — case folding is an ANALYZER property,
            # applied in _analyze_node only when the clause resolves to
            # analyzer-lowercased tokens; the fsuffix form becomes a
            # reversed-token PREFIX on ReversedWildcardFilter fields.
            w = _re.sub(r"\*{2,}", "*", word)
            if w == "*":
                # '**' collapses to a bare star — not a wildcard term
                return ("fterm", fname, word) if fname is not None else ("term", word)
            inner = w[1:-1]
            if (
                len(w) > 2 and w.startswith("*") and w.endswith("*")
                and "*" not in inner and "?" not in inner
            ):
                if fname is not None:
                    return ("finfix", fname, inner)
                return ("infix", inner)
            if (
                len(w) > 1 and w.endswith("*")
                and "*" not in w[:-1] and "?" not in w[:-1]
            ):
                if fname is not None:
                    return ("fprefix", fname, w[:-1])
                return ("prefix", w[:-1])
            if (
                len(w) > 1 and w.startswith("*")
                and "*" not in w[1:] and "?" not in w[1:]
            ):
                if fname is not None:
                    return ("fsuffix", fname, w[1:])
                return ("suffix", w[1:])
            if fname is not None:
                return ("fwild", fname, w)
            return ("wild", w)
        if fname is not None:
            return ("fterm", fname, word)
        return ("term", word)

    def _scope_to_field(node, fname: str):
        """Solr field scoping ``field:(a OR "b c"~2 OR d*)``: rewrite the
        group's UNFIELDED leaves onto the field; explicitly-fielded inner
        clauses keep their own field."""
        kind = node[0]
        if kind == "term":
            return ("fterm", fname, node[1])
        if kind == "phrase":
            if len(node) > 2:
                return ("fphrase", fname, node[1], node[2])
            return ("fphrase", fname, node[1])
        if kind == "prefix":
            return ("fprefix", fname, node[1])
        if kind == "suffix":
            return ("fsuffix", fname, node[1])
        if kind == "infix":
            return ("finfix", fname, node[1])
        if kind == "wild":
            return ("fwild", fname, node[1])
        if kind == "fuzzy":
            return ("ffuzzy", fname, node[1], node[2])
        if kind == "not":
            return ("not", _scope_to_field(node[1], fname))
        if kind in ("and", "or"):
            return (kind, [_scope_to_field(c, fname) for c in node[1]])
        return node  # already fielded (inner field wins) / match-all

    def parse_atom():
        k = peek()
        if k == "LP":
            take()
            node = parse_or()
            if peek() != "RP":
                raise QuerySyntaxError(f"missing ')' in {q!r}")
            take()
            return node
        if k == "PHRASE":
            text, slop = take()[1]
            return ("phrase", text, slop) if slop else ("phrase", text)
        if k == "TERM":
            word = take()[1]
            if word == "*:*":  # Solr's canonical match-all query
                return ("all",)
            m_colon = _re.search(r"(?<!\\):", word)
            if m_colon:  # Solr fielded clause: field:value / field:"..."
                # (an ESCAPED colon 'foo\:bar' is part of the term)
                fname = word[:m_colon.start()]
                value = word[m_colon.end():]
                if not fname:
                    raise QuerySyntaxError(f"empty field name in {word!r} ({q!r})")
                if value.startswith("[") or value.startswith("{"):
                    # Solr range: field:[lo TO hi] / {lo TO hi} (exclusive)
                    lo_incl = value.startswith("[")
                    lo = value[1:]
                    if peek() != "TERM" or toks[pos][1] != "TO":
                        raise QuerySyntaxError(
                            f"range in {q!r} needs 'TO' (uppercase)"
                        )
                    take()
                    neg = ""
                    if peek() == "NOT":  # '-5]': the lexer split the sign off
                        take()
                        neg = "-"
                    if peek() != "TERM":
                        raise QuerySyntaxError(f"range in {q!r} missing upper bound")
                    hi_tok = neg + take()[1]
                    if hi_tok.endswith("]"):
                        hi_incl, hi = True, hi_tok[:-1]
                    elif hi_tok.endswith("}"):
                        hi_incl, hi = False, hi_tok[:-1]
                    else:
                        raise QuerySyntaxError(
                            f"range in {q!r} must close with ] or }}"
                        )
                    for b in (lo, hi):
                        if any(ch in b for ch in "[]{}"):
                            raise QuerySyntaxError(
                                f"malformed range bound {b!r} in {q!r}"
                            )
                    return ("frange", fname, lo, hi, lo_incl, hi_incl)
                if value == "*":
                    # Solr's field-exists idiom (field:*) — a literal
                    # '*' term would silently drop the clause on
                    # analyzed fields or match the literal string '*'
                    return ("fexists", fname)
                if value:
                    return _term_node(value, fname=fname)
                if peek() == "PHRASE":  # field:"quoted phrase"[~N]
                    text, slop = take()[1]
                    if slop:
                        return ("fphrase", fname, text, slop)
                    return ("fphrase", fname, text)
                if peek() == "LP":  # field:(grouped clauses) — Solr scoping
                    take()
                    group = parse_or()
                    if peek() != "RP":
                        raise QuerySyntaxError(f"missing ')' in {q!r}")
                    take()
                    return _scope_to_field(group, fname)
                raise QuerySyntaxError(f"field {fname!r} has no value in {q!r}")
            return _term_node(word)
        raise QuerySyntaxError(f"unexpected token at clause position in {q!r}")

    if not toks:
        raise QuerySyntaxError("empty query")
    node = parse_or()
    if pos != len(toks):
        raise QuerySyntaxError(f"trailing tokens in {q!r}")
    return node


def _expand_synonyms(node, synonyms, make_member):
    """Query-time synonym expansion (Solr SynonymFilterFactory in the
    QUERY analyzer chain, expand=true): a term whose surface form is in
    the map becomes an OR over its group — every member (original
    included) is ANALYZED like any query term, so multi-word synonyms
    match as PHRASES (SynonymGraphFilter's positional-run contract) and
    stemming applies after expansion, exactly the filter-chain order.
    Returns None when no member survives analysis."""
    members = [node] + [str(s) for s in synonyms[node.lower()]]
    children = [c for c in (make_member(m) for m in members) if c is not None]
    if not children:
        return None
    # dedupe identical analyzed forms (e.g. two surface variants stemming
    # to the same tokens)
    uniq, seen = [], set()
    for c in children:
        key = repr(c)
        if key not in seen:
            seen.add(key)
            uniq.append(c)
    return uniq[0] if len(uniq) == 1 else ("or", uniq)


def _analyze_node(node, analyze, resolver=None, fuzzy_expand=None,
                  default_field=None, synonyms=None):
    """Replace term/phrase text with ANALYZED token lists (the field's own
    analyzer applied to query text, Solr's query-side analysis contract).
    A clause whose analysis drops every token (pure stopwords) is removed,
    Solr-style; returns None for a fully-dropped node.

    Fielded clauses (``field:value``) resolve through ``resolver(field)``:
    ``("analyzed", analyze_fn, toks_col)`` applies that field's analyzer
    (→ ``("ftokens", toks, toks_col)``), ``("column", col)`` becomes a
    plain equality (→ ``("feq", value, col)``).

    ``fuzzy_expand(field_or_None, needle, max_edits) -> list[str] | None``
    rewrites fuzzy terms against a stored term DICTIONARY (the Lucene
    FuzzyQuery term-automaton cost model): the needle expands to its
    concrete in-vocabulary matches, and the clause becomes a plain
    token-OR — exact same result set as the per-token Levenshtein scan,
    but the expensive edit-distance work runs over |vocab| terms instead
    of every token of every document, and the expanded terms are
    Bloom-prunable.  Returning None falls back to the corpus scan."""
    kind = node[0]
    if kind in ("term", "phrase"):
        if (
            kind == "term"
            and synonyms
            and node[1].lower() in synonyms
        ):
            def _member(m):
                mt = [t for t in (analyze(m) or []) if t]
                return ("tokens", mt) if mt else None

            return _expand_synonyms(node[1], synonyms, _member)
        toks = [t for t in (analyze(node[1]) or []) if t]
        if not toks:
            return None
        if kind == "phrase" and len(node) > 2 and len(toks) > 1:
            return ("tokens_slop", toks, node[2])
        return ("tokens", toks)
    if kind == "all":
        return node  # *:* — matches every document
    if kind == "prefix":
        # wildcard terms skip analysis (Solr behavior); the default
        # field's stored tokens are analyzer-lowercased, so fold here
        return ("prefix", node[1].lower())
    if kind in ("suffix", "infix"):
        # route through the fielded path when the default field is known
        # (it carries the analyzer TYPE, enabling the reversed-token
        # rewrite for text_general_rev); else an honest token scan
        if default_field is not None and resolver is not None:
            return _analyze_node(
                ("fsuffix" if kind == "suffix" else "finfix",
                 default_field, node[1]),
                analyze, resolver, fuzzy_expand, default_field, synonyms,
            )
        return (
            "suffixtoks" if kind == "suffix" else "infixtoks",
            node[1].lower(),
        )
    if kind == "wild":
        # general wildcard skips analysis (Solr); analyzer-lowercased
        # stored tokens -> fold the pattern
        return ("wildtoks", node[1].lower())
    if kind == "fuzzy":
        # fuzzy terms skip analysis like wildcards; the default field's
        # stored tokens are lowercased, so fold the needle
        needle = node[1].lower()
        if fuzzy_expand is not None:
            exp = fuzzy_expand(None, needle, node[2])
            if exp is not None:
                return ("tokens_any", sorted(exp)) if exp else ("none",)
        return ("fuzzytoks", needle, node[2], None)
    if kind in ("fterm", "fphrase", "frange", "fprefix", "ffuzzy",
                "fsuffix", "finfix", "fwild", "fexists"):
        if resolver is None:
            raise QuerySyntaxError(
                f"fielded clause on {node[1]!r} needs a field resolver "
                "(query through SearchIndex.query/search)"
            )
        mode, *rest = resolver(node[1])
        if kind == "fexists":
            # Solr's field:* — the field has a value.  The stored raw
            # column's null-ness is the engine's presence signal for
            # analyzed and plain fields alike.
            col = F.col(node[1]) if mode == "analyzed" else rest[0]
            return ("fexists_c", col)
        if kind == "frange":
            if mode == "analyzed":
                raise QuerySyntaxError(
                    f"range clause on analyzed field {node[1]!r} is not "
                    "supported (range over stemmed tokens is rarely what "
                    "anyone means); use a stored copy column"
                )
            col = rest[0]
            dtype = rest[1] if len(rest) > 1 else None
            return ("fcmp", col, node[2], node[3], node[4], node[5], dtype,
                    node[1])
        if kind == "fprefix":
            if mode == "analyzed":
                # wildcard terms skip analysis (Solr) — prefix over the
                # field's STORED tokens, which that analyzer lowercased:
                # fold the needle to match.  A plain COLUMN field keeps
                # the raw case (no analyzer => no case folding, same as
                # the fielded equality form)
                return ("fptoks", node[2].lower(), rest[1])
            return ("fpcol", node[2], rest[0])
        if kind == "fsuffix":
            if mode == "analyzed":
                needle = node[2].lower()
                atype = rest[2] if len(rest) > 2 else None
                if atype == "text_general_rev":
                    # ReversedWildcardFilter contract: the leading
                    # wildcard becomes a PREFIX over the stored
                    # \x01-marked reversed tokens — an indexable seek,
                    # not an endswith scan of every token
                    return ("fptoks", "\x01" + needle[::-1], rest[1])
                return ("fsuftoks", needle, rest[1])
            return ("fsufcol", node[2], rest[0])
        if kind == "finfix":
            if mode == "analyzed":
                return ("finftoks", node[2].lower(), rest[1])
            return ("finfcol", node[2], rest[0])
        if kind == "fwild":
            if mode == "analyzed":
                return ("fwildtoks", node[2].lower(), rest[1])
            return ("fwildcol", node[2], rest[0])
        if kind == "ffuzzy":
            if mode == "analyzed":
                needle = node[2].lower()
                if fuzzy_expand is not None:
                    exp = fuzzy_expand(node[1], needle, node[3])
                    if exp is not None:
                        if not exp:
                            return ("none",)
                        return ("ftokens_any", sorted(exp), rest[1])
                return ("fuzzytoks", needle, node[3], rest[1])
            return ("fuzzycol", node[2], node[3], rest[0])
        if mode == "analyzed":
            fn, toks_col = rest[0], rest[1]
            if (
                kind == "fterm"
                and synonyms
                and node[2].lower() in synonyms
            ):
                def _member(m):
                    mt = [t for t in (fn(m) or []) if t]
                    return ("ftokens", mt, toks_col) if mt else None

                return _expand_synonyms(node[2], synonyms, _member)
            toks = [t for t in (fn(node[2]) or []) if t]
            if not toks:
                return None
            if kind == "fphrase" and len(node) > 3 and len(toks) > 1:
                return ("ftokens_slop", toks, toks_col, node[3])
            return ("ftokens", toks, toks_col)
        if kind == "fphrase" and len(node) > 3:
            raise QuerySyntaxError(
                f"phrase slop on non-analyzed field {node[1]!r} is not "
                "supported (a plain column has no token positions)"
            )
        return ("feq", node[2], rest[0])
    if kind == "not":
        child = _analyze_node(node[1], analyze, resolver, fuzzy_expand,
                              default_field, synonyms)
        return None if child is None else ("not", child)
    children = [
        _analyze_node(c, analyze, resolver, fuzzy_expand, default_field,
                      synonyms)
        for c in node[1]
    ]
    children = [c for c in children if c is not None]
    if not children:
        return None
    return children[0] if len(children) == 1 else (kind, children)


REV_MARK = "\x01"  # ReversedWildcardFilter's reversed-copy marker


def _visible_toks(toks_col: F.Column) -> F.Column:
    """The REAL tokens of a stored array: ``text_general_rev`` interleaves
    U+0001-marked reversed copies for the leading-wildcard seek, and every
    positional / scan operation except that seek must ignore them —
    otherwise phrases lose adjacency (false negatives) and substring /
    edit-distance scans match reversed garbage (false positives).  A
    no-op single array pass for ordinary fields (no analyzer emits the
    marker)."""
    return F.filter(toks_col, lambda t: ~t.startswith(REV_MARK))


def _token_match(toks_col: F.Column, toks: list) -> F.Column:
    if len(toks) == 1:
        pred = F.array_contains(toks_col, toks[0])
    else:
        # analyzed multi-token clause = adjacency (phrase, slop 0):
        # tokens contain no spaces, so padded space-join turns
        # adjacency into substring containment (codegen-friendly);
        # reversed-copy markers would break adjacency — drop them
        hay = F.concat(
            F.lit(" "), F.array_join(_visible_toks(toks_col), " "), F.lit(" ")
        )
        pred = hay.contains(" " + " ".join(toks) + " ")
    # null token column (doc without the field) must read as no-match,
    # so NOT over it correctly matches the doc
    return F.coalesce(pred, F.lit(False))


def _positions_of(toks_col: F.Column, term: str) -> F.Column:
    """0-based positions of ``term`` in the token array — a transform +
    filter over the stored tokens, fully JVM-side."""
    tagged = F.transform(toks_col, lambda x, i: F.when(x == F.lit(term), i))
    return F.filter(tagged, lambda p: p.isNotNull())


def _slop_match(toks_col: F.Column, toks: list, slop: int) -> F.Column:
    """Sloppy phrase predicate (Solr ``"a b"~N``): the phrase's analyzed
    tokens appear IN ORDER at positions ``i1 < … < im`` with total slack
    ``im - i1 - (m-1) <= slop`` (slop 0 == exact adjacency).  Positions
    are over the STORED token array (no position gaps for removed
    stopwords — documented divergence from Lucene's position-increment
    gaps; reordered matches, which Lucene admits at slop >= 2, are NOT
    matched — this is the ordered-window contract).

    Implementation: for each candidate start position of the first token,
    greedily chase the earliest following occurrence of each next token —
    greedy minimizes the end position for a given start, so an ordered
    witness within the slack exists iff the greedy chain finds one.  All
    higher-order array functions: stays in the JVM, no Python."""
    vis = _visible_toks(toks_col)
    pos = [_positions_of(vis, t) for t in toks]
    m = len(toks)

    def _earliest_after(arr: F.Column, prev: F.Column) -> F.Column:
        # closure over a function ARGUMENT, not a lambda default: PySpark
        # inspects the lambda's signature, and a defaulted second param
        # would be bound to the element INDEX (see bm25_search's _tf note)
        return F.array_min(F.filter(arr, lambda p: p > prev))

    def last_pos(i1):
        cur = i1
        for k in range(1, m):
            cur = _earliest_after(pos[k], cur)
        return cur

    pred = F.exists(
        pos[0],
        lambda i1: F.coalesce(
            last_pos(i1) - i1 - F.lit(m - 1) <= F.lit(slop), F.lit(False)
        ),
    )
    return F.coalesce(pred, F.lit(False))


def _positions_matching(toks_col: F.Column, rx: str) -> F.Column:
    """0-based positions of tokens matching an anchored regex — the
    wildcard-term analog of :func:`_positions_of`, same transform +
    filter shape, fully JVM-side."""
    tagged = F.transform(
        toks_col, lambda x, i: F.when(x.rlike(rx), i)
    )
    return F.filter(tagged, lambda p: p.isNotNull())


def complex_phrase_match(
    toks_col: F.Column, patterns: "list[tuple[str, str]]", slop: int = 0
) -> F.Column:
    """Lucene ComplexPhraseQueryParser's ordered window ({!complexphrase}
    ``"jo* smyth*"~N``): the phrase positions match per-term PATTERNS —
    ``("term", tok)`` exact analyzed tokens, ``("glob", pattern)``
    Lucene wildcards — in order with total slack ``<= slop`` (the same
    greedy earliest-witness argument as :func:`_slop_match`: greedy
    minimizes the end position for a given start, over ARBITRARY
    per-term position sets, so a witness exists iff greedy finds one).
    All higher-order array functions over the stored tokens — JVM-side,
    no dictionary expansion of the wildcards."""
    vis = _visible_toks(toks_col)
    pos = []
    for kind, val in patterns:
        if kind == "term":
            pos.append(_positions_of(vis, val))
        else:
            pos.append(_positions_matching(vis, _glob_to_regex(val)))
    m = len(patterns)
    if m == 1:
        return F.coalesce(F.size(pos[0]) > 0, F.lit(False))

    def _earliest_after(arr: F.Column, prev: F.Column) -> F.Column:
        return F.array_min(F.filter(arr, lambda p: p > prev))

    def last_pos(i1):
        cur = i1
        for k in range(1, m):
            cur = _earliest_after(pos[k], cur)
        return cur

    pred = F.exists(
        pos[0],
        lambda i1: F.coalesce(
            last_pos(i1) - i1 - F.lit(m - 1) <= F.lit(slop), F.lit(False)
        ),
    )
    return F.coalesce(pred, F.lit(False))


def unordered_near_match(
    toks_col: F.Column, patterns: "list[tuple[str, str]]", slop: int = 0
) -> F.Column:
    """Lucene unordered proximity (SpanNearQuery ``inOrder=false`` /
    surround's ``N`` operator): a witness assigns each pattern a DISTINCT
    position (modern Lucene forbids overlapping sub-spans in unordered
    near) with window width ``(max - min) - (m-1) <= slop``.

    Completeness by reduction to the ordered matcher: a distinct-position
    witness sorted ascending IS an ordered witness (strictly increasing,
    same width bound) for the term permutation it induces, and
    :func:`complex_phrase_match`'s greedy earliest-witness chase is
    complete for each fixed order — so the unordered predicate is the OR
    over the (deduplicated) m! orderings.  m stays tiny in real proximity
    queries (2-3); capped at 5 (120 JVM-side branches over position
    arrays Catalyst computes once via subexpression elimination) with a
    loud error beyond."""
    import itertools

    m = len(patterns)
    if m == 1:
        return complex_phrase_match(toks_col, patterns, slop)
    if m > 5:
        raise QuerySyntaxError(
            "unordered proximity supports at most 5 terms "
            f"(got {m}); use the ordered W / inOrder=true form"
        )
    orders = sorted(set(itertools.permutations(patterns)))
    pred = complex_phrase_match(toks_col, list(orders[0]), slop)
    for order in orders[1:]:
        pred = pred | complex_phrase_match(toks_col, list(order), slop)
    return pred


def _fuzzy_match(toks_col: F.Column, needle: str, max_edits: int) -> F.Column:
    """Fuzzy term predicate (Lucene ``term~N``): any stored token within
    Levenshtein distance ``max_edits`` of the needle.  ``F.levenshtein``
    inside an ``exists`` — JVM-side, no dictionary expansion needed.
    Documented divergence: CLASSIC Levenshtein (Spark's built-in), so a
    transposition counts as 2 edits where Lucene's default
    Damerau-Levenshtein counts 1."""
    pred = F.exists(
        _visible_toks(toks_col),
        lambda t: F.levenshtein(t, F.lit(needle)) <= F.lit(max_edits),
    )
    return F.coalesce(pred, F.lit(False))


def _glob_to_regex(pattern: str) -> str:
    """Lucene wildcard glob → anchored regex: ``*`` any run, ``?`` one
    char, everything else literal."""
    import re as _re2

    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(_re2.escape(ch))
    return "^" + "".join(out) + "$"


def _parse_solr_date(raw: str, where: str):
    """A Solr date bound — ISO-8601 (optional trailing ``Z``; Solr dates
    are always UTC) or Solr DATE MATH (``NOW-7DAYS``, ``NOW/DAY``,
    ``2024-01-01T00:00:00Z+6MONTHS/DAY``) — as a naive ``datetime`` (the
    engine pins the session timezone to UTC, so a naive literal IS the
    UTC instant).  ``NOW`` resolves through ``datemath.resolve_now`` —
    pin it with ``datemath.fixed_now(...)`` (Solr's ``NOW=`` request
    param) for deterministic queries.  Refuses anything non-ISO loudly:
    silently string-comparing a date bound against a timestamp column is
    the bug this branch exists to kill."""
    from solr_map_reduce_spark.functions.datemath import (
        DateMathError,
        parse_datemath,
    )

    try:
        return parse_datemath(raw, where=where)
    except DateMathError:
        raise QuerySyntaxError(
            f"range bound {raw!r} on {where} targets a date/timestamp "
            "field and must be ISO-8601 (e.g. 2024-01-01T00:00:00Z or "
            "2024-01-01), Solr date math (NOW-7DAYS, NOW/DAY), or * "
            "for an open bound"
        ) from None


def _compile_node(node, toks_col: F.Column) -> F.Column:
    kind = node[0]
    unfielded = kind in ("tokens", "tokens_slop", "tokens_any", "prefix") or (
        kind == "fuzzytoks" and node[3] is None
    )
    if unfielded and toks_col is None:
        raise QuerySyntaxError(
            "unfielded clause needs a default analyzed field; pass "
            "field=... or write fielded clauses (field:value)"
        )
    if kind == "all":
        return F.lit(True)  # *:* match-all
    if kind == "none":
        return F.lit(False)  # e.g. a fuzzy term with zero vocab matches
    if kind == "tokens_any":
        return F.coalesce(
            F.arrays_overlap(toks_col, F.array(*[F.lit(t) for t in node[1]])),
            F.lit(False),
        )
    if kind == "ftokens_any":
        return F.coalesce(
            F.arrays_overlap(node[2], F.array(*[F.lit(t) for t in node[1]])),
            F.lit(False),
        )
    if kind == "tokens":
        return _token_match(toks_col, node[1])
    if kind == "ftokens":
        return _token_match(node[2], node[1])
    if kind == "tokens_slop":
        return _slop_match(toks_col, node[1], node[2])
    if kind == "ftokens_slop":
        return _slop_match(node[2], node[1], node[3])
    if kind == "fuzzytoks":
        tc = node[3] if node[3] is not None else toks_col
        return _fuzzy_match(tc, node[1], node[2])
    if kind == "fuzzycol":
        return F.coalesce(
            F.levenshtein(node[3], F.lit(node[1])) <= F.lit(node[2]),
            F.lit(False),
        )
    if kind == "prefix":
        hay = F.concat(F.lit(" "), F.array_join(toks_col, " "), F.lit(" "))
        return F.coalesce(hay.contains(" " + node[1]), F.lit(False))
    if kind == "fptoks":
        hay = F.concat(F.lit(" "), F.array_join(node[2], " "), F.lit(" "))
        return F.coalesce(hay.contains(" " + node[1]), F.lit(False))
    if kind in ("suffixtoks", "fsuftoks"):
        toks = toks_col if kind == "suffixtoks" else node[2]
        pred = F.exists(_visible_toks(toks), lambda t: t.endswith(node[1]))
        return F.coalesce(pred, F.lit(False))
    if kind in ("infixtoks", "finftoks"):
        toks = toks_col if kind == "infixtoks" else node[2]
        pred = F.exists(_visible_toks(toks), lambda t: t.contains(node[1]))
        return F.coalesce(pred, F.lit(False))
    if kind == "fsufcol":
        return node[2].isNotNull() & node[2].endswith(node[1])
    if kind == "finfcol":
        return node[2].isNotNull() & node[2].contains(node[1])
    if kind in ("wildtoks", "fwildtoks"):
        toks = toks_col if kind == "wildtoks" else node[2]
        rx = _glob_to_regex(node[1])
        pred = F.exists(_visible_toks(toks), lambda t: t.rlike(rx))
        return F.coalesce(pred, F.lit(False))
    if kind == "fwildcol":
        return node[2].isNotNull() & node[2].rlike(_glob_to_regex(node[1]))
    # plain-column predicates guard NULL with isNotNull() AND, never
    # coalesce(): Kleene logic makes the conjunction non-null (FALSE AND
    # NULL = FALSE) with the same never-match-NULL semantics, while
    # staying a pushable parquet filter — a coalesce() wrapper would
    # block predicate pushdown, turning a ts range over a 100 TB
    # artifact into a full scan (plan-tested in test_plan_shapes.py)
    if kind == "fpcol":
        return node[2].isNotNull() & node[2].startswith(node[1])
    if kind == "feq":
        return node[2].isNotNull() & (node[2] == F.lit(node[1]))
    if kind == "fexists_c":
        return node[1].isNotNull()
    if kind == "fcmp":
        _, col, lo, hi, lo_incl, hi_incl, *rest = node
        dtype = rest[0] if rest else None
        fname = rest[1] if len(rest) > 1 else "?"

        def bound(raw):
            # '*' is the Solr open bound.  A date/timestamp-typed column
            # (Solr tdate — dates are first-class, SURVEY §1.3) parses
            # its bounds as ISO-8601 instants EXPLICITLY instead of
            # leaning on string-to-timestamp cast coincidences; numeric-
            # looking bounds compare numerically (Spark would otherwise
            # cast a numeric COLUMN to string and compare
            # lexicographically)
            if raw == "*":
                return None
            if dtype is not None and dtype.startswith(("timestamp", "date")):
                v = _parse_solr_date(raw, f"field {fname!r}")
                return v.date() if dtype == "date" else v
            if dtype == "string":
                # Solr string ranges are LEXICOGRAPHIC: a numeric-looking
                # bound coerced to int would make Spark cast the string
                # COLUMN instead ('1.5.0' casts to NULL and silently
                # drops out; '10' fails 10 > 2 where the string range
                # matches) — keep the bound raw
                return raw
            try:
                return int(raw)
            except ValueError:
                try:
                    return float(raw)
                except ValueError:
                    return raw

        lo_v, hi_v = bound(lo), bound(hi)
        # isNotNull base: field:[* TO *] is Solr's FIELD-EXISTS idiom, and
        # NULL values must never satisfy any range.  The isNotNull-led
        # conjunction is never NULL (FALSE AND NULL = FALSE), so no
        # coalesce — the whole range reaches the parquet scan as pushed
        # filters (GreaterThanOrEqual/LessThan + IsNotNull)
        pred = col.isNotNull()
        if lo_v is not None:
            pred = pred & (col >= F.lit(lo_v) if lo_incl else col > F.lit(lo_v))
        if hi_v is not None:
            pred = pred & (col <= F.lit(hi_v) if hi_incl else col < F.lit(hi_v))
        return pred
    if kind == "not":
        return ~_compile_node(node[1], toks_col)
    preds = [_compile_node(c, toks_col) for c in node[1]]
    out = preds[0]
    for p in preds[1:]:
        out = (out & p) if kind == "and" else (out | p)
    return out


def _required_tokens(node) -> set:
    """DEFAULT-FIELD tokens that EVERY matching document must contain —
    the safe 'all'-mode Bloom pruning set (conjunctive spine; for OR, a
    token required by every disjunct is required overall).  Fielded
    clauses contribute nothing: the per-shard Bloom bitmaps are keyed by
    the default field's tokens."""
    kind = node[0]
    if kind == "tokens":
        return set(node[1])
    if kind == "tokens_slop":
        return set(node[1])  # every phrase token is necessary, slop or not
    if kind == "tokens_any":
        # a single-expansion fuzzy IS a required term; wider sets are not
        return set(node[1]) if len(node[1]) == 1 else set()
    if kind in (
        "not", "ftokens", "ftokens_slop", "feq", "fcmp", "prefix",
        "fptoks", "fpcol", "fuzzytoks", "fuzzycol", "all", "none",
        "ftokens_any", "suffixtoks", "fsuftoks", "infixtoks", "finftoks",
        "fsufcol", "finfcol", "fexists_c",
        "wildtoks", "fwildtoks", "fwildcol",
    ):
        return set()
    if kind == "and":
        out: set = set()
        for c in node[1]:
            out |= _required_tokens(c)
        return out
    sets = [_required_tokens(c) for c in node[1]]
    out = sets[0]
    for s in sets[1:]:
        out &= s
    return out


def _positive_tokens(node) -> set:
    kind = node[0]
    if kind in ("tokens", "tokens_slop", "tokens_any"):
        return set(node[1])
    if kind in (
        "not", "ftokens", "ftokens_slop", "feq", "fcmp", "prefix",
        "fptoks", "fpcol", "fuzzytoks", "fuzzycol", "all", "none",
        "ftokens_any", "suffixtoks", "fsuftoks", "infixtoks", "finftoks",
        "fsufcol", "finfcol", "fexists_c",
        "wildtoks", "fwildtoks", "fwildcol",
    ):
        return set()
    out: set = set()
    for c in node[1]:
        out |= _positive_tokens(c)
    return out


def _can_match_term_free(node) -> bool:
    """True when a document containing NONE of the query's DEFAULT-FIELD
    tokens can still satisfy the query (pure-negative or fielded clauses)
    — in that case 'any'-mode Bloom pruning would hide matches and must
    be skipped."""
    kind = node[0]
    if kind in ("tokens", "tokens_slop", "tokens_any", "none"):
        return False  # ("none" matches nothing, so pruning cannot hide it)
    if kind in (
        "ftokens", "ftokens_slop", "feq", "fcmp", "prefix", "fptoks",
        "fpcol", "fuzzytoks", "fuzzycol", "all", "ftokens_any",
        "suffixtoks", "fsuftoks", "infixtoks", "finftoks", "fsufcol",
        "finfcol", "fexists_c",
        "wildtoks", "fwildtoks", "fwildcol",
    ):
        return True  # satisfiable regardless of default-field tokens
    if kind == "not":
        return True  # its child is False on a term-free doc -> NOT is True
    if kind == "and":
        return all(_can_match_term_free(c) for c in node[1])
    return any(_can_match_term_free(c) for c in node[1])


def boolean_predicate(
    q: str, analyze, toks_col: F.Column, resolver=None, fuzzy_expand=None,
    default_field=None, synonyms=None, default_op: str = "OR",
) -> tuple[F.Column, dict]:
    """Compile a boolean query string to ONE Column predicate over the
    given token-array column, plus the pruning info dict (``required`` /
    ``positive`` / ``prunable``).  The building block behind both
    :func:`boolean_query` (q) and BM25's ``fq`` filter queries.
    ``resolver(field_name)`` enables Solr fielded clauses
    (``lang:en``, ``title:"exact phrase"``); ``default_field`` names the
    field ``toks_col`` belongs to, letting UNFIELDED leading-wildcard
    clauses use its analyzer metadata (the reversed-token rewrite) — see
    :func:`_analyze_node`."""
    ast = _analyze_node(parse_query(q, default_op), analyze, resolver,
                        fuzzy_expand, default_field, synonyms)
    if ast is None:
        raise QuerySyntaxError(
            f"query {q!r} has no effective clauses after analysis "
            "(all tokens were stopwords)"
        )
    pred = _compile_node(ast, toks_col)
    info = {
        "required": sorted(_required_tokens(ast)),
        "positive": sorted(_positive_tokens(ast)),
        "prunable": not _can_match_term_free(ast),
    }
    return pred, info


def boolean_query(
    df: DataFrame,
    q: str,
    analyze,
    id_col: str = "doc_id",
    tokens_col: str | None = None,
    text_col: str = "text",
) -> tuple[DataFrame, dict]:
    """Compile and run a boolean query over the token array.  Returns
    ``(matches, plan_info)`` where plan_info carries the pruning sets
    (``required`` / ``positive`` / ``prunable``) for callers that can
    shard-prune (SearchIndex.query does).  ``analyze`` is the query-side
    analyzer (``str -> list[str]``)."""
    pred, info = boolean_predicate(q, analyze, _toks(text_col, tokens_col))
    return df.filter(pred).select(id_col), info
