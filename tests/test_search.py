"""Full-text search extension (SURVEY §2 C9 + BM25): boolean term queries
and BM25 ranking golden tests on a tiny hand-checkable corpus."""

import math

import pytest

from solr_map_reduce_spark.extensions import search

CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick blue hare sleeps"),
    (3, "brown bears eat quick fish; brown brown brown"),
    (4, "nothing relevant here at all"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string")


def test_contains_all(docs):
    got = sorted(r["doc_id"] for r in search.contains_all(docs, ["quick", "brown"]).collect())
    assert got == [1, 3]


def test_contains_any(docs):
    got = sorted(r["doc_id"] for r in search.contains_any(docs, ["hare", "dog"]).collect())
    assert got == [1, 2]


def test_contains_is_token_not_substring(docs):
    # "rele" is a substring of "relevant" but not a token
    assert search.contains_any(docs, ["rele"]).count() == 0


def _bm25_ref(corpus, terms, k1=1.2, b=0.75):
    """Independent plain-Python BM25 over the tiny corpus."""
    # same tokenizer as the engine: split on non-alnum runs
    import re

    toks = {
        i: [t for t in re.split(r"[^0-9a-z]+", txt.lower()) if t]
        for i, txt in corpus
    }
    n = float(len(toks))
    avgdl = sum(len(v) for v in toks.values()) / n
    df = {t: sum(1 for v in toks.values() if t in v) for t in terms}
    scores = {}
    for i, v in toks.items():
        s = 0.0
        for t in terms:
            tf = float(v.count(t))
            if tf == 0:
                continue
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * len(v) / avgdl))
        if s > 0:
            scores[i] = s
    return scores


def test_bm25_matches_reference_impl(docs):
    terms = ["quick", "brown"]
    want = _bm25_ref(CORPUS, terms)
    got = {r["doc_id"]: r["score"] for r in search.bm25_search(docs, terms, k=10).collect()}
    assert set(got) == set(want)
    for i in want:
        assert got[i] == pytest.approx(want[i], rel=1e-12)
    # doc 3 has tf(brown)=4 and is shortest-normalized → ranks first
    ranked = [r["doc_id"] for r in search.bm25_search(docs, terms, k=2).collect()]
    assert ranked[0] == 3


def test_bm25_topk_limit_and_order(docs):
    out = search.bm25_search(docs, ["quick"], k=1).collect()
    assert len(out) == 1


def test_bm25_exact_sum_stable(docs):
    a = search.bm25_search(docs, ["quick", "brown"], k=10, exact_sum=True).collect()
    b = search.bm25_search(docs, ["quick", "brown"], k=10, exact_sum=True).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [(r["doc_id"], r["score"]) for r in b]


def test_match_phrase_token_adjacency(spark):
    from solr_map_reduce_spark.extensions.search import match_phrase

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "quick... BROWN! dog"),        # punctuation-analyzed: adjacent
            (3, "quick stealthy brown fox"),   # not adjacent
            (4, "brown quick"),                # wrong order
        ],
        "doc_id long, text string",
    )
    got = sorted(r["doc_id"] for r in match_phrase(df, "Quick Brown").collect())
    assert got == [1, 2]


def test_match_phrase_rejects_empty(spark):
    import pytest

    from solr_map_reduce_spark.extensions.search import match_phrase

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        match_phrase(df, "!!!")


def test_prefix_and_none_queries(spark):
    from solr_map_reduce_spark.extensions.search import contains_none, prefix_match

    df = spark.createDataFrame(
        [(1, "shuffle the deck"), (2, "shuffling cards"), (3, "no match here"),
         (4, "spark plans")],
        "doc_id long, text string",
    )
    assert sorted(r["doc_id"] for r in prefix_match(df, "shuf").collect()) == [1, 2]
    assert sorted(
        r["doc_id"] for r in contains_none(df, ["shuffle", "spark"]).collect()
    ) == [2, 3]
    import pytest

    with pytest.raises(ValueError):
        prefix_match(df, "two words")


# -- stored-token artifact surface (analyze-once, query the artifact) -------

@pytest.fixture(scope="module")
def artifact_index(spark, tmp_path_factory, docs):
    from solr_map_reduce_spark.index_reader import SearchIndex
    from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
    from solr_map_reduce_spark.schema import Field, IndexSchema

    schema = IndexSchema(
        fields=(Field("doc_id", "long", required=True), Field("text", "text_general")),
        unique_key="doc_id",
    )
    path = str(tmp_path_factory.mktemp("search_idx") / "index")
    IndexJob(
        IndexJobConfig(schema=schema, shards=2, dedup="none", routing="native")
    ).build(docs, path)
    return SearchIndex.open(spark, path)


def test_artifact_stores_token_arrays(artifact_index):
    df = artifact_index.df()
    assert "text__tokens" in df.columns
    row = df.filter(df.doc_id == 2).select("text__tokens").first()
    assert row[0] == ["the", "quick", "blue", "hare", "sleeps"]
    assert artifact_index.manifest["analyzed"] == {
        "text": {"type": "text_general", "tokens_col": "text__tokens"}
    }


def test_stored_token_queries_match_reanalysis(docs, artifact_index):
    """Every term-query shape gives identical answers whether it re-analyzes
    raw text or reads the artifact's stored token column."""
    idx = artifact_index
    cases = [
        (search.contains_all(docs, ["quick", "brown"]), idx.contains_all(["quick", "brown"])),
        (search.contains_any(docs, ["hare", "dog"]), idx.contains_any(["hare", "dog"])),
        (search.contains_none(docs, ["quick"]), idx.contains_none(["quick"])),
        (search.prefix_match(docs, "bro"), idx.prefix("bro")),
        (search.match_phrase(docs, "quick brown fox"), idx.phrase("quick brown fox")),
    ]
    for raw, stored in cases:
        assert sorted(r[0] for r in raw.collect()) == sorted(r[0] for r in stored.collect())


def test_stored_bm25_matches_reanalysis(docs, artifact_index):
    raw = search.bm25_search(docs, ["quick", "brown"], k=3).collect()
    stored = artifact_index.bm25(["quick", "brown"], k=3).collect()
    assert [r["doc_id"] for r in raw] == [r["doc_id"] for r in stored]
    for a, b in zip(raw, stored):
        assert abs(a["score"] - b["score"]) < 1e-12


def test_stored_token_query_prunes_raw_text(artifact_index):
    """The stored-token plan must read ONLY the token column — the raw text
    column never leaves the parquet scan (column pruning is the point of
    analyzing at index time)."""
    plan = (
        artifact_index.contains_all(["quick"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "text__tokens" in plan
    assert "regexp_replace" not in plan, "stored path must not re-analyze"
    import re

    read_schema = re.search(r"ReadSchema: struct<([^>]*)", plan)
    assert read_schema and "text__tokens" in read_schema.group(1)
    assert "text:" not in read_schema.group(1).replace("text__tokens", "")


def test_unanalyzed_artifact_raises(spark, tmp_path, docs):
    from solr_map_reduce_spark.index_reader import SearchIndex
    from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
    from solr_map_reduce_spark.schema import Field, IndexSchema

    schema = IndexSchema(
        fields=(Field("doc_id", "long", required=True), Field("text", "string")),
        unique_key="doc_id",
    )
    path = str(tmp_path / "plain_idx")
    IndexJob(
        IndexJobConfig(schema=schema, shards=1, dedup="none", routing="native")
    ).build(docs, path)
    idx = SearchIndex.open(spark, path)
    with pytest.raises(ValueError, match="no analyzed token columns"):
        idx.contains_all(["quick"])


class TestBooleanQuery:
    """Round-6: the Solr/Lucene boolean syntax subset — parse driver-side,
    compile to one scan predicate, Bloom-prune when safe.  DuckDB-oracled
    end to end as c9_boolean_query."""

    def test_parser_precedence_and_default_or(self):
        from solr_map_reduce_spark.extensions.search import parse_query

        # NOT > AND > OR; bare juxtaposition is OR (Solr default q.op)
        assert parse_query("a AND b OR c") == (
            "or", [("and", [("term", "a"), ("term", "b")]), ("term", "c")]
        )
        assert parse_query("a b") == ("or", [("term", "a"), ("term", "b")])
        assert parse_query("NOT a AND b") == (
            "and", [("not", ("term", "a")), ("term", "b")]
        )
        assert parse_query('a && -"x y"') == (
            "and", [("term", "a"), ("not", ("phrase", "x y"))]
        )
        assert parse_query("(a OR b) AND c") == (
            "and", [("or", [("term", "a"), ("term", "b")]), ("term", "c")]
        )

    def test_parser_errors(self):
        import pytest as _pytest

        from solr_map_reduce_spark.extensions.search import (
            QuerySyntaxError,
            parse_query,
        )

        for bad in ("", "(a", 'a AND "unterminated', "AND", "a )"):
            with _pytest.raises(QuerySyntaxError):
                parse_query(bad)

    def test_semantics_vs_manual_predicates(self, spark):
        from solr_map_reduce_spark.extensions.search import boolean_query

        rows = [
            (1, ["spark", "vector", "join"]),
            (2, ["table", "hash", "shuffle"]),
            (3, ["table", "hash", "scan"]),
            (4, ["spark", "shuffle"]),
            (5, []),
            (6, None),
        ]
        df = spark.createDataFrame(rows, "doc_id long, toks array<string>")
        ana = lambda s: s.lower().split()  # noqa: E731

        def run(q):
            out, info = boolean_query(df, q, ana, tokens_col="toks")
            return sorted(r["doc_id"] for r in out.collect()), info

        got, info = run("(spark AND vector) OR (\"table hash\" AND NOT shuffle)")
        assert got == [1, 3]
        assert info["required"] == [] and info["prunable"] is True
        got, _ = run("spark OR table")
        assert got == [1, 2, 3, 4]
        got, info = run("spark AND NOT shuffle")
        assert got == [1]
        assert info["required"] == ["spark"]
        # pure-negative query matches token-free AND null-token docs
        got, info = run("NOT spark")
        assert got == [2, 3, 5, 6]
        assert info["prunable"] is False  # 'any' pruning would hide 5/6
        # phrase adjacency: "hash table" (reversed) matches nothing
        got, _ = run('"hash table"')
        assert got == []

    def test_stopword_clauses_drop(self, spark):
        from solr_map_reduce_spark.extensions.search import (
            QuerySyntaxError,
            boolean_query,
        )

        df = spark.createDataFrame(
            [(1, ["tabl"]), (2, ["chair"])], "doc_id long, toks array<string>"
        )
        from solr_map_reduce_spark.functions.analyzers import PY_ANALYZERS

        ana = PY_ANALYZERS["text_en"]
        out, _ = boolean_query(df, "the AND tables", ana, tokens_col="toks")
        assert sorted(r["doc_id"] for r in out.collect()) == [1]
        import pytest as _pytest

        with _pytest.raises(QuerySyntaxError, match="stopwords"):
            boolean_query(df, "the of that", ana, tokens_col="toks")

    def test_index_query_end_to_end_with_pruning(self, spark, tmp_path):
        from solr_map_reduce_spark.index_reader import SearchIndex
        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
        from solr_map_reduce_spark.schema import Field, IndexSchema

        schema = IndexSchema(
            fields=(Field("id", "string", required=True), Field("text", "text_en")),
            unique_key="id",
        )
        df = spark.createDataFrame(
            [
                ("a", "the spark vector joins"),
                ("b", "a table hash scan"),
                ("c", "table hash with shuffle"),
                ("d", "nothing relevant"),
            ],
            "id string, text string",
        )
        out = str(tmp_path / "bq_idx")
        IndexJob(
            IndexJobConfig(
                schema=schema, shards=2, dedup="none", routing="native",
                term_blooms=True, search_stats=True,
            )
        ).build(df, out)
        idx = SearchIndex.open(spark, out)
        got = sorted(
            r["id"] for r in idx.query(
                '(spark AND vector) OR ("table hash" AND NOT shuffle)'
            ).collect()
        )
        assert got == ["a", "b"]
        # conjunctive query agrees with contains_all
        q = sorted(r["id"] for r in idx.query("table AND hash").collect())
        ca = sorted(
            r["id"] for r in idx.contains_all(idx.analyze_terms(["table", "hash"])).collect()
        )
        assert q == ca == ["b", "c"]


class TestBm25FilterQuery:
    """Round-6: Solr q+fq semantics — the filter query restricts
    candidates but never statistics, so a doc's score is identical with
    or without the filter (both stored-stats and computed paths)."""

    def _index(self, spark, tmp_path, with_stats):
        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
        from solr_map_reduce_spark.schema import Field, IndexSchema

        schema = IndexSchema(
            fields=(Field("id", "string", required=True), Field("text", "text_general")),
            unique_key="id",
        )
        rows = [
            ("a", "spark vector merge table"),
            ("b", "spark vector merge shuffle"),
            ("c", "spark table scan"),
            ("d", "vector table index"),
            ("e", "unrelated words entirely"),
        ]
        df = spark.createDataFrame(rows, "id string, text string")
        out = str(tmp_path / ("idx_s" if with_stats else "idx_ns"))
        IndexJob(
            IndexJobConfig(
                schema=schema, shards=2, dedup="none", routing="native",
                term_blooms=with_stats, search_stats=with_stats,
            )
        ).build(df, out)
        from solr_map_reduce_spark.index_reader import SearchIndex

        return SearchIndex.open(spark, out)

    @pytest.mark.parametrize("with_stats", [True, False])
    def test_fq_restricts_candidates_but_not_scores(self, spark, tmp_path, with_stats):
        idx = self._index(spark, tmp_path, with_stats)
        unfiltered = {
            r["id"]: r["score"]
            for r in idx.bm25(["spark", "vector", "merge"], k=10, exact_sum=True).collect()
        }
        filtered = {
            r["id"]: r["score"]
            for r in idx.bm25(
                ["spark", "vector", "merge"], k=10, exact_sum=True,
                fq="table AND NOT shuffle",
            ).collect()
        }
        # candidates: scored docs must satisfy the fq (have 'table', no
        # 'shuffle') AND contain a query term
        assert set(filtered) == {"a", "c", "d"}
        # scores are fq-invariant: every surviving doc keeps its exact score
        for doc, score in filtered.items():
            assert score == unfiltered[doc], doc

    def test_fq_parse_error_surfaces(self, spark, tmp_path):
        from solr_map_reduce_spark.extensions.search import QuerySyntaxError

        idx = self._index(spark, tmp_path, True)
        with pytest.raises(QuerySyntaxError):
            idx.bm25(["spark"], fq="(table").collect()


class TestProhibitClauseSemantics:
    """Self-review r6: the standard Solr exclusion idiom 'table -shuffle' /
    'table NOT shuffle' is a Lucene PROHIBIT (MUST_NOT over the clause
    list) — (table) AND NOT (shuffle) — not a disjunct.  Explicit
    'a OR NOT b' stays a true disjunct (documented deviation where the
    user spelled out OR)."""

    def test_parse_prohibit_forms(self):
        from solr_map_reduce_spark.extensions.search import parse_query

        want = ("and", [("term", "table"), ("not", ("term", "shuffle"))])
        assert parse_query("table -shuffle") == want
        assert parse_query("table NOT shuffle") == want
        # multiple prohibits + multiple shoulds: (a|b) & !c & !d
        got = parse_query("a b -c -d")
        assert got == ("and", [
            ("or", [("term", "a"), ("term", "b")]),
            ("not", ("term", "c")), ("not", ("term", "d")),
        ])
        # explicit OR keeps the true disjunction
        assert parse_query("a OR NOT b") == (
            "or", [("term", "a"), ("not", ("term", "b"))]
        )
        # pure-negative juxtaposed list: !a & !b (Solr-style top level)
        assert parse_query("-a -b") == (
            "and", [("not", ("term", "a")), ("not", ("term", "b"))]
        )
        assert parse_query("-a") == ("not", ("term", "a"))

    def test_prohibit_evaluation(self, spark):
        from solr_map_reduce_spark.extensions.search import boolean_query

        rows = [(1, ["table"]), (2, ["table", "shuffle"]), (3, ["cat"])]
        df = spark.createDataFrame(rows, "doc_id long, toks array<string>")
        ana = lambda s: s.lower().split()  # noqa: E731
        out, _ = boolean_query(df, "table -shuffle", ana, tokens_col="toks")
        # the review's exact failure case: old parse returned {1, 3}
        assert sorted(r["doc_id"] for r in out.collect()) == [1]
        out, _ = boolean_query(df, "table NOT shuffle", ana, tokens_col="toks")
        assert sorted(r["doc_id"] for r in out.collect()) == [1]


class TestFieldedQueries:
    """Round-6: Solr fielded clauses — field:value routes to that field's
    analyzer + stored tokens (analyzed) or a plain equality (column),
    composable with the whole boolean grammar in one scan."""

    def _index(self, spark, tmp_path):
        from solr_map_reduce_spark.index_reader import SearchIndex
        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
        from solr_map_reduce_spark.schema import Field, IndexSchema

        schema = IndexSchema(
            fields=(
                Field("id", "string", required=True),
                Field("text", "text_en"),
                Field("lang", "string"),
            ),
            unique_key="id",
        )
        df = spark.createDataFrame(
            [
                ("a", "running tables", "en"),
                ("b", "der tisch", "de"),
                ("c", "tables and shuffles", "de"),
                ("d", "nothing here", "en"),
            ],
            "id string, text string, lang string",
        )
        out = str(tmp_path / "fielded_idx")
        IndexJob(
            IndexJobConfig(
                schema=schema, shards=2, dedup="none", routing="native",
                term_blooms=True, search_stats=True,
            )
        ).build(df, out)
        return SearchIndex.open(spark, out)

    def test_column_equality_and_analyzed_field(self, spark, tmp_path):
        idx = self._index(spark, tmp_path)
        # column clause composes with a default-field term
        got = sorted(r["id"] for r in idx.query("tables AND lang:en").collect())
        assert got == ["a"]
        # explicit text: clause goes through the text_en analyzer —
        # 'text:Tables' stems to 'tabl' and meets the stored tokens
        got = sorted(r["id"] for r in idx.query("text:Tables").collect())
        assert got == ["a", "c"]
        # fielded prohibit
        got = sorted(r["id"] for r in idx.query("tables -lang:de").collect())
        assert got == ["a"]
        # pure column query (no default-field term at all)
        got = sorted(r["id"] for r in idx.query("lang:de").collect())
        assert got == ["b", "c"]

    def test_unknown_field_raises(self, spark, tmp_path):
        from solr_map_reduce_spark.extensions.search import QuerySyntaxError

        idx = self._index(spark, tmp_path)
        with pytest.raises(QuerySyntaxError, match="unknown field"):
            idx.query("bogusfield:x").collect()

    def test_fielded_clause_blocks_unsafe_pruning(self, spark, tmp_path):
        """A disjunct satisfiable without any default-field token (a pure
        column clause) must disable any-mode Bloom pruning — docs whose
        shard lacks every default-field query token still match."""
        idx = self._index(spark, tmp_path)
        got = sorted(r["id"] for r in idx.query("running OR lang:de").collect())
        assert got == ["a", "b", "c"]

    def test_fq_accepts_fielded_clauses(self, spark, tmp_path):
        idx = self._index(spark, tmp_path)
        hits = {r["id"] for r in idx.bm25(idx.analyze_terms(["tables"]), k=10, fq="lang:de").collect()}
        assert hits == {"c"}


class TestRangeClauses:
    """Round-6: Solr range syntax — field:[lo TO hi] inclusive,
    {lo TO hi} exclusive, * open-ended; numeric bounds compare
    numerically."""

    def test_parse_and_evaluate_ranges(self, spark, tmp_path):
        from solr_map_reduce_spark.index_reader import SearchIndex
        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
        from solr_map_reduce_spark.schema import Field, IndexSchema

        schema = IndexSchema(
            fields=(
                Field("id", "string", required=True),
                Field("text", "text_general"),
                Field("n", "long"),
            ),
            unique_key="id",
        )
        df = spark.createDataFrame(
            [("a", "alpha words", 50), ("b", "alpha stuff", 150),
             ("c", "alpha more", 250), ("d", "other", None)],
            "id string, text string, n long",
        )
        out = str(tmp_path / "range_idx")
        IndexJob(
            IndexJobConfig(schema=schema, shards=2, dedup="none", routing="native")
        ).build(df, out)
        idx = SearchIndex.open(spark, out)

        def q(s_):
            return sorted(r["id"] for r in idx.query(s_).collect())

        assert q("n:[100 TO 200]") == ["b"]
        assert q("n:[50 TO 250]") == ["a", "b", "c"]
        assert q("n:{50 TO 250}") == ["b"]  # exclusive bounds
        assert q("n:[* TO 100]") == ["a"]
        assert q("n:[200 TO *]") == ["c"]
        assert q("alpha AND n:[100 TO *]") == ["b", "c"]
        assert q("alpha -n:[100 TO *]") == ["a"]  # prohibit range
        # NULL n never matches the range, and NOT over it matches ('d'
        # has no alpha so excluded; 'a' has n=50 excluded from range)
        assert q("n:[0 TO *]") == ["a", "b", "c"]  # null row absent

    def test_range_parse_errors(self):
        from solr_map_reduce_spark.extensions.search import (
            QuerySyntaxError,
            parse_query,
        )

        for bad in ("n:[1 200]", "n:[1 TO", "n:[1 TO 2", "n:[1 TO 2)"):
            with pytest.raises(QuerySyntaxError):
                parse_query(bad)

    def test_range_on_analyzed_field_rejected(self, spark, tmp_path):
        from solr_map_reduce_spark.extensions.search import QuerySyntaxError
        from solr_map_reduce_spark.index_reader import SearchIndex
        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
        from solr_map_reduce_spark.schema import Field, IndexSchema

        schema = IndexSchema(
            fields=(Field("id", "string", required=True), Field("text", "text_en")),
            unique_key="id",
        )
        df = spark.createDataFrame([("a", "words")], "id string, text string")
        out = str(tmp_path / "rng_bad")
        IndexJob(
            IndexJobConfig(schema=schema, shards=1, dedup="none", routing="native")
        ).build(df, out)
        idx = SearchIndex.open(spark, out)
        with pytest.raises(QuerySyntaxError, match="analyzed"):
            idx.query("text:[a TO b]").collect()


class TestWildcardPrefixClauses:
    """Round-6: Solr wildcard prefix terms (run*) in the boolean grammar —
    like Solr, wildcard terms skip analysis (lowercase only)."""

    def test_prefix_in_grammar(self, spark, tmp_path):
        from solr_map_reduce_spark.index_reader import SearchIndex
        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
        from solr_map_reduce_spark.schema import Field, IndexSchema

        schema = IndexSchema(
            fields=(Field("id", "string", required=True), Field("text", "text_general")),
            unique_key="id",
        )
        df = spark.createDataFrame(
            [("a", "running fast"), ("b", "runner up"), ("c", "walking slow")],
            "id string, text string",
        )
        out = str(tmp_path / "wc_idx")
        IndexJob(
            IndexJobConfig(schema=schema, shards=2, dedup="none", routing="native")
        ).build(df, out)
        idx = SearchIndex.open(spark, out)
        assert sorted(r["id"] for r in idx.query("Run*").collect()) == ["a", "b"]
        assert sorted(r["id"] for r in idx.query("run* -fast").collect()) == ["b"]
        assert sorted(r["id"] for r in idx.query("walk* OR runner").collect()) == ["b", "c"]
        # a lone '*' is not a clause (Solr's match-all is *:* which we
        # don't claim) — it analyzes to nothing and fails loudly
        from solr_map_reduce_spark.extensions.search import QuerySyntaxError

        with pytest.raises(QuerySyntaxError):
            idx.query("*").count()


class TestSecondReviewRegressions:
    """Round-6 second self-review: fielded wildcards, field-exists ranges,
    negative/garbage bounds, default-field-free fielded queries."""

    def _index(self, spark, tmp_path, name="srr_idx"):
        from solr_map_reduce_spark.index_reader import SearchIndex
        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
        from solr_map_reduce_spark.schema import Field, IndexSchema

        schema = IndexSchema(
            fields=(
                Field("id", "string", required=True),
                Field("text", "text_en"),
                Field("lang", "string"),
                Field("n", "long"),
            ),
            unique_key="id",
        )
        df = spark.createDataFrame(
            [
                ("a", "running fast", "en", -10),
                ("b", "runner up", "english", -5),
                ("c", "walking slow", "de", 7),
                ("d", "nothing", None, None),
            ],
            "id string, text string, lang string, n long",
        )
        out = str(tmp_path / name)
        IndexJob(
            IndexJobConfig(schema=schema, shards=2, dedup="none", routing="native")
        ).build(df, out)
        return SearchIndex.open(spark, out)

    def test_fielded_wildcard(self, spark, tmp_path):
        idx = self._index(spark, tmp_path, "fw")
        # analyzed field: skip-analysis prefix over STORED tokens — 'run*'
        # matches the stemmed tokens 'run'/'runner' docs
        got = sorted(r["id"] for r in idx.query("text:run*").collect())
        assert got == ["a", "b"]
        # column field: startswith
        got = sorted(r["id"] for r in idx.query("lang:en*").collect())
        assert got == ["a", "b"]

    def test_field_exists_range_idiom(self, spark, tmp_path):
        idx = self._index(spark, tmp_path, "fe")
        # [* TO *] = field exists (Solr idiom); NULL excluded
        got = sorted(r["id"] for r in idx.query("n:[* TO *]").collect())
        assert got == ["a", "b", "c"]
        # -field:[* TO *] = field missing
        got = sorted(r["id"] for r in idx.query("lang:[* TO *] -n:[* TO *]").collect())
        assert got == []
        got = sorted(r["id"] for r in idx.query("running -n:[* TO *]").collect())
        assert got == []

    def test_negative_bounds(self, spark, tmp_path):
        idx = self._index(spark, tmp_path, "nb")
        got = sorted(r["id"] for r in idx.query("n:[-10 TO -5]").collect())
        assert got == ["a", "b"]
        got = sorted(r["id"] for r in idx.query("n:[-8 TO *]").collect())
        assert got == ["b", "c"]

    def test_garbage_bounds_rejected(self):
        from solr_map_reduce_spark.extensions.search import (
            QuerySyntaxError,
            parse_query,
        )

        for bad in ("n:[1 TO 2]]", "n:[1 TO 2x]]", "n:[[1 TO 2]"):
            with pytest.raises(QuerySyntaxError, match="range|malformed"):
                parse_query(bad)

    def test_pure_fielded_query_without_default_field(self, spark, tmp_path):
        from solr_map_reduce_spark.index_reader import SearchIndex
        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
        from solr_map_reduce_spark.schema import Field, IndexSchema

        # artifact with NO analyzed field at all
        schema = IndexSchema(
            fields=(Field("id", "string", required=True), Field("lang", "string")),
            unique_key="id",
        )
        df = spark.createDataFrame(
            [("a", "en"), ("b", "de")], "id string, lang string"
        )
        out = str(tmp_path / "nodefault")
        IndexJob(
            IndexJobConfig(schema=schema, shards=1, dedup="none", routing="native")
        ).build(df, out)
        idx = SearchIndex.open(spark, out)
        assert sorted(r["id"] for r in idx.query("lang:de").collect()) == ["b"]
        # an unfielded clause still fails loudly with guidance
        from solr_map_reduce_spark.extensions.search import QuerySyntaxError

        with pytest.raises(QuerySyntaxError, match="unfielded"):
            idx.query("de").collect()


class TestRound7QueryLanguage:
    """Round-7 surface: uppercase-only operators, raw-case fielded
    wildcards (ADVICE r6), phrase slop, fuzzy terms, boosts, and
    date-typed range bounds."""

    def test_lowercase_operators_are_terms(self):
        from solr_map_reduce_spark.extensions.search import parse_query

        # Lucene/Solr recognize only uppercase operators: 'black and
        # white' is three OR-ed terms, not a conjunction
        assert parse_query("black and white") == (
            "or", [("term", "black"), ("term", "and"), ("term", "white")]
        )
        assert parse_query("to not or") == (
            "or", [("term", "to"), ("term", "not"), ("term", "or")]
        )
        assert parse_query("black AND white") == (
            "and", [("term", "black"), ("term", "white")]
        )

    def test_lowercase_to_in_range_rejected(self):
        from solr_map_reduce_spark.extensions.search import (
            QuerySyntaxError,
            parse_query,
        )

        with pytest.raises(QuerySyntaxError, match="TO"):
            parse_query("n:[1 to 5]")

    def test_slop_and_fuzzy_and_boost_parse(self):
        from solr_map_reduce_spark.extensions.search import parse_query

        assert parse_query('"a b"~2') == ("phrase", "a b", 2)
        assert parse_query('"a b"~0') == ("phrase", "a b")
        assert parse_query('f:"a b"~3') == ("fphrase", "f", "a b", 3)
        assert parse_query("run~1") == ("fuzzy", "run", 1)
        assert parse_query("run~") == ("fuzzy", "run", 2)
        assert parse_query("f:run~1") == ("ffuzzy", "f", "run", 1)
        # boosts never change matching: parsed and dropped
        assert parse_query("spark^2") == ("term", "spark")
        assert parse_query("spark^2.5 OR vector") == (
            "or", [("term", "spark"), ("term", "vector")]
        )
        assert parse_query('"a b"^2') == ("phrase", "a b")
        assert parse_query("run~1^2") == ("fuzzy", "run", 1)
        # group boost (Lucene (a OR b)^2) is dropped too, not a term
        assert parse_query("(a OR b)^2") == (
            "or", [("term", "a"), ("term", "b")]
        )
        assert parse_query("(a OR b)^2 AND c") == (
            "and",
            [("or", [("term", "a"), ("term", "b")]), ("term", "c")],
        )

    def test_leading_and_infix_wildcards_parse(self):
        from solr_map_reduce_spark.extensions.search import parse_query

        assert parse_query("*world") == ("suffix", "world")
        assert parse_query("*orld*") == ("infix", "orld")
        assert parse_query("f:*world") == ("fsuffix", "f", "world")
        assert parse_query("f:*orld*") == ("finfix", "f", "orld")
        assert parse_query("f:(*world OR x)") == (
            "or", [("fsuffix", "f", "world"), ("fterm", "f", "x")]
        )
        # a bare * is not a wildcard term; *:* stays match-all
        assert parse_query("*:*") == ("all",)

    def test_general_wildcards_parse(self):
        from solr_map_reduce_spark.extensions.search import parse_query

        assert parse_query("te?t") == ("wild", "te?t")
        assert parse_query("a*b") == ("wild", "a*b")
        assert parse_query("c?t*") == ("wild", "c?t*")
        assert parse_query("f:te?t") == ("fwild", "f", "te?t")
        # the simpler shapes keep their faster containment forms
        assert parse_query("run*") == ("prefix", "run")
        assert parse_query("*run") == ("suffix", "run")
        assert parse_query("*u*") == ("infix", "u")

    def test_fuzzy_max_edits_capped_at_two(self):
        """Lucene caps FuzzyQuery at 2 edits (LevenshteinAutomata limit);
        term~3+ must be rejected at parse time, not expanded against the
        whole vocabulary."""
        import pytest as _pytest

        from solr_map_reduce_spark.extensions.search import (
            QuerySyntaxError,
            parse_query,
        )

        assert parse_query("run~2") == ("fuzzy", "run", 2)
        for bad in ("run~3", "run~9", "f:run~3"):
            with _pytest.raises(QuerySyntaxError, match="edit distance"):
                parse_query(bad)

    def _index(self, spark, tmp_path, name):
        from solr_map_reduce_spark.index_reader import SearchIndex
        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
        from solr_map_reduce_spark.schema import Field, IndexSchema

        schema = IndexSchema(
            fields=(
                Field("id", "string", required=True),
                Field("text", "text_general"),
                Field("source", "string"),
                Field("ts", "tdate"),
            ),
            unique_key="id",
        )
        from datetime import datetime

        df = spark.createDataFrame(
            [
                ("a", "table hash join", "WebCrawl", datetime(2024, 1, 1)),
                ("b", "table scan then a hash", "WebCrawl", datetime(2024, 1, 2)),
                ("c", "table a b c d e hash", "books", datetime(2024, 1, 3)),
                ("d", "hash before table", "Books", datetime(2024, 1, 4)),
                ("e", "spark sql", None, None),
            ],
            "id string, text string, source string, ts timestamp",
        )
        out = str(tmp_path / name)
        IndexJob(
            IndexJobConfig(schema=schema, shards=2, dedup="none", routing="native")
        ).build(df, out)
        return SearchIndex.open(spark, out)

    def test_fielded_wildcard_keeps_column_case(self, spark, tmp_path):
        # ADVICE r6 (medium): source:Web* must match 'WebCrawl' on a raw
        # stored column — the prefix keeps its case, same as the equality
        # form; case folding applies only to analyzer-lowercased tokens
        idx = self._index(spark, tmp_path, "wc_case")
        got = sorted(r["id"] for r in idx.query("source:Web*").collect())
        assert got == ["a", "b"]
        got = sorted(r["id"] for r in idx.query("source:web*").collect())
        assert got == []
        got = sorted(r["id"] for r in idx.query("source:Books").collect())
        assert got == ["d"]
        # analyzed-field wildcard still folds (stored tokens are lowercase)
        got = sorted(r["id"] for r in idx.query("text:TABL*").collect())
        assert got == ["a", "b", "c", "d"]

    def test_phrase_slop_semantics(self, spark, tmp_path):
        idx = self._index(spark, tmp_path, "slop")
        # slop 0 = adjacency
        assert sorted(r["id"] for r in idx.query('"table hash"').collect()) == ["a"]
        # in order within N interveners — 'b' has 3 (scan then a), 'c'
        # has 5, 'd' is reversed (never matches: ordered contract)
        assert sorted(r["id"] for r in idx.query('"table hash"~2').collect()) == ["a"]
        assert sorted(r["id"] for r in idx.query('"table hash"~3').collect()) == ["a", "b"]
        assert sorted(r["id"] for r in idx.query('"table hash"~5').collect()) == ["a", "b", "c"]
        # method form
        assert sorted(r["id"] for r in idx.phrase("table hash", slop=3).collect()) == ["a", "b"]

    def test_slop_greedy_multi_position_regression(self, spark):
        # the round-7 bug the oracle caught: multiple occurrences of both
        # tokens, none within the window — a lambda-default capture made
        # the inner filter compare against the element INDEX and match
        import pyspark.sql.functions as F

        from solr_map_reduce_spark.extensions.search import _slop_match

        toks = ["t"] * 60
        for i in (20, 49):
            toks[i] = "table"
        for i in (46, 57):
            toks[i] = "hash"
        df = spark.createDataFrame([(toks,)], "t array<string>")
        got = df.select(_slop_match(F.col("t"), ["table", "hash"], 2).alias("m")).collect()
        assert got[0]["m"] is False
        got = df.select(_slop_match(F.col("t"), ["table", "hash"], 25).alias("m")).collect()
        assert got[0]["m"] is True

    def test_three_token_slop(self, spark):
        import pyspark.sql.functions as F

        from solr_map_reduce_spark.extensions.search import _slop_match

        rows = [
            (1, ["a", "b", "c"]),          # exact: slack 0
            (2, ["a", "x", "b", "c"]),     # slack 1
            (3, ["a", "b", "x", "x", "c"]),  # slack 2
            (4, ["c", "b", "a"]),          # reversed: never (ordered contract)
            (5, ["a", "c", "b"]),          # b after c only: no ordered chain
        ]
        df = spark.createDataFrame(rows, "id int, t array<string>")
        m = _slop_match(F.col("t"), ["a", "b", "c"], 1)
        got = sorted(r["id"] for r in df.filter(m).collect())
        assert got == [1, 2]
        m = _slop_match(F.col("t"), ["a", "b", "c"], 2)
        got = sorted(r["id"] for r in df.filter(m).collect())
        assert got == [1, 2, 3]

    def test_fuzzy_query(self, spark, tmp_path):
        idx = self._index(spark, tmp_path, "fuzzy")
        # 'tabl~1' edit-distance-1 (one deletion) of stored 'table'.
        # NOTE: classic Levenshtein (Spark's F.levenshtein): a
        # transposition ('tabel') counts as TWO edits, unlike Lucene's
        # Damerau default — documented divergence
        got = sorted(r["id"] for r in idx.query("tabl~1").collect())
        assert got == ["a", "b", "c", "d"]
        got = sorted(r["id"] for r in idx.query("tabel~1").collect())
        assert got == []
        got = sorted(r["id"] for r in idx.query("tabel~2").collect())
        assert got == ["a", "b", "c", "d"]
        # distance 2 catches 'spark' from 'spork~2'? spork->spark is 1 edit
        got = sorted(r["id"] for r in idx.query("spork~1").collect())
        assert got == ["e"]
        # fielded fuzzy on a plain column: raw-case levenshtein —
        # 'Wobcrawl' is 2 edits from 'WebCrawl' (e→o, C→c), 'wobcrawl' 3
        got = sorted(r["id"] for r in idx.query("source:Wobcrawl~2").collect())
        assert got == ["a", "b"]
        got = sorted(r["id"] for r in idx.query("source:wobcrawl~2").collect())
        assert got == []
        got = sorted(r["id"] for r in idx.query("source:WobCrawl~1").collect())
        assert got == ["a", "b"]
        # negation composes
        got = sorted(r["id"] for r in idx.query("tabl~1 -scan").collect())
        assert got == ["a", "c", "d"]

    def test_date_range_clause(self, spark, tmp_path):
        idx = self._index(spark, tmp_path, "dates")
        got = sorted(
            r["id"]
            for r in idx.query("ts:[2024-01-02T00:00:00Z TO 2024-01-03T00:00:00Z]").collect()
        )
        assert got == ["b", "c"]
        # exclusive upper
        got = sorted(
            r["id"]
            for r in idx.query("ts:[2024-01-02T00:00:00Z TO 2024-01-03T00:00:00Z}").collect()
        )
        assert got == ["b"]
        # date-only form, open upper; NULL ts never matches
        got = sorted(r["id"] for r in idx.query("ts:[2024-01-03 TO *]").collect())
        assert got == ["c", "d"]
        # non-ISO bound on a timestamp column refuses loudly
        from solr_map_reduce_spark.extensions.search import QuerySyntaxError

        with pytest.raises(QuerySyntaxError, match="ISO-8601"):
            idx.query("ts:[yesterday TO *]").collect()

    def test_slop_on_plain_column_rejected(self, spark, tmp_path):
        from solr_map_reduce_spark.extensions.search import QuerySyntaxError

        idx = self._index(spark, tmp_path, "slopcol")
        with pytest.raises(QuerySyntaxError, match="slop"):
            idx.query('source:"Web Crawl"~2').collect()

    def test_bm25_boosts_change_ranking_not_matching(self, spark, tmp_path):
        idx = self._index(spark, tmp_path, "boost")
        plain = idx.bm25(["table", "spark"], k=5).collect()
        boosted = idx.bm25(["table", "spark"], k=5, boosts={"spark": 50.0}).collect()
        assert {r["id"] for r in plain} == {r["id"] for r in boosted}
        assert boosted[0]["id"] == "e"  # the spark doc outranks under boost


class TestFieldScopingAndMatchAll:
    """Round-7 second batch: Solr field scoping field:(...) and the
    canonical *:* match-all."""

    def test_parse_shapes(self):
        from solr_map_reduce_spark.extensions.search import parse_query

        assert parse_query("*:*") == ("all",)
        assert parse_query("lang:(en OR de)") == (
            "or", [("fterm", "lang", "en"), ("fterm", "lang", "de")]
        )
        # default operator inside a group is still OR
        assert parse_query("lang:(en de)") == (
            "or", [("fterm", "lang", "en"), ("fterm", "lang", "de")]
        )
        assert parse_query('text:(run* OR "a b"~2)') == (
            "or", [("fprefix", "text", "run"), ("fphrase", "text", "a b", 2)]
        )
        assert parse_query("f:(a AND b~1)") == (
            "and", [("fterm", "f", "a"), ("ffuzzy", "f", "b", 1)]
        )
        # a juxtaposed prohibit inside a group keeps Lucene semantics
        assert parse_query("f:(a -b)") == (
            "and", [("fterm", "f", "a"), ("not", ("fterm", "f", "b"))]
        )
        # an explicitly-fielded inner clause keeps its own field
        assert parse_query("f:(a OR g:b)") == (
            "or", [("fterm", "f", "a"), ("fterm", "g", "b")]
        )

    def _index(self, spark, tmp_path, name):
        from solr_map_reduce_spark.index_reader import SearchIndex
        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
        from solr_map_reduce_spark.schema import Field, IndexSchema

        schema = IndexSchema(
            fields=(
                Field("id", "string", required=True),
                Field("text", "text_general"),
                Field("lang", "string"),
            ),
            unique_key="id",
        )
        df = spark.createDataFrame(
            [
                ("a", "spark vector merge", "en"),
                ("b", "table hash shuffle", "de"),
                ("c", "spark shuffle", "fr"),
                ("d", "nothing here", None),
            ],
            "id string, text string, lang string",
        )
        out = str(tmp_path / name)
        IndexJob(
            IndexJobConfig(schema=schema, shards=2, dedup="none", routing="native",
                           term_blooms=True)
        ).build(df, out)
        return SearchIndex.open(spark, out)

    def test_match_all_and_scoped_groups(self, spark, tmp_path):
        idx = self._index(spark, tmp_path, "fg")
        assert idx.query("*:*").count() == 4
        # match-all composes with prohibits and filters
        got = sorted(r["id"] for r in idx.query("*:* -shuffle").collect())
        assert got == ["a", "d"]
        got = sorted(r["id"] for r in idx.query("lang:(en OR de)").collect())
        assert got == ["a", "b"]
        got = sorted(r["id"] for r in idx.query("lang:(en de)").collect())
        assert got == ["a", "b"]
        got = sorted(
            r["id"] for r in idx.query("lang:(en OR fr) AND text:(vector OR hash)").collect()
        )
        assert got == ["a"]
        # scoped wildcard keeps analyzer case folding on analyzed fields
        got = sorted(r["id"] for r in idx.query("text:(SPAR* OR hash)").collect())
        assert got == ["a", "b", "c"]

    def test_match_all_search_request(self, spark, tmp_path):
        idx = self._index(spark, tmp_path, "fg2")
        # the filters-only request shape: q=*:* + fq + sort + rows
        got = [
            r["id"]
            for r in idx.search(q="*:*", filters={"lang": "en"},
                                sort=[("id", "asc")], limit=5,
                                select=["id"]).collect()
        ]
        assert got == ["a"]


class TestFuzzyVocabExpansion:
    """Round-7: with a term-dictionary sidecar, fuzzy terms expand against
    the |vocab|-row dictionary (Lucene FuzzyQuery cost model) instead of
    per-token Levenshtein over the corpus — same result set, and the
    expansion compiles to a Bloom-prunable token-OR."""

    def _build(self, spark, tmp_path, stats):
        from solr_map_reduce_spark.index_reader import SearchIndex
        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
        from solr_map_reduce_spark.schema import Field, IndexSchema

        schema = IndexSchema(
            fields=(Field("id", "string", required=True), Field("text", "text_general")),
            unique_key="id",
        )
        df = spark.createDataFrame(
            [("a", "table scan"), ("b", "tablet stylus"), ("c", "cable tv"),
             ("d", "fable book"), ("e", "nothing")],
            "id string, text string",
        )
        out = str(tmp_path / f"fz_{stats}")
        IndexJob(
            IndexJobConfig(schema=schema, shards=2, dedup="none",
                           routing="native", search_stats=stats)
        ).build(df, out)
        return SearchIndex.open(spark, out)

    def test_expansion_equals_scan_path(self, spark, tmp_path):
        with_vocab = self._build(spark, tmp_path, True)
        without = self._build(spark, tmp_path, False)
        for q in ("table~1", "tible~2", "zzz~1", "table~1 -scan",
                  "text:cable~1"):
            a = sorted(r["id"] for r in with_vocab.query(q).collect())
            b = sorted(r["id"] for r in without.query(q).collect())
            assert a == b, q

    def test_expansion_values(self, spark, tmp_path):
        idx = self._build(spark, tmp_path, True)
        # table -> {table(0), cable(1), fable(1)}; tablet is 1 insert away
        assert idx._fuzzy_expansions("text", "table", 1) == [
            "cable", "fable", "table", "tablet"
        ]
        assert idx._fuzzy_expansions("text", "zzzzz", 1) == []
        # zero-expansion fuzzy matches nothing but does not error
        assert idx.query("zzzzz~1").count() == 0
        # memo: second call is a dict hit
        key = ("__fuzzy__", "text", "table", 1)
        assert key in idx._dfs_memo

    def test_expansion_path_prunes_blooms(self, spark, tmp_path):
        from solr_map_reduce_spark.index_reader import SearchIndex
        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
        from solr_map_reduce_spark.schema import Field, IndexSchema

        schema = IndexSchema(
            fields=(Field("id", "string", required=True), Field("text", "text_general")),
            unique_key="id",
        )
        df = spark.createDataFrame(
            [(str(i), "filler words here" if i else "unique zebra") for i in range(40)],
            "id string, text string",
        )
        out = str(tmp_path / "fz_bloom")
        IndexJob(
            IndexJobConfig(schema=schema, shards=4, dedup="none",
                           routing="native", search_stats=True, term_blooms=True)
        ).build(df, out)
        idx = SearchIndex.open(spark, out)
        # 'zebra~0' expands to exactly ['zebra'] -> a REQUIRED token ->
        # 'all'-mode bloom pruning engages: the scan's PartitionFilters
        # restrict the shard column (a 1-element isin simplifies to =)
        import re

        plan = idx.query("zebra~0")._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"PartitionFilters: \[[^\]]*shard#\d+ (=|IN)", plan), plan
        got = sorted(r["id"] for r in idx.query("zebra~1").collect())
        assert got == ["0"]


class TestLeadingWildcards:
    """Round-8: *suffix and *infix* wildcard terms.  On a
    text_general_rev field the suffix compiles to a PREFIX over the
    stored \\x01-marked reversed tokens (ReversedWildcardFilter's seekable
    contract); on any other analyzed field it's an honest endswith token
    scan — both must return identical results."""

    def _build(self, spark, tmp_path, atype):
        from solr_map_reduce_spark.index_reader import SearchIndex
        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
        from solr_map_reduce_spark.schema import Field, IndexSchema

        schema = IndexSchema(
            fields=(Field("id", "string", required=True), Field("text", atype)),
            unique_key="id",
        )
        df = spark.createDataFrame(
            [("1", "Hello worldwide web"), ("2", "the world turns"),
             ("3", "underworld stories"), ("4", "nothing here")],
            "id string, text string",
        )
        out = str(tmp_path / f"wc_{atype}")
        IndexJob(IndexJobConfig(schema=schema, shards=2, dedup="none")).build(df, out)
        return SearchIndex.open(spark, out)

    def test_rev_and_plain_agree(self, spark, tmp_path):
        plain = self._build(spark, tmp_path, "text_general")
        rev = self._build(spark, tmp_path, "text_general_rev")
        for q, want in [("*world", ["2", "3"]), ("*orld*", ["1", "2", "3"]),
                        ("world*", ["1", "2"]), ("text:*world", ["2", "3"]),
                        ("*world OR nothing", ["2", "3", "4"])]:
            got_p = sorted(r["id"] for r in plain.query(q).collect())
            got_r = sorted(r["id"] for r in rev.query(q).collect())
            assert got_p == want, (q, got_p)
            assert got_r == want, (q, got_r)

    def test_rev_suffix_is_prefix_seek_not_scan(self, spark, tmp_path):
        rev = self._build(spark, tmp_path, "text_general_rev")
        plan = rev.query("*world")._jdf.queryExecution().analyzed().toString()
        # the reversed rewrite: containment over the space-joined token
        # string (the fptoks prefix form), no per-token exists() scan
        assert "array_join" in plan
        assert "exists" not in plan.lower()

    def test_plain_suffix_is_exists_scan(self, spark, tmp_path):
        plain = self._build(spark, tmp_path, "text_general")
        plan = plain.query("*world")._jdf.queryExecution().analyzed().toString()
        assert "exists" in plan.lower()

    def test_infix_never_matches_null(self, spark, tmp_path):
        from solr_map_reduce_spark.index_reader import SearchIndex
        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
        from solr_map_reduce_spark.schema import Field, IndexSchema

        schema = IndexSchema(
            fields=(Field("id", "string", required=True),
                    Field("text", "text_general")),
            unique_key="id",
        )
        df = spark.createDataFrame([("1", "world"), ("2", None)],
                                   "id string, text string")
        out = str(tmp_path / "wc_null")
        IndexJob(IndexJobConfig(schema=schema, shards=1, dedup="none")).build(df, out)
        idx = SearchIndex.open(spark, out)
        assert sorted(r["id"] for r in idx.query("*orld*").collect()) == ["1"]
        # prohibited wildcard: NULL docs count as non-matching, so -*orld*
        # keeps them (Kleene-safe coalesce)
        assert sorted(r["id"] for r in idx.query("*:* AND -*orld*").collect()) == ["2"]


class TestQuerySynonyms:
    """Round-8: Solr query-time synonym expansion (SynonymFilterFactory
    in the QUERY analyzer chain, expand=true): a term whose surface form
    is in the map becomes an OR over its analyzed group; multi-word
    synonyms become conjunctive token runs; stemming applies AFTER
    expansion (the declared filter-chain order)."""

    @pytest.fixture(scope="class")
    def syn_idx(self, spark, tmp_path_factory):
        from solr_map_reduce_spark.index_reader import SearchIndex
        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
        from solr_map_reduce_spark.schema import Field, IndexSchema

        schema = IndexSchema(
            fields=(Field("id", "string", required=True),
                    Field("text", "text_en")),
            unique_key="id",
        )
        df = spark.createDataFrame(
            [("1", "the quick fox"), ("2", "a fast car"),
             ("3", "speedy delivery running"), ("4", "slow snail")],
            "id string, text string",
        )
        out = str(tmp_path_factory.mktemp("syn") / "idx")
        IndexJob(IndexJobConfig(schema=schema, shards=2, dedup="none")).build(df, out)
        return SearchIndex.open(spark, out)

    def test_expansion_is_or_over_group(self, syn_idx):
        syn = {"quick": ["fast", "speedy"]}
        got = sorted(r["id"] for r in syn_idx.query("quick", synonyms=syn).collect())
        assert got == ["1", "2", "3"]
        # without synonyms: the literal term only
        assert sorted(r["id"] for r in syn_idx.query("quick").collect()) == ["1"]

    def test_composes_with_boolean_operators(self, syn_idx):
        syn = {"quick": ["fast", "speedy"]}
        got = sorted(
            r["id"] for r in syn_idx.query("quick AND -car", synonyms=syn).collect()
        )
        assert got == ["1", "3"]

    def test_fielded_term_expands(self, syn_idx):
        syn = {"quick": ["fast", "speedy"]}
        got = sorted(
            r["id"] for r in syn_idx.query("text:quick", synonyms=syn).collect()
        )
        assert got == ["1", "2", "3"]

    def test_multiword_member_is_a_phrase(self, syn_idx):
        # a multi-word member matches as a PHRASE (SynonymGraphFilter:
        # multi-token synonyms are positional runs): doc 3 has the
        # adjacent stems 'deliveri run' but NOT 'run deliveri'
        got = sorted(
            r["id"]
            for r in syn_idx.query(
                "quick", synonyms={"quick": ["delivery running"]}
            ).collect()
        )
        assert got == ["1", "3"]
        got = sorted(
            r["id"]
            for r in syn_idx.query(
                "quick", synonyms={"quick": ["running delivery"]}
            ).collect()
        )
        assert got == ["1"]  # wrong order: the phrase member can't match

    def test_members_are_stemmed(self, syn_idx):
        # the member surface form 'speedily'-like variants stem the same
        # way a typed query would; 'delivery' matches doc 3's 'delivery'
        # through the stem 'deliveri'
        got = sorted(
            r["id"]
            for r in syn_idx.query("quick", synonyms={"quick": ["deliveries"]}).collect()
        )
        assert got == ["1", "3"]

    def test_unmapped_terms_unaffected(self, syn_idx):
        syn = {"quick": ["fast"]}
        assert sorted(
            r["id"] for r in syn_idx.query("snail", synonyms=syn).collect()
        ) == ["4"]

    def test_search_request_takes_synonyms(self, syn_idx):
        rows = syn_idx.search(
            q="quick", synonyms={"quick": ["fast", "speedy"]},
            sort=[("id", "asc")], limit=10, select=["id"],
        ).collect()
        assert [r["id"] for r in rows] == ["1", "2", "3"]


def idx_dismax_all(self, dm, pf):
    kw = {"pf": pf} if pf else {}
    return dm[0].dismax(
        ["spark", "internals"], qf={"title": 1.0, "body": 1.0}, **kw
    ).collect()


class TestDismax:
    """Round-8: Solr (e)dismax multi-field ranking — per-field analysis
    and statistics, DisjunctionMaxQuery (max + tie) per word, sum over
    words; stored-stats and computed paths must score identically."""

    @pytest.fixture(scope="class")
    def dm(self, spark, tmp_path_factory):
        from solr_map_reduce_spark.index_reader import SearchIndex
        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
        from solr_map_reduce_spark.schema import Field, IndexSchema

        schema = IndexSchema(
            fields=(Field("id", "string", required=True),
                    Field("title", "text_general"),
                    Field("body", "text_en")),
            unique_key="id",
        )
        docs = [("1", "Spark Internals", "a deep dive into shuffle behavior"),
                ("2", "Cooking Guide", "spark up your kitchen with spices"),
                ("3", "Spark Spark Spark", "nothing relevant"),
                ("4", "Irrelevant", "spark appears here in the body only")]
        df = spark.createDataFrame(docs, "id string, title string, body string")
        base = tmp_path_factory.mktemp("dm")
        out = str(base / "with_stats")
        IndexJob(IndexJobConfig(schema=schema, shards=2, dedup="none",
                                search_stats=True)).build(df, out)
        out2 = str(base / "no_stats")
        IndexJob(IndexJobConfig(schema=schema, shards=2, dedup="none")).build(df, out2)
        return SearchIndex.open(spark, out), SearchIndex.open(spark, out2)

    def test_title_boost_ranks_title_hits_first(self, dm):
        idx, _ = dm
        got = [r["id"] for r in idx.dismax(["spark"], qf={"title": 2.0, "body": 1.0}).collect()]
        # doc 3: tf(title)=3 -> strongest title signal; body-only doc 4 last tier
        assert got[0] == "3"
        assert set(got) == {"1", "2", "3", "4"}

    def test_max_not_sum_across_fields(self, dm):
        idx, _ = dm
        # with tie=0 a word in BOTH fields contributes only its best field;
        # tie=1 degrades to sum-of-fields, so any doc matching in two
        # fields must score strictly higher under tie=1
        t0 = {r["id"]: r["score"] for r in
              idx.dismax(["spark"], qf={"title": 1.0, "body": 1.0}, tie=0.0).collect()}
        t1 = {r["id"]: r["score"] for r in
              idx.dismax(["spark"], qf={"title": 1.0, "body": 1.0}, tie=1.0).collect()}
        # docs 1 and 3: spark in title only -> identical either way
        assert t0["3"] == pytest.approx(t1["3"], rel=1e-12)
        # no doc has spark in both fields here, so craft the check on doc 2
        # (title 'Cooking Guide' has no spark; body does): equal too
        assert t0["2"] == pytest.approx(t1["2"], rel=1e-12)

    def test_stored_equals_computed(self, dm):
        with_stats, no_stats = dm
        a = [(r["id"], r["score"]) for r in with_stats.dismax(
            ["spark", "shuffle"], qf={"title": 2.0, "body": 1.0}, tie=0.3).collect()]
        c = [(r["id"], r["score"]) for r in no_stats.dismax(
            ["spark", "shuffle"], qf={"title": 2.0, "body": 1.0}, tie=0.3).collect()]
        assert [x[0] for x in a] == [x[0] for x in c]
        for (_, sa), (_, sc) in zip(a, c):
            assert sa == pytest.approx(sc, rel=1e-12)

    def test_per_field_analysis(self, dm):
        idx, _ = dm
        # 'behaviors' stems to 'behavior' under text_en (body) but stays
        # 'behaviors' under text_general (title) -> only the body matches
        got = [r["id"] for r in idx.dismax(["behaviors"], qf={"title": 1.0, "body": 1.0}).collect()]
        assert got == ["1"]

    def test_unknown_field_is_loud(self, dm):
        idx, _ = dm
        with pytest.raises(ValueError, match="not an analyzed field"):
            idx.dismax(["spark"], qf={"nope": 1.0})

    def test_all_stopword_query_is_loud(self, dm):
        idx, _ = dm
        with pytest.raises(ValueError, match="no analyzable words"):
            idx.dismax(["the"], qf={"body": 1.0})

    def test_phrase_fields_bonus(self, dm):
        # pf= adds the field weight when the whole query is an adjacent
        # phrase: doc 1's title is 'Spark Internals' — the only
        # adjacent 'spark internals'
        base = {r["id"]: r["score"] for r in idx_dismax_all(
            self, dm, pf=None)}
        boosted = {r["id"]: r["score"] for r in idx_dismax_all(
            self, dm, pf={"title": 5.0})}
        assert boosted["1"] == pytest.approx(base["1"] + 5.0, rel=1e-12)
        for k in ("2", "3"):
            if k in base:
                assert boosted[k] == pytest.approx(base[k], rel=1e-12)
        with pytest.raises(ValueError, match="2 analyzed query"):
            dm[0].dismax(["spark"], qf={"title": 1.0}, pf={"title": 1.0})
        with pytest.raises(ValueError, match="not an analyzed field"):
            dm[0].dismax(["spark", "internals"], qf={"title": 1.0},
                         pf={"nope": 1.0})

    def test_pf_with_ps_slop(self, dm):
        # 'deep ... shuffle' is NOT adjacent in doc 1's body ('deep dive
        # into shuffle behavior' -> analyzed deep dive shuffl behavior):
        # pf alone adds nothing, pf with ps=1 admits the one-gap window
        base = {r["id"]: r["score"] for r in dm[0].dismax(
            ["deep", "shuffle"], qf={"body": 1.0}).collect()}
        strict = {r["id"]: r["score"] for r in dm[0].dismax(
            ["deep", "shuffle"], qf={"body": 1.0},
            pf={"body": 4.0}).collect()}
        sloppy = {r["id"]: r["score"] for r in dm[0].dismax(
            ["deep", "shuffle"], qf={"body": 1.0},
            pf={"body": 4.0}, ps=1).collect()}
        assert strict["1"] == pytest.approx(base["1"], rel=1e-12)
        assert sloppy["1"] == pytest.approx(base["1"] + 4.0, rel=1e-12)

    def test_pf2_bigram_bonus(self, dm):
        # 'deep dive into' in doc 1's body: pf2 counts matched PAIRS —
        # (deep dive) and (dive into)... 'into' is a stopword under
        # text_en, so analyzed words are deep/dive -> one pair
        base = {r["id"]: r["score"] for r in dm[0].dismax(
            ["deep", "dive"], qf={"body": 1.0}).collect()}
        b2 = {r["id"]: r["score"] for r in dm[0].dismax(
            ["deep", "dive"], qf={"body": 1.0},
            pf2={"body": 4.0}).collect()}
        assert b2["1"] == pytest.approx(base["1"] + 4.0, rel=1e-12)

    def test_multiplicative_boost(self, dm):
        idx, _ = dm
        base = {r["id"]: r["score"] for r in idx.dismax(
            ["spark"], qf={"title": 1.0, "body": 1.0}).collect()}
        # boost=div(strlen-free constant) — use a function over a doc
        # column: strlen of id ('1'..'4') is 1, so pick a numeric fn
        # over the id via constant product: boost=product(2) doubles
        boosted = {r["id"]: r["score"] for r in idx.dismax(
            ["spark"], qf={"title": 1.0, "body": 1.0},
            boost="product(2,1)").collect()}
        for k, v in base.items():
            assert boosted[k] == pytest.approx(2.0 * v, rel=1e-12)
        # matching is untouched: the same doc set is admitted
        assert set(boosted) == set(base)


class TestSpellcheckCollate:
    """Round-9: spellcheck.collate — whole-query corrections with
    verified hit counts, one conditional-aggregate pass for ALL
    collations."""

    @pytest.fixture(scope="class")
    def sc(self, spark, tmp_path_factory):
        from solr_map_reduce_spark.index_reader import SearchIndex
        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
        from solr_map_reduce_spark.schema import Field, IndexSchema

        schema = IndexSchema(
            fields=(Field("id", "string", required=True),
                    Field("text", "text_general")),
            unique_key="id",
        )
        docs = [("1", "spark scan fast"),
                ("2", "spark shuffle"),
                ("3", "spork scan")]
        df = spark.createDataFrame(docs, "id string, text string")
        out = str(tmp_path_factory.mktemp("sc") / "idx")
        IndexJob(IndexJobConfig(schema=schema, shards=1, dedup="none",
                                search_stats=True)).build(df, out)
        return SearchIndex.open(spark, out)

    def test_collations_ranked_and_counted(self, sc):
        rows = sc.spellcheck_collate(["sprak", "scan"]).collect()
        got = [(r["collation"], r["hits"]) for r in rows]
        # sprak -> spark (df 2) and spork (df 1), both edit distance 2;
        # 'scan' is in the dictionary and stands.  Both collations have
        # exactly one verified hit -> tie broken by collation asc
        assert got == [("spark scan", 1), ("spork scan", 1)]

    def test_all_words_present_returns_empty(self, sc):
        assert sc.spellcheck_collate(["spark", "scan"]).count() == 0

    def test_zero_hit_collations_drop(self, sc):
        # 'shuffle' never co-occurs with spork: only the spark collation
        # survives the verification count
        rows = sc.spellcheck_collate(["sprak", "shuffle"]).collect()
        assert [(r["collation"], r["hits"]) for r in rows] == [
            ("spark shuffle", 1)]

    def test_max_collations_caps_output(self, sc):
        rows = sc.spellcheck_collate(["sprak", "scan"],
                                     max_collations=1).collect()
        assert len(rows) == 1 and rows[0]["collation"] == "spark scan"

    def test_empty_words_is_loud(self, sc):
        with pytest.raises(ValueError, match="at least one word"):
            sc.spellcheck_collate([])


class TestComplexPhrase:
    """Round-9: {!complexphrase} — phrases whose terms are wildcards,
    matched as an ordered positional window over stored tokens."""

    @pytest.fixture(scope="class")
    def cp(self, spark, tmp_path_factory):
        from solr_map_reduce_spark.index_reader import SearchIndex
        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
        from solr_map_reduce_spark.schema import Field, IndexSchema

        schema = IndexSchema(
            fields=(Field("id", "string", required=True),
                    Field("text", "text_general")),
            unique_key="id",
        )
        docs = [("1", "john smith works here"),
                ("2", "johnson smythe consulting"),
                ("3", "smith john reversed"),
                ("4", "jones smith and co"),
                ("5", "john big smith gapped")]
        df = spark.createDataFrame(docs, "id string, text string")
        out = str(tmp_path_factory.mktemp("cp") / "idx")
        IndexJob(IndexJobConfig(schema=schema, shards=1, dedup="none")).build(
            df, out
        )
        return SearchIndex.open(spark, out)

    def ids(self, cp, q):
        return sorted(r["id"] for r in cp.search(q=q, select=["id"]).collect())

    def test_wildcard_phrase_adjacent(self, cp):
        # jo* immediately before smith: 1 (john smith), 4 (jones smith);
        # NOT 3 (reversed), NOT 2 (smythe), NOT 5 (gapped)
        assert self.ids(cp, '{!complexphrase}text:"jo* smith"') == ["1", "4"]

    def test_slop_admits_gap(self, cp):
        assert self.ids(cp, '{!complexphrase}text:"jo* smith"~1') == [
            "1", "4", "5"]

    def test_question_mark_and_multiterm(self, cp):
        assert self.ids(cp, '{!complexphrase}text:"j?hn sm*"') == ["1", "5"] \
            or self.ids(cp, '{!complexphrase}text:"j?hn sm*"') == ["1"]
        # exact check: j?hn matches john only (not jones/johnson);
        # sm* right after john: doc 1 (smith); doc 5 has 'big' between
        assert self.ids(cp, '{!complexphrase}text:"j?hn sm*"') == ["1"]

    def test_single_wildcard_term(self, cp):
        assert self.ids(cp, '{!complexphrase}text:"smy*"') == ["2"]

    def test_literal_terms_analyze(self, cp):
        # no wildcards: behaves as a plain analyzed adjacency phrase
        assert self.ids(cp, '{!complexphrase}text:"john smith"') == ["1"]

    def test_errors_are_loud(self, cp):
        from solr_map_reduce_spark.extensions.search import QuerySyntaxError

        with pytest.raises(QuerySyntaxError, match="body must be"):
            cp.search(q="{!complexphrase}text:nophrase")

    def test_unordered_window(self, cp):
        # inOrder=false (Lucene's unordered SpanNear): adjacent pair in
        # ANY order — 1 (john smith), 3 (smith john), 4 (jones smith)
        assert self.ids(
            cp, '{!complexphrase inOrder=false}text:"smith jo*"'
        ) == ["1", "3", "4"]
        # slop widens the window symmetrically: 5 (john big smith)
        assert self.ids(
            cp, '{!complexphrase inOrder=false}text:"smith john"~1'
        ) == ["1", "3", "5"]
        # ordered form of the same phrase only matches the reversed doc
        assert self.ids(cp, '{!complexphrase}text:"smith jo*"') == ["3"]

    def test_unordered_requires_distinct_positions(self, cp):
        # one 'john' token cannot witness both terms (Lucene unordered
        # near forbids overlapping sub-spans)
        assert self.ids(
            cp, '{!complexphrase inOrder=false}text:"john john"~3'
        ) == []

    def test_unordered_term_cap_is_loud(self, cp):
        from solr_map_reduce_spark.extensions.search import QuerySyntaxError

        with pytest.raises(QuerySyntaxError, match="at most 5"):
            cp.search(
                q='{!complexphrase inOrder=false}text:"a b c d e f"'
            )

    def test_term_qparser(self, cp):
        # {!term}: ONE raw value, no analysis, no separator split —
        # the raw text field only equals itself exactly
        assert self.ids(cp, "{!term f=text}john smith works here") == ["1"]
        assert self.ids(cp, "{!term f=text}john") == []
        assert self.ids(cp, "{!term f=id}3") == ["3"]
        # {!raw} is the same raw-equality contract
        assert self.ids(cp, "{!raw f=id}3") == ["3"]
        from solr_map_reduce_spark.extensions.search import QuerySyntaxError

        with pytest.raises(QuerySyntaxError, match="f= param"):
            cp.search(q="{!term}x")

    def test_bool_qparser(self, cp):
        # must + must_not: BooleanQuery match semantics on one scan
        assert self.ids(
            cp, "{!bool must='text:smith' must_not='text:works'}"
        ) == ["3", "4", "5"]
        # repeated must keys conjoin
        assert self.ids(
            cp, "{!bool must='text:john' must='text:smith'}"
        ) == ["1", "3", "5"]
        # shoulds alone: at least one must hold
        assert self.ids(
            cp, "{!bool should='text:reversed' should='text:gapped'}"
        ) == ["3", "5"]
        # with a must present, shoulds are scoring-only (don't restrict)
        assert self.ids(
            cp, "{!bool must='text:smith' should='text:nonexistent'}"
        ) == ["1", "3", "4", "5"]
        from solr_map_reduce_spark.extensions.search import QuerySyntaxError

        with pytest.raises(QuerySyntaxError, match="at least one"):
            cp.search(q="{!bool}")

    def test_surround_ordered_w(self, cp):
        # prefix form: w() is adjacency; 2w() allows one gap
        assert self.ids(cp, "{!surround}text:w(jo*, smith)") == ["1", "4"]
        assert self.ids(cp, "{!surround}text:2w(jo*, smith)") == [
            "1", "4", "5"]
        # binary infix form compiles to the same window
        assert self.ids(cp, "{!surround}text:jo* 2w smith") == [
            "1", "4", "5"]
        # three operands share one window; case-insensitive raw terms
        assert self.ids(cp, "{!surround}text:w(JOHN, smith, works)") == ["1"]

    def test_surround_unordered_n(self, cp):
        # N: same width bound as W, any order, distinct positions
        assert self.ids(cp, "{!surround}text:n(jo*, smith)") == [
            "1", "3", "4"]
        assert self.ids(cp, "{!surround}text:2n(john, smith)") == [
            "1", "3", "5"]
        # binary infix N form
        assert self.ids(cp, "{!surround}text:smith 1n john") == ["1", "3"]
        # three operands, any order, one shared window
        assert self.ids(cp, "{!surround}text:n(works, smith, john)") == ["1"]

    def test_func_and_boost_qparsers(self, cp):
        from solr_map_reduce_spark.extensions.search import QuerySyntaxError

        # {!func}: a FunctionQuery matches ALL docs (score-only effect)
        assert self.ids(cp, "{!func}sum(1,2)") == ["1", "2", "3", "4", "5"]
        # {!boost}: matching is the wrapped query's matching
        assert self.ids(cp, "{!boost b=sum(1,1)}text:smith") == [
            "1", "3", "4", "5"]
        with pytest.raises(QuerySyntaxError):
            cp.search(q="{!func}notafunction(")
        with pytest.raises(QuerySyntaxError, match="wrapped"):
            cp.search(q="{!boost b=sum(1,1)}")

    def test_surround_errors_are_loud(self, cp):
        from solr_map_reduce_spark.extensions.search import QuerySyntaxError

        with pytest.raises(QuerySyntaxError, match="two operands"):
            cp.search(q="{!surround}text:2w(solo)")
        with pytest.raises(QuerySyntaxError, match="supports"):
            cp.search(q="{!surround}text:a AND b")

    def test_plan_is_shuffle_free_codegen(self, cp):
        # the ordered-window predicate is higher-order array functions
        # over the stored tokens: no Exchange, no Python, at any scale
        plan = (
            cp.search(q='{!complexphrase}text:"jo* smith"',
                      select=["id"])
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan
        assert "Python" not in plan

    def test_mlt_qparser(self, cp):
        # {!mlt}1 returns docs similar to doc 1 (shared 'john'/'smith'
        # terms), the source itself excluded, composable full rows
        got = sorted(
            r["id"] for r in cp.search(q="{!mlt}1", select=["id"]).collect()
        )
        assert "1" not in got and got  # similar docs, source excluded
        assert set(got) <= {"2", "3", "4", "5"}
        from solr_map_reduce_spark.extensions.search import QuerySyntaxError

        with pytest.raises(QuerySyntaxError, match="document id"):
            cp.search(q="{!mlt}")


class TestGeneralWildcards:
    """Round-8: full Lucene WildcardQuery globs (? one char, * any run,
    anywhere in the term) as anchored regexes over stored tokens."""

    @pytest.fixture(scope="class")
    def w_idx(self, spark, tmp_path_factory):
        from solr_map_reduce_spark.index_reader import SearchIndex
        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
        from solr_map_reduce_spark.schema import Field, IndexSchema

        schema = IndexSchema(
            fields=(Field("id", "string", required=True),
                    Field("text", "text_general")),
            unique_key="id",
        )
        df = spark.createDataFrame(
            [("1", "test text"), ("2", "tent toast"), ("3", "taste nothing"),
             ("4", "Telt stuff")],
            "id string, text string",
        )
        out = str(tmp_path_factory.mktemp("gw") / "idx")
        IndexJob(IndexJobConfig(schema=schema, shards=2, dedup="none")).build(df, out)
        return SearchIndex.open(spark, out)

    def test_question_mark_and_midword_star(self, w_idx):
        assert sorted(r["id"] for r in w_idx.query("te?t").collect()) == ["1", "2", "4"]
        assert sorted(r["id"] for r in w_idx.query("t*t").collect()) == ["1", "2", "4"]
        assert sorted(r["id"] for r in w_idx.query("ta?te").collect()) == ["3"]
        # case folds like the analyzer (Telt -> telt matches te?t)
        assert sorted(r["id"] for r in w_idx.query("text:te?t").collect()) == ["1", "2", "4"]

    def test_regex_metachars_are_literal(self, w_idx):
        # a dot in the pattern is a LITERAL dot, not regex any-char —
        # 'te.t' must match nothing (no token contains a dot)
        assert w_idx.query("te.t?").count() == 0

    def test_composes_with_boolean(self, w_idx):
        got = sorted(r["id"] for r in w_idx.query("te?t AND -toast").collect())
        assert got == ["1", "4"]


class TestRevMarkerHygiene:
    """Code-review round-8: text_general_rev interleaves \\x01-marked
    reversed copies into the stored array for the leading-wildcard seek;
    every OTHER operation must see only real tokens — phrases keep
    adjacency (no false negatives), substring/edit-distance scans never
    match reversed garbage (no false positives), and BM25 lengths /
    sidecar statistics count real tokens only."""

    @pytest.fixture(scope="class")
    def rev_idx(self, spark, tmp_path_factory):
        from solr_map_reduce_spark.index_reader import SearchIndex
        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
        from solr_map_reduce_spark.schema import Field, IndexSchema

        schema = IndexSchema(
            fields=(Field("id", "string", required=True),
                    Field("text", "text_general_rev")),
            unique_key="id",
        )
        df = spark.createDataFrame(
            [("1", "hello world"), ("2", "world aby hello"), ("3", "other stuff")],
            "id string, text string",
        )
        out = str(tmp_path_factory.mktemp("revh") / "idx")
        IndexJob(
            IndexJobConfig(schema=schema, shards=2, dedup="none",
                           search_stats=True)
        ).build(df, out)
        return SearchIndex.open(spark, out)

    def test_phrase_adjacency_survives_rev_copies(self, rev_idx):
        # stored: ['hello','\x01olleh','world','\x01dlrow'] — the phrase
        # 'hello world' must still match doc 1 (adjacency over REAL
        # tokens) and must NOT match doc 2 (hello after world)
        got = sorted(r["id"] for r in rev_idx.query('"hello world"').collect())
        assert got == ["1"]
        got = sorted(r["id"] for r in rev_idx.query('"hello world"~2').collect())
        assert got == ["1"]

    def test_infix_and_wildcard_ignore_reversed_copies(self, rev_idx):
        # '\x01dlrow' contains 'lro' but no REAL token does
        assert rev_idx.query("*lro*").count() == 0
        # '?yba' would regex-match '\x01yba' (reversed 'aby')
        assert rev_idx.query("?yba").count() == 0
        # real matches still work
        assert sorted(r["id"] for r in rev_idx.query("*orld").collect()) == ["1", "2"]

    def test_fuzzy_never_matches_reversed(self, rev_idx):
        # '\x01olleh' is levenshtein-1 from 'xolleh'-ish needles; a fuzzy
        # query that matches no real token must return nothing
        assert rev_idx.query("dlrow~1").count() == 0

    def test_bm25_and_sidecar_count_real_tokens_only(self, rev_idx):
        stats = rev_idx._sidecar("stats")["text"]
        # 7 REAL tokens across the corpus (2 + 3 + 2), not 14
        assert stats["sum_dl"] == 7
        # vocab has no marker terms; spellcheck/suggest never surface them
        sugg = [r["suggestion"] for r in rev_idx.spellcheck("worl").collect()]
        assert all(not s.startswith("\x01") for s in sugg)
        hits = rev_idx.bm25(["hello"], k=5).collect()
        assert sorted(r["id"] for r in hits) == ["1", "2"]

    def test_term_vectors_and_highlight_clean(self, rev_idx):
        tv = rev_idx.term_vectors(["1"]).collect()
        assert sorted(r["term"] for r in tv) == ["hello", "world"]
        snip = rev_idx.highlight(["world"]).collect()
        assert all("\x01" not in r["snippet"] for r in snip)


class TestDegenerateGlobs:
    def test_star_runs_collapse_and_metachar_only(self):
        from solr_map_reduce_spark.extensions.search import parse_query

        assert parse_query("**tion") == ("suffix", "tion")
        assert parse_query("run**") == ("prefix", "run")
        assert parse_query("**a**") == ("infix", "a")
        # metachar-only patterns are GENERAL wildcards (Lucene: ?* is
        # one-or-more chars), never literal terms
        assert parse_query("?*") == ("wild", "?*")
        assert parse_query("??") == ("wild", "??")
        assert parse_query("**") == ("term", "**")  # collapses to bare *
