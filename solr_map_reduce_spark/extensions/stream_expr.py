"""Solr STREAMING EXPRESSIONS → DataFrame plans.

Solr's /stream handler exposes a composable dataflow DSL —
``rollup(search(coll, q=..., fl=..., sort=...), over=..., sum(x))`` —
whose operators are exactly Spark's relational algebra.  This module
parses the expression language (public Solr syntax: function calls with
positional sub-streams, ``key=value`` params, quoted values, metric
calls like ``count(*)``) and compiles each decorator to the DataFrame
operation it already is:

==================  =====================================================
expression          Spark plan
==================  =====================================================
search              the collection's (Bloom-pruned) scan: SearchIndex
                    ``_query_scan`` when the source is an index handle,
                    a plain filterable DataFrame otherwise; ``fl``
                    projects, ``fq`` adds filter predicates
select              select / alias (``field as alias``)
rollup / facet      groupBy + agg (sum/min/max/avg|mean/count(*)), i.e.
                    Spark's partial-agg shuffle — NOT Solr's
                    sorted-stream single pass, same results
unique              first tuple per ``over`` key in the stream's sort
                    order (row_number over the tracked sort == Solr's
                    sorted-stream contract, made explicit)
top                 orderBy + limit (TakeOrdered)
sort                orderBy (re-sorts the stream, tracked for unique)
having              filter over boolean ops eq/gt/lt/gteq/lteq/and/or/not
innerJoin /         equi-join on ``on="l=r,..."``; leftOuterJoin is the
leftOuterJoin       left variant — Solr requires both inputs sorted by
                    the join key, Spark's optimizer picks the strategy
hashJoin            the same join with the ``hashed`` side BROADCAST —
                    Solr's "fits in memory" contract is literally
                    Spark's broadcast hint
merge               unionByName of the streams + the ``on`` sort order
fetch               left-join enrichment: pull ``fl`` fields from a
                    collection by key for each stream tuple
intersect /         left-semi / left-anti join on the ``on`` keys
complement
stats               global aggregate row (no buckets)
cartesianProduct    explode_outer of a multi-valued field
timeseries          start-anchored time buckets + agg (gap=+N UNIT via
                    epoch / month-index arithmetic; date-math bounds)
significantTerms    foreground explode/groupBy vs stored-dictionary
                    background dfs, scored by lift * ln(1+fg)
nodes               one graph hop: frontier semi-join + gather distinct
                    (nest for multi-hop, Solr's own composition)
shortestPath        level-synchronous BFS over an edge collection —
                    one join per level, cycle-pruned, maxDepth-bounded
echo / tuple        literal one-tuple leaf streams
random              pseudo-random subset (seed= makes it a
                    deterministic keyed md5 scramble)
facet2D             top-dx x-buckets, top-dy y-buckets within each
                    (one corpus shuffle + tiny re-agg + window)
parallel            compatibility pass-through (Spark is already
                    parallel); sort= becomes the merge order
topic               checkpointed incremental pull (Topic class): only
                    docs whose _version_ exceeds the checkpoint; commit
                    via compiler.commit_topics() after processing
update              index the stream into a destination via merge_into
                    (O(touched shards)); emits a batchIndexed summary
commit              pass-through wrapper (merge_into publishes
                    atomically — no separate uncommitted state);
                    cadence params accepted and ignored
daemon              one iteration of the wrapped stream per run() —
                    continuous operation is Structured Streaming's job
list / plist        tuples of every wrapped stream (unionByName,
                    missing columns null) — Spark runs the inputs in
                    parallel either way, so both share one plan; Solr's
                    list() cross-stream SEQUENCE is not an ordering
                    guarantee here (wrap in sort() for one)
null                consume the stream, emit ONE {nullCount} tuple —
                    Solr's throughput-test sink (the count aggregate
                    executes the full plan, nothing is collected)
knnSearch           text k-nearest via MoreLikeThis: the id= doc's
                    distinctive terms (tf-idf from the stored
                    dictionary) fed to BM25, source doc excluded
(select evaluators) add/sub/mult/div/mod/abs/sqrt/pow, if/eq/gt/lt/
                    gteq/lteq/and/or/not, analyze(field, fieldType),
                    concat/upper/lower/trim/strlen/substring (quoted
                    args are string literals) — computed tuple fields
                    with ``as`` aliases
==================  =====================================================

Scale: the DSL introduces ZERO new execution machinery — every compiled
plan is the same Catalyst plan the native API produces (broadcast joins,
partial aggregation, pruned scans), so the 100 TB story is unchanged.

This is beyond-reference surface (the reference repo has no query DSL;
its pipeline grammar is morphlines — see ``plans/hocon.py``); the
grammar and operator semantics follow Solr's public streaming-expression
documentation.
"""

from __future__ import annotations

from collections.abc import Mapping
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from solr_map_reduce_spark.extensions.search import QuerySyntaxError
from solr_map_reduce_spark.session import local_frame


# --------------------------------------------------------------- parser
@dataclass
class Call:
    """One function-call node: ``name(pos..., key=value...)`` where a
    positional arg is either a nested :class:`Call` or a raw string.
    ``alias`` carries a trailing ``as name`` (select's evaluators:
    ``add(a,b) as total``)."""

    name: str
    args: list = field(default_factory=list)
    kwargs: dict = field(default_factory=dict)
    alias: str | None = None


class Quoted(str):
    """A positional argument that was FULLY quoted in the source —
    string evaluators (``concat(name, "-")``) need to tell the literal
    ``"-"`` from the field name ``dept``; everywhere else a Quoted IS
    its str value (isinstance(str) holds), so existing kwarg/args
    handling is unaffected."""


def parse_stream_expr(s: str) -> Call:
    """Parse one streaming expression into its :class:`Call` tree."""
    pos = 0
    n = len(s)

    def err(msg: str) -> QuerySyntaxError:
        return QuerySyntaxError(f"stream expression {s!r}: {msg} (at {pos})")

    def skip_ws() -> None:
        nonlocal pos
        while pos < n and s[pos].isspace():
            pos += 1

    def read_raw() -> str:
        """A raw argument up to a top-level ',' or ')': quote-aware so
        ``on="a=b"`` and ``sort="a asc, b desc"`` stay one token."""
        nonlocal pos
        out = []
        while pos < n and s[pos] not in ",)":
            c = s[pos]
            if c == '"':
                # quote-aware AND escape-aware: Solr's canonical nested
                # form q="field:\"a b\"" must keep the escaped quotes
                # inside the value (the old scan stopped at the first
                # quote after a backslash and silently mangled the query)
                pos += 1
                buf = []
                while pos < n and s[pos] != '"':
                    if s[pos] == "\\" and pos + 1 < n and s[pos + 1] in '\\"':
                        buf.append(s[pos + 1])
                        pos += 2
                    else:
                        buf.append(s[pos])
                        pos += 1
                if pos >= n:
                    raise err("unterminated string")
                out.append("".join(buf))
                pos += 1
            elif c == "(":
                raise err("unexpected '('")
            else:
                out.append(c)
                pos += 1
        return "".join(out).strip()

    def parse_call() -> Call:
        nonlocal pos
        skip_ws()
        start = pos
        while pos < n and (s[pos].isalnum() or s[pos] in "_*"):
            pos += 1
        name = s[start:pos]
        if not name:
            raise err("expected a function name")
        skip_ws()
        if pos >= n or s[pos] != "(":
            raise err(f"expected '(' after {name!r}")
        pos += 1
        node = Call(name)
        skip_ws()
        if pos < n and s[pos] == ")":
            pos += 1
            return node
        def read_ident() -> str:
            nonlocal pos
            start = pos
            while pos < n and (s[pos].isalnum() or s[pos] in "_*."):
                pos += 1
            return s[start:pos]

        while True:
            skip_ws()
            save = pos
            word = read_ident()
            if word and pos < n and s[pos] == "(":
                # nested call as a positional arg (sub-stream / metric /
                # evaluator); an evaluator may carry a trailing alias:
                # ``add(a,b) as total``
                pos = save
                sub = parse_call()
                skip_ws()
                save_as = pos
                if read_ident() == "as":
                    skip_ws()
                    alias = read_ident()
                    if not alias:
                        raise err("expected an alias after 'as'")
                    sub.alias = alias
                else:
                    pos = save_as
                node.args.append(sub)
            elif word and pos < n and s[pos] == "=":
                # key=value; the value may itself be a call
                # (hashJoin's hashed=search(...)) or a raw/quoted token
                pos += 1
                save2 = pos
                w2 = read_ident()
                if w2 and pos < n and s[pos] == "(":
                    pos = save2
                    val = parse_call()
                else:
                    pos = save2
                    val = read_raw()
                if word in node.kwargs:
                    # Solr accepts REPEATED fq params (each an extra
                    # filter); collapsing them in a dict would silently
                    # drop filters.  Other duplicate keys are user error.
                    if word != "fq":
                        raise err(f"duplicate parameter {word!r}")
                    prev = node.kwargs[word]
                    node.kwargs[word] = (
                        prev + [val] if isinstance(prev, list) else [prev, val]
                    )
                else:
                    node.kwargs[word] = val
            else:
                pos = save
                if pos < n and s[pos] == '"':
                    # a FULLY-quoted positional arg is a string literal
                    # (evaluators need to tell "-" from a field name);
                    # quoted-then-more ("a"b) falls back to raw reading
                    pos += 1
                    qstart = pos
                    while pos < n and s[pos] != '"':
                        pos += 1
                    if pos >= n:
                        raise err("unterminated string")
                    lit = s[qstart:pos]
                    pos += 1
                    skip_ws()
                    if pos < n and s[pos] in ",)":
                        node.args.append(Quoted(lit))
                        if s[pos] == ",":
                            pos += 1
                            continue
                        pos += 1
                        return node
                    pos = save  # mixed token: re-read as raw
                raw = read_raw()
                if not raw:
                    raise err("empty argument")
                node.args.append(raw)
            skip_ws()
            if pos < n and s[pos] == ",":
                pos += 1
                continue
            if pos < n and s[pos] == ")":
                pos += 1
                return node
            raise err("expected ',' or ')'")

    node = parse_call()
    skip_ws()
    if pos != n:
        raise err(f"trailing input {s[pos:]!r}")
    return node


# ------------------------------------------------------------- compiler
_METRICS = {"sum", "min", "max", "avg", "mean", "count", "countDist",
            "std", "per", "approxPer"}
_BOOL_CMP = {"eq": "==", "gt": ">", "lt": "<", "gteq": ">=", "lteq": "<="}


def _sort_spec(raw: str) -> list[tuple[str, str]]:
    """``"a asc, b desc"`` -> [(a, asc), (b, desc)] (asc default)."""
    out = []
    for part in raw.split(","):
        bits = part.split()
        if not bits:
            continue
        d = bits[1].lower() if len(bits) > 1 else "asc"
        if d not in ("asc", "desc"):
            raise QuerySyntaxError(f"bad sort direction {part!r}")
        out.append((bits[0], d))
    return out


def _order_cols(spec: list[tuple[str, str]]) -> list:
    def ref(name: str) -> F.Column:
        # metric result columns are literally named "count(*)" etc. —
        # backtick-quote anything a bare parse would mangle
        return (F.col(f"`{name}`") if any(ch in name for ch in "()*")
                else F.col(name))

    return [ref(c).desc() if d == "desc" else ref(c).asc() for c, d in spec]


def _metric_col(node: Call) -> tuple[F.Column, str]:
    """A metric call -> (agg Column, Solr's emitted field name).
    Solr's full rollup/stats metric set: sum/min/max/avg(mean)/
    count(*)/countDist(f)/std(f — sample stddev, Solr's definition)/
    per(f, N — Solr serves a t-digest estimate; ours is EXACT with
    linear interpolation, the same quantile_cont a SQL oracle runs)."""
    if node.name not in _METRICS:
        raise QuerySyntaxError(f"unknown metric {node.name!r}")
    if node.name in ("per", "approxPer"):
        if len(node.args) != 2 or node.kwargs:
            raise QuerySyntaxError(
                f"{node.name}() takes (field, percentile)"
            )
        f_, p_raw = node.args
        try:
            p = float(p_raw)
        except (TypeError, ValueError):
            raise QuerySyntaxError(
                f"{node.name}() percentile must be numeric, got {p_raw!r}"
            ) from None
        if not 0.0 <= p <= 100.0:
            raise QuerySyntaxError(
                f"{node.name}() percentile {p:g} not in 0..100"
            )
        name = f"{node.name}({f_},{p_raw})"
        if node.name == "approxPer":
            # the corpus-scale variant: Spark's bounded-memory sketch
            # (Greenwald-Khanna), the same cost model as the t-digest
            # Solr's per() actually serves — EXACT per() shuffles every
            # value of the group; approxPer() shuffles a fixed-size
            # sketch per partition
            return F.percentile_approx(
                F.col(str(f_)), F.lit(p / 100.0), F.lit(10000)
            ), name
        return F.percentile(F.col(str(f_)), F.lit(p / 100.0)), name
    if len(node.args) != 1 or node.kwargs:
        raise QuerySyntaxError(f"{node.name}() takes one field arg")
    arg = node.args[0]
    name = f"{node.name}({arg})"
    if node.name == "count":
        if arg != "*":
            raise QuerySyntaxError("count() supports count(*) only")
        return F.count(F.lit(1)), name
    fn = {"sum": F.sum, "min": F.min, "max": F.max,
          "avg": F.avg, "mean": F.avg, "countDist": F.countDistinct,
          "std": F.stddev_samp}[node.name]
    if not isinstance(arg, str):
        raise QuerySyntaxError(f"{node.name}() field must be a name")
    return fn(arg), name


def _bool_col(node) -> F.Column:
    """having()'s boolean sub-language -> one Column predicate."""
    if not isinstance(node, Call):
        raise QuerySyntaxError(f"having: expected a boolean call, got {node!r}")
    if node.name in _BOOL_CMP:
        if len(node.args) != 2:
            raise QuerySyntaxError(f"{node.name}() takes 2 args")
        l, r = node.args
        lc = _operand(l)
        rc = _operand(r)
        op = _BOOL_CMP[node.name]
        return {
            "==": lc == rc, ">": lc > rc, "<": lc < rc,
            ">=": lc >= rc, "<=": lc <= rc,
        }[op]
    if node.name == "and":
        out = _bool_col(node.args[0])
        for a in node.args[1:]:
            out = out & _bool_col(a)
        return out
    if node.name == "or":
        out = _bool_col(node.args[0])
        for a in node.args[1:]:
            out = out | _bool_col(a)
        return out
    if node.name == "not":
        if len(node.args) != 1:
            raise QuerySyntaxError("not() takes 1 arg")
        return ~_bool_col(node.args[0])
    if node.name in ("isNull", "notNull"):
        # Solr having's null probes: isNull(field) / notNull(field)
        if len(node.args) != 1 or isinstance(node.args[0], Call):
            raise QuerySyntaxError(f"{node.name}() takes one field arg")
        col = _operand(node.args[0])
        return col.isNull() if node.name == "isNull" else col.isNotNull()
    raise QuerySyntaxError(f"unknown boolean op {node.name!r}")


# select()'s stream EVALUATORS (Solr's math/conditional/string
# expression language over tuple fields): compiled to plain Column
# expressions — never a UDF.  Operands are numbers, field names, or
# quoted string literals (the parser marks fully-quoted positional args
# as Quoted so ``concat(name, "-")`` can tell the literal from a field).
_EVALUATORS = {"add", "sub", "mult", "div", "mod", "abs", "sqrt", "pow",
               "if", "eq", "gt", "lt", "gteq", "lteq", "and", "or", "not",
               "analyze", "concat", "upper", "lower", "trim", "strlen",
               "substring"}

# the DRIVER-SIDE math-expression evaluators valid inside let() — Solr's
# in-memory numeric tier (see _c_let); distinct from _EVALUATORS, which
# compile to per-row Columns
_MATH_FNS = {"col", "array", "sequence", "add", "sub", "mult", "div",
             "pow", "log", "sqrt", "abs", "exp", "length", "mean", "sum",
             "min", "max", "stddev", "var", "percentile", "corr", "cov",
             "slope", "intercept", "rSquared", "rev", "asc", "desc",
             "movingAvg"}


def _np():
    import numpy

    return numpy


def _eval_call(node: Call) -> F.Column:
    def opnd(a) -> F.Column:
        if isinstance(a, Call):
            return _eval_call(a)
        if isinstance(a, Quoted):
            return F.lit(str(a))
        try:
            return F.lit(float(a))
        except (TypeError, ValueError):
            return F.col(a)

    name, args = node.name, node.args
    if name not in _EVALUATORS:
        raise QuerySyntaxError(f"unknown evaluator {name!r}")
    if name == "analyze":
        # Solr's analyze(field, fieldType) evaluator: tokenize a tuple
        # field under a named analyzer — the same Column analyzers the
        # index build uses (JVM expression chain, never a UDF)
        from solr_map_reduce_spark.functions.analyzers import ANALYZERS

        if len(args) != 2 or not all(isinstance(a, str) for a in args):
            raise QuerySyntaxError(
                "analyze() takes (field, fieldType) — e.g. "
                "analyze(text, text_general)"
            )
        fld, ftype = args
        if ftype not in ANALYZERS:
            raise QuerySyntaxError(
                f"unknown fieldType {ftype!r}; known: {sorted(ANALYZERS)}"
            )
        return ANALYZERS[ftype](F.col(fld))
    if name in ("add", "mult"):
        if len(args) < 2:
            raise QuerySyntaxError(f"{name}() takes >=2 args")
        out = opnd(args[0])
        for a in args[1:]:
            out = out + opnd(a) if name == "add" else out * opnd(a)
        return out
    if name in ("sub", "div", "mod", "pow", "eq", "gt", "lt", "gteq", "lteq"):
        if len(args) != 2:
            raise QuerySyntaxError(f"{name}() takes 2 args")
        l, r = opnd(args[0]), opnd(args[1])
        return {
            "sub": lambda: l - r, "div": lambda: l / r,
            "mod": lambda: l % r, "pow": lambda: F.pow(l, r),
            "eq": lambda: l == r, "gt": lambda: l > r,
            "lt": lambda: l < r, "gteq": lambda: l >= r,
            "lteq": lambda: l <= r,
        }[name]()
    if name in ("abs", "sqrt", "not"):
        if len(args) != 1:
            raise QuerySyntaxError(f"{name}() takes 1 arg")
        x = opnd(args[0])
        return {"abs": lambda: F.abs(x), "sqrt": lambda: F.sqrt(x),
                "not": lambda: ~x}[name]()
    # Solr string evaluators (all JVM-side expressions)
    if name == "concat":
        if len(args) < 2:
            raise QuerySyntaxError("concat() takes >=2 args")
        return F.concat(*[opnd(a).cast("string") for a in args])
    if name in ("upper", "lower", "trim", "strlen"):
        if len(args) != 1:
            raise QuerySyntaxError(f"{name}() takes 1 arg")
        x = opnd(args[0]).cast("string")
        return {"upper": lambda: F.upper(x), "lower": lambda: F.lower(x),
                "trim": lambda: F.trim(x),
                "strlen": lambda: F.length(x)}[name]()
    if name == "substring":
        # Solr's substring(field, start, end): 0-based, end-exclusive
        # (Java String.substring) — Spark's substr is 1-based by length
        if len(args) != 3:
            raise QuerySyntaxError("substring() takes (field, start, end)")
        try:
            start_i, end_i = int(args[1]), int(args[2])
        except (TypeError, ValueError):
            raise QuerySyntaxError(
                "substring() start/end must be integer literals"
            ) from None
        if start_i < 0 or end_i < start_i:
            raise QuerySyntaxError(
                "substring() needs 0 <= start <= end"
            )
        return F.substring(
            opnd(args[0]).cast("string"), start_i + 1, end_i - start_i
        )
    if name == "if":
        if len(args) != 3:
            raise QuerySyntaxError("if() takes 3 args (cond, then, else)")
        return F.when(_eval_call(args[0]) if isinstance(args[0], Call)
                      else opnd(args[0]).cast("boolean"),
                      opnd(args[1])).otherwise(opnd(args[2]))
    # and / or
    if len(args) < 2:
        raise QuerySyntaxError(f"{name}() takes >=2 args")
    out = opnd(args[0])
    for a in args[1:]:
        out = out & opnd(a) if name == "and" else out | opnd(a)
    return out


def _operand(a) -> F.Column:
    if isinstance(a, Call):  # a metric name used as a column: count(*)
        _c, name = _metric_col(a)
        return F.col(f"`{name}`")
    if isinstance(a, Quoted):  # a quoted literal: eq(dept, "eng")
        return F.lit(str(a))
    try:
        return F.lit(float(a))
    except (TypeError, ValueError):
        return F.col(f"`{a}`") if any(ch in a for ch in "()*") else F.col(a)


class StreamCompiler:
    """Compiles parsed streaming expressions against a set of named
    sources.  ``sources`` maps collection name -> ``SearchIndex`` (gets
    Bloom-pruned ``q=`` scans) or plain ``DataFrame`` (``q`` limited to
    ``*:*``).  ``run()`` returns the stream as a DataFrame with the
    stream's final sort applied."""

    def __init__(
        self,
        sources: "Mapping[str, object]",
        checkpoint_dir: str | None = None,
        destinations: "Mapping[str, tuple] | None" = None,
    ):
        self.sources = dict(sources)
        self.checkpoint_dir = checkpoint_dir
        # update()'s write targets: name -> (IndexJob, artifact path)
        self.destinations = dict(destinations or {})
        # topic() pulls pending their watermark commit (at-least-once:
        # the caller processes the batch, then commit_topics())
        self._pending_topics: list = []
        # drill()'s input() binding stack (nested drills each see their
        # own collection scan)
        self._drill_inputs: list = []

    # -- public -------------------------------------------------------
    def run(self, expr: str) -> DataFrame:
        # topic() registers its (topic, watermark) while the expression
        # is still compiling: roll the registrations back on a compile
        # failure, or a later commit_topics() would advance the stale
        # checkpoint past documents that were never returned (silent
        # skip — a permanent at-least-once violation)
        mark = len(self._pending_topics)
        try:
            df, sort = self._compile(parse_stream_expr(expr))
        except Exception:
            del self._pending_topics[mark:]
            raise
        return df.orderBy(*_order_cols(sort)) if sort else df

    def commit_topics(self) -> None:
        """Advance every topic() checkpoint pulled since the last commit
        — call AFTER processing the batches (Solr's topic contract:
        crashing before commit re-delivers, never loses)."""
        pending, self._pending_topics = self._pending_topics, []
        for topic, wm in pending:
            topic.commit(wm)

    # -- dispatch -----------------------------------------------------
    def _compile(self, node: Call):
        fn = getattr(self, f"_c_{node.name}", None)
        if fn is None:
            raise QuerySyntaxError(
                f"unknown stream decorator {node.name!r}; supported: "
                "search, select, rollup, facet, unique, top, sort, "
                "having, innerJoin, leftOuterJoin, hashJoin, merge, "
                "fetch, intersect, complement, stats, cartesianProduct, "
                "timeseries, significantTerms, nodes, shortestPath, "
                "echo, tuple, random, facet2D, parallel, topic, update, "
                "daemon, list, plist, null, knnSearch, commit, features, "
                "train, model, classify, scoreNodes, let, reduce, "
                "shuffle, outerHashJoin, drill"
            )
        return fn(node)

    def _stream_arg(self, node: Call, i: int = 0):
        subs = [a for a in node.args if isinstance(a, Call)
                and a.name not in _METRICS and a.name not in _EVALUATORS]
        if len(subs) <= i:
            raise QuerySyntaxError(f"{node.name}() needs a stream argument")
        return self._compile(subs[i])

    def _session(self) -> SparkSession:
        """The session literal leaf streams (echo/tuple) create rows on:
        any registered source's session, else the active one — loud when
        neither exists."""
        for src in self.sources.values():
            if isinstance(src, DataFrame):
                return src.sparkSession
            if hasattr(src, "spark"):
                return src.spark
        s = SparkSession.getActiveSession()
        if s is None:
            raise QuerySyntaxError(
                "echo()/tuple() need an active SparkSession or at least "
                "one registered collection"
            )
        return s

    def _source(self, name: str):
        if name not in self.sources:
            raise QuerySyntaxError(
                f"unknown collection {name!r}; have {sorted(self.sources)}"
            )
        return self.sources[name]

    # -- leaves -------------------------------------------------------
    def _collection_scan(self, node: Call) -> DataFrame:
        """THE one q/fq resolution for every collection-source decorator
        (search/facet/stats/timeseries/significantTerms): args[0] names
        the collection; a SearchIndex source gets the Bloom-pruned
        compiled ``q=`` scan plus one filter per ``fq=``; a plain
        DataFrame source accepts only ``q="*:*"`` and no ``fq`` — a
        filter that cannot run is an ERROR, never silently unapplied."""
        if not node.args or isinstance(node.args[0], Call):
            raise QuerySyntaxError(
                f"{node.name}() needs a collection name first"
            )
        now_kw = node.kwargs.get("now")
        if now_kw is not None:
            # Solr's NOW= request param: pin date math (NOW-7DAYS/DAY in
            # q/fq range bounds) for this node's compile — predicates
            # capture their literals eagerly, so the context is enough
            from solr_map_reduce_spark.functions.datemath import (
                fixed_now,
                parse_now_param,
            )

            with fixed_now(parse_now_param(now_kw)):
                clean = Call(node.name, list(node.args),
                             {k: v for k, v in node.kwargs.items()
                              if k != "now"}, node.alias)
                return self._collection_scan(clean)
        src = self._source(node.args[0])
        q = node.kwargs.get("q", "*:*")
        fqs = node.kwargs.get("fq")
        fqs = [] if fqs is None else (fqs if isinstance(fqs, list) else [fqs])
        if isinstance(src, DataFrame):
            if q != "*:*" or fqs:
                raise QuerySyntaxError(
                    f"{node.name}(q=/fq=...) over a plain table source "
                    "supports only q=\"*:*\" and no fq; register a "
                    "SearchIndex for query pushdown"
                )
            return src
        if hasattr(src, "_alias_scan"):  # MultiIndex collection alias
            if fqs:
                raise QuerySyntaxError(
                    f"{node.name}(fq=...) over a collection alias is not "
                    "supported; fold the filter into q="
                )
            return src._alias_scan(q, None, None) if q != "*:*" else src.df()
        df = src._query_scan(q) if q != "*:*" else src.df()
        for fq in fqs:
            pred, _info, _f = src._compile_predicate(fq)
            df = df.filter(pred)
        return df

    def _c_search(self, node: Call):
        df = self._collection_scan(node)
        if "fl" in node.kwargs:
            df = df.select(*[c.strip() for c in node.kwargs["fl"].split(",")])
        sort = _sort_spec(node.kwargs["sort"]) if "sort" in node.kwargs else None
        return df, sort

    # -- decorators ---------------------------------------------------
    def _c_echo(self, node: Call):
        # Solr echo("text"): one tuple {echo: text} — the trivial leaf
        # stream used to smoke-test expression plumbing
        if len(node.args) != 1 or isinstance(node.args[0], Call):
            raise QuerySyntaxError('echo() takes one text arg')
        return local_frame(
            self._session(), [(node.args[0],)], "echo string"
        ), None

    def _c_tuple(self, node: Call):
        # Solr tuple(k=v, ...): a single literal tuple — numeric values
        # become doubles, everything else strings
        if not node.kwargs:
            raise QuerySyntaxError("tuple() needs key=value args")
        vals, fields = [], []
        for k, v in node.kwargs.items():
            if isinstance(v, Call):
                raise QuerySyntaxError("tuple() values must be literals")
            try:
                vals.append(float(v))
                fields.append(f"{k} double")
            except ValueError:
                vals.append(v)
                fields.append(f"{k} string")
        return local_frame(
            self._session(), [tuple(vals)], ", ".join(fields)
        ), None

    def _c_select(self, node: Call):
        df, sort = self._stream_arg(node)
        cols = []
        for i, a in enumerate(node.args):
            if isinstance(a, Call):
                if i == 0:
                    continue  # the stream argument itself
                # a stream EVALUATOR: add(a,b) as total — Solr requires
                # the alias, and so do we (the expression has no name)
                if a.alias is None:
                    raise QuerySyntaxError(
                        f"select evaluator {a.name}(...) needs 'as <name>'"
                    )
                cols.append(_eval_call(a).alias(a.alias))
            elif " as " in a:
                src_c, alias = a.split(" as ", 1)
                cols.append(F.col(src_c.strip()).alias(alias.strip()))
            else:
                cols.append(F.col(a.strip()))
        if not cols:
            raise QuerySyntaxError("select() needs field args")
        return df.select(*cols), None

    def _agg(self, node: Call, keys: list[str], df: DataFrame):
        metrics = [a for a in node.args
                   if isinstance(a, Call) and a.name in _METRICS]
        if not metrics:
            raise QuerySyntaxError(f"{node.name}() needs metric args")
        aggs = []
        for m in metrics:
            col, name = _metric_col(m)
            aggs.append(col.alias(name))
        return df.groupBy(*keys).agg(*aggs)

    def _c_rollup(self, node: Call):
        df, _sort = self._stream_arg(node)
        over = node.kwargs.get("over")
        if not over:
            raise QuerySyntaxError("rollup() needs over=")
        keys = [c.strip() for c in over.split(",")]
        # Solr's rollup is a single pass over the sorted stream; the
        # groupBy is Spark's partial-agg shuffle — same tuples, no
        # pre-sort requirement
        return self._agg(node, keys, df), [(k, "asc") for k in keys]

    def _c_facet(self, node: Call):
        df = self._collection_scan(node)
        buckets = node.kwargs.get("buckets")
        if not buckets:
            raise QuerySyntaxError("facet() needs buckets=")
        keys = [c.strip() for c in buckets.split(",")]
        out = self._agg(node, keys, df)
        if "bucketSorts" in node.kwargs:
            sort = _sort_spec(node.kwargs["bucketSorts"])
        else:
            # Solr's documented default bucketSorts is "count(*) desc";
            # when count(*) isn't among the metrics fall back to bucket
            # keys asc.  Either way the sort is ALWAYS defined, so a
            # bucketSizeLimit truncation is deterministic — never an
            # arbitrary subset of an unordered aggregate.  Bucket keys
            # tie-break the default so equal counts are stable too.
            if "count(*)" in out.columns:
                sort = [("count(*)", "desc")] + [(k, "asc") for k in keys]
            else:
                sort = [(k, "asc") for k in keys]
        lim = node.kwargs.get("bucketSizeLimit")
        if lim is not None:
            out = out.orderBy(*_order_cols(sort)).limit(int(lim))
        return out, sort

    def _c_facet2D(self, node: Call):  # noqa: N802 (Solr camelCase)
        """Solr facet2D(collection, q=, x=, y=, dimensions="dx,dy",
        metric): top-``dx`` x-buckets (by total count, Solr's default
        bucket sort, bucket value tiebreak), and within each the
        top-``dy`` y-buckets (by count desc, y asc).  One groupBy over
        the (query-scoped) scan computes every cell; the x ranking
        re-aggregates the CELL table (tiny), the top-x key set
        broadcasts back, and the per-x truncation is a window over
        cells — the corpus shuffles once."""
        df = self._collection_scan(node)
        x, y = node.kwargs.get("x"), node.kwargs.get("y")
        if not x or not y:
            raise QuerySyntaxError("facet2D() needs x= and y=")
        dims = node.kwargs.get("dimensions", "10,10")
        try:
            dx, dy = (int(p) for p in dims.split(","))
        except ValueError:
            raise QuerySyntaxError(
                f'facet2D dimensions must be "dx,dy", got {dims!r}'
            ) from None
        metrics = [a for a in node.args
                   if isinstance(a, Call) and a.name in _METRICS]
        aggs = [F.count(F.lit(1)).alias("_cnt")]
        names = []
        for m in metrics:
            col, name = _metric_col(m)
            if name != "count(*)":
                aggs.append(col.alias(name))
            names.append(name)
        if not names:
            names = ["count(*)"]
        cells = df.groupBy(x, y).agg(*aggs)
        top_x = (
            cells.groupBy(x)
            .agg(F.sum("_cnt").alias("_xcnt"))
            .orderBy(F.desc("_xcnt"), F.asc(x))
            .limit(dx)
            .select(x)
        )
        w = Window.partitionBy(x).orderBy(F.desc("_cnt"), F.asc(y))
        ranked = (
            cells.join(F.broadcast(top_x), on=x)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= dy)
        )
        out_cols = [F.col(x), F.col(y)]
        for name in names:
            src_c = "_cnt" if name == "count(*)" else f"`{name}`"
            out_cols.append(F.col(src_c).alias(name))
        return ranked.select(*out_cols), [(x, "asc"), (y, "asc")]

    def _c_unique(self, node: Call):
        df, sort = self._stream_arg(node)
        over = node.kwargs.get("over")
        if not over:
            raise QuerySyntaxError("unique() needs over=")
        keys = [c.strip() for c in over.split(",")]
        # Solr: first tuple per key in the stream's sort order — which
        # requires the stream be sorted; an untracked sort would order
        # the window by the partition keys themselves (every row ties),
        # making WHICH tuple survives nondeterministic between runs —
        # loud beats silently-unstable
        if not sort:
            raise QuerySyntaxError(
                "unique() needs a sorted input stream (Solr's contract: "
                "the FIRST tuple per over= key in sort order) — wrap the "
                "input in sort(...) or give search(...) a sort= param"
            )
        order = _order_cols(sort)
        w = Window.partitionBy(*keys).orderBy(*order)
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        ), sort

    def _c_top(self, node: Call):
        df, _sort = self._stream_arg(node)
        if "sort" not in node.kwargs or "n" not in node.kwargs:
            raise QuerySyntaxError("top() needs n= and sort=")
        sort = _sort_spec(node.kwargs["sort"])
        return df.orderBy(*_order_cols(sort)).limit(int(node.kwargs["n"])), sort

    def _c_sort(self, node: Call):
        df, _old = self._stream_arg(node)
        if "by" not in node.kwargs:
            raise QuerySyntaxError("sort() needs by=")
        return df, _sort_spec(node.kwargs["by"])

    def _c_having(self, node: Call):
        df, sort = self._stream_arg(node)
        bools = [a for a in node.args
                 if isinstance(a, Call) and a.name not in _METRICS
                 and a.name in (*_BOOL_CMP, "and", "or", "not",
                                "isNull", "notNull")]
        if len(bools) != 1:
            raise QuerySyntaxError("having() needs exactly one boolean arg")
        return df.filter(_bool_col(bools[0])), sort

    def _join_pairs(self, node: Call) -> list[tuple[str, str]]:
        on = node.kwargs.get("on")
        if not on:
            raise QuerySyntaxError(f"{node.name}() needs on=")
        pairs = []
        for part in on.split(","):
            if "=" in part:
                l, r = part.split("=", 1)
                pairs.append((l.strip(), r.strip()))
            else:
                pairs.append((part.strip(), part.strip()))
        return pairs

    def _equi_join(self, node: Call, how: str, broadcast_right: bool):
        left, lsort = self._stream_arg(node, 0)
        if node.name in ("hashJoin", "outerHashJoin"):
            hashed = node.kwargs.get("hashed")
            if hashed is None:
                raise QuerySyntaxError(
                    f"{node.name}() needs hashed=<stream>"
                )
            right, _rs = self._compile(parse_stream_expr(hashed)) \
                if isinstance(hashed, str) else self._compile(hashed)
        else:
            right, _rs = self._stream_arg(node, 1)
        pairs = self._join_pairs(node)
        if broadcast_right:
            right = F.broadcast(right)
        cond = None
        for l, r in pairs:
            c = left[l] == right[r]
            cond = c if cond is None else cond & c
        joined = left.join(right, cond, how)
        # merged tuple: left's fields win on a name clash (one output
        # column per name; right join keys drop — they equal left's)
        rkeys = {r for _l, r in pairs}
        keep = [left[c] for c in left.columns]
        keep += [right[c] for c in right.columns
                 if c not in set(left.columns) and c not in rkeys]
        return joined.select(*keep), lsort

    def _c_innerJoin(self, node: Call):  # noqa: N802 (Solr camelCase)
        return self._equi_join(node, "inner", broadcast_right=False)

    def _c_leftOuterJoin(self, node: Call):  # noqa: N802
        return self._equi_join(node, "left", broadcast_right=False)

    def _c_hashJoin(self, node: Call):  # noqa: N802
        # the hashed side is Solr's fits-in-memory side == broadcast
        return self._equi_join(node, "inner", broadcast_right=True)

    def _c_drill(self, node: Call):
        """Solr drill(collection, q=, fl=, sort=, <expr over input()>):
        Solr 8's pushed-down aggregation — each shard runs the inner
        expression over its local sorted /export stream (``input()``),
        the coordinator re-aggregates partials.  Spark parity: bind
        ``input()`` to the (Bloom-pruned) collection scan and compile
        the inner expression over it — a rollup() inner IS the
        partial-agg + final-agg shuffle drill hand-builds in Solr, so
        the plan is the pushed-down one by construction (map-side
        combine on every groupBy)."""
        subs = [a for a in node.args if isinstance(a, Call)
                and a.name not in _METRICS and a.name not in _EVALUATORS]
        if not subs:
            raise QuerySyntaxError(
                "drill() needs an inner expression over input()"
            )
        scan = self._collection_scan(node)
        if "fl" in node.kwargs:
            scan = scan.select(
                *[c.strip() for c in node.kwargs["fl"].split(",")]
            )
        self._drill_inputs.append(scan)
        try:
            return self._compile(subs[-1])
        finally:
            self._drill_inputs.pop()

    def _c_input(self, node: Call):
        if not self._drill_inputs:
            raise QuerySyntaxError(
                "input() is only valid inside drill()'s inner expression"
            )
        return self._drill_inputs[-1], None

    def _c_outerHashJoin(self, node: Call):  # noqa: N802 (Solr camelCase)
        # Solr outerHashJoin(): leftOuterJoin with the hashed= side
        # broadcast (the fits-in-memory side) — left rows always survive
        return self._equi_join(node, "left", broadcast_right=True)

    def _c_shuffle(self, node: Call):
        """Solr shuffle(): identical request shape to search() but
        forced through the /export handler (full sorted result set, no
        rows cap).  Spark parity is EXACT ALIASING: our search() is
        already a full scan-lineage with no implicit top-N — the
        sorted-export "worker shuffle" is what the engine does natively,
        so shuffle(c, q=, fl=, sort=) compiles to the same plan."""
        return self._c_search(node)

    def _c_reduce(self, node: Call):
        """Solr reduce(stream, by="f,...", group(sort="s desc", n=N)):
        one tuple per ``by`` group — the group's head tuple (first under
        the group sort) flattened, plus ``group``: the top-N member
        tuples as an array of structs (Solr's list-of-maps field,
        rendered relationally).

        Plan: ONE map-side-combined groupBy — members pack into a
        collect_list of structs, sorted and sliced to N inside the
        aggregate's finish expression (array_sort with a comparator +
        slice), so the shuffle carries at most the group's members and
        nothing is windowed over the whole stream.  N is the bound that
        keeps per-group state small; an unbounded group() (no n=) keeps
        every member — Solr's own contract — and is the caller's
        explicit choice."""
        stream, _s = self._stream_arg(node)
        by = node.kwargs.get("by")
        if not by:
            raise QuerySyntaxError('reduce() needs by="field[,field...]"')
        by_cols = [b.strip() for b in by.split(",")]
        groups = [a for a in node.args
                  if isinstance(a, Call) and a.name == "group"]
        if len(groups) != 1:
            raise QuerySyntaxError(
                "reduce() needs exactly one group(sort=..., n=...) "
                "operation"
            )
        g = groups[0]
        sort = _sort_spec(g.kwargs.get("sort", ""))
        if not sort:
            raise QuerySyntaxError('group() needs sort="field asc|desc"')
        n = int(g.kwargs["n"]) if "n" in g.kwargs else None
        for c in by_cols + [s_[0] for s_ in sort]:
            if c not in stream.columns:
                raise QuerySyntaxError(
                    f"reduce(): field {c!r} not in the stream "
                    f"(columns: {stream.columns})"
                )
        payload = [c for c in stream.columns if c not in by_cols]
        packed = F.struct(*[F.col(c) for c in stream.columns])

        def _cmp(a, b):
            # lexicographic comparator over the group sort spec —
            # evaluated inside array_sort, so ordering happens on the
            # packed per-group array, never a global window
            expr = F.lit(0)
            for col_, dir_ in reversed(sort):
                lt = F.lit(-1) if dir_ == "asc" else F.lit(1)
                gt = F.lit(1) if dir_ == "asc" else F.lit(-1)
                expr = (
                    F.when(a[col_] < b[col_], lt)
                    .when(a[col_] > b[col_], gt)
                    .otherwise(expr)
                )
            return expr

        grouped = stream.groupBy(*by_cols).agg(
            F.collect_list(packed).alias("_members")
        )
        ordered = F.array_sort(F.col("_members"), _cmp)
        top = F.slice(ordered, 1, n) if n is not None else ordered
        head = F.element_at(ordered, 1)
        out = grouped.select(
            *by_cols,
            *[head[c].alias(c) for c in payload],
            F.transform(
                top,
                lambda m: F.struct(*[m[c].alias(c) for c in stream.columns]),
            ).alias("group"),
        )
        return out, [(b, "asc") for b in by_cols]

    def _c_merge(self, node: Call):
        subs = [a for a in node.args if isinstance(a, Call)]
        if len(subs) < 2:
            raise QuerySyntaxError("merge() needs >=2 streams")
        frames = [self._compile(sb)[0] for sb in subs]
        out = frames[0]
        for f_ in frames[1:]:
            out = out.unionByName(f_, allowMissingColumns=True)
        if "on" not in node.kwargs:
            raise QuerySyntaxError("merge() needs on= (the merge sort order)")
        return out, _sort_spec(node.kwargs["on"])

    def _c_intersect(self, node: Call):
        # Solr intersect: LEFT tuples whose key appears in RIGHT — a
        # left-semi join (never materializes right columns)
        left, lsort = self._stream_arg(node, 0)
        right, _rs = self._stream_arg(node, 1)
        pairs = self._join_pairs(node)
        cond = None
        for l, r in pairs:
            c = left[l] == right[r]
            cond = c if cond is None else cond & c
        return left.join(right, cond, "left_semi"), lsort

    def _c_complement(self, node: Call):
        # Solr complement: LEFT tuples whose key does NOT appear in
        # RIGHT — a left-anti join
        left, lsort = self._stream_arg(node, 0)
        right, _rs = self._stream_arg(node, 1)
        pairs = self._join_pairs(node)
        cond = None
        for l, r in pairs:
            c = left[l] == right[r]
            cond = c if cond is None else cond & c
        return left.join(right, cond, "left_anti"), lsort

    def _c_stats(self, node: Call):
        # Solr stats(): the metrics over the whole query result — one
        # global (map-side-combined) aggregate row
        df = self._collection_scan(node)
        metrics = [a for a in node.args
                   if isinstance(a, Call) and a.name in _METRICS]
        if not metrics:
            raise QuerySyntaxError("stats() needs metric args")
        aggs = []
        for m in metrics:
            col, name = _metric_col(m)
            aggs.append(col.alias(name))
        return df.agg(*aggs), None

    def _c_cartesianProduct(self, node: Call):  # noqa: N802
        # Solr cartesianProduct: one output tuple per VALUE of a
        # multi-valued field — exactly explode_outer
        df, sort = self._stream_arg(node)
        flds = [a for a in node.args if not isinstance(a, Call)]
        if len(flds) != 1:
            raise QuerySyntaxError(
                "cartesianProduct() takes one multi-valued field"
            )
        f_ = flds[0]
        return df.withColumn(f_, F.explode_outer(F.col(f"`{f_}`"))), sort

    def _c_timeseries(self, node: Call):
        """Solr timeseries(): metrics per fixed time bucket over the
        ``q``-matching docs.  ``gap`` accepts Solr date-math gaps
        ``+N UNIT`` for UNIT in SECOND/MINUTE/HOUR/DAY/MONTH/YEAR (e.g.
        ``+1DAY``, ``+6HOURS``); ``start``/``end`` accept ISO-8601 or
        date math (``NOW-7DAYS/DAY``) with ``NOW`` pinned by the
        ``now=`` param (Solr's NOW= request param: epoch millis or ISO).

        Bucketing follows Solr's range-facet contract — buckets are
        ANCHORED AT ``start`` (``[start + k*gap, start + (k+1)*gap)``),
        not calendar-truncated.  Fixed-width gaps bucket by pure epoch
        arithmetic (timezone-independent by construction: the instant's
        epoch, never a session-zone rendering — UTC edges regardless of
        driver timezone, per Solr's UTC-only date semantics); month/year
        gaps use calendar month-index arithmetic, which extracts
        year/month and therefore REQUIRES the engine's UTC session pin —
        asserted loudly, and the start must be month-aligned.  Without
        ``start``/``end`` a single-unit gap falls back to date_trunc
        calendar buckets over the whole scan (the scan-wide shape with
        no anchor to honor).  Either way: one groupBy over the
        (query-scoped, boundary-pruned) scan, same shape as facet.range."""
        from solr_map_reduce_spark.functions.datemath import (
            DateMathError,
            add_months,
            parse_datemath,
            parse_gap,
            parse_now_param,
            resolve_now,
            utc_epoch,
        )

        df = self._collection_scan(node)
        fld = node.kwargs.get("field")
        gap = node.kwargs.get("gap", "+1DAY")
        if not fld:
            raise QuerySyntaxError("timeseries() needs field=")
        try:
            n, unit = parse_gap(gap, where="timeseries gap")
        except DateMathError as e:
            raise QuerySyntaxError(f"unsupported gap {gap!r}: {e}") from None
        now_kw = node.kwargs.get("now")
        now = parse_now_param(now_kw) if now_kw is not None else resolve_now()
        start_s = node.kwargs.get("start")
        end_s = node.kwargs.get("end")

        def _bound(raw, which):
            try:
                return parse_datemath(raw, now=now, where=f"timeseries {which}")
            except DateMathError as e:
                raise QuerySyntaxError(str(e)) from None

        metrics = [a for a in node.args
                   if isinstance(a, Call) and a.name in _METRICS]
        if not metrics:
            raise QuerySyntaxError("timeseries() needs metric args")
        aggs = []
        for mt in metrics:
            col, name = _metric_col(mt)
            aggs.append(col.alias(name))

        if start_s is None:
            # no anchor: single-unit calendar buckets over the whole scan
            if n != 1 or unit not in ("HOUR", "DAY", "MONTH", "YEAR"):
                raise QuerySyntaxError(
                    f"timeseries gap {gap!r} needs start= (multi-unit "
                    "buckets are anchored at start, per Solr's range "
                    "contract)"
                )
            # date_trunc truncates in the SESSION timezone — the same
            # UTC guard the anchored month/year path enforces applies
            # here too (Solr dates are UTC-only; a non-UTC session would
            # silently shift every bucket edge by the zone offset)
            spark = df.sparkSession
            tz = spark.conf.get("spark.sql.session.timeZone", "")
            if tz.upper() not in ("UTC", "ETC/UTC", "GMT", "Z", "+00:00"):
                raise QuerySyntaxError(
                    "timeseries calendar bucketing truncates in the "
                    "session timezone and requires "
                    "spark.sql.session.timeZone=UTC (Solr dates are "
                    f"UTC-only); session has {tz!r}"
                )
            if end_s is not None:
                df = df.filter(F.col(fld) < F.lit(_bound(end_s, "end")))
            bucket = F.date_trunc(unit.lower(), F.col(fld)).alias(fld)
            return df.groupBy(bucket).agg(*aggs), [(fld, "asc")]

        start = _bound(start_s, "start")
        if end_s is None:
            raise QuerySyntaxError("timeseries() with start= needs end=")
        end = _bound(end_s, "end")
        if unit in ("MONTH", "YEAR"):
            months = n * (12 if unit == "YEAR" else 1)
            if (start.day, start.hour, start.minute, start.second,
                    start.microsecond) != (1, 0, 0, 0, 0):
                raise QuerySyntaxError(
                    f"timeseries month/year gaps need a month-aligned "
                    f"start (got {start.isoformat()})"
                )
            spark = df.sparkSession
            tz = spark.conf.get("spark.sql.session.timeZone", "")
            if tz.upper() not in ("UTC", "ETC/UTC", "GMT", "Z", "+00:00"):
                raise QuerySyntaxError(
                    "timeseries month/year bucketing extracts calendar "
                    "fields and requires spark.sql.session.timeZone=UTC "
                    f"(Solr dates are UTC-only); session has {tz!r}"
                )
            df = df.filter(
                (F.col(fld) >= F.lit(start)) & (F.col(fld) < F.lit(end))
            )
            start_mi = start.year * 12 + (start.month - 1)
            midx = (F.year(fld) * 12 + F.month(fld) - 1) - F.lit(start_mi)
            k = F.floor(midx / months).cast("int")
            # bucket start = start + k*months (k*months month steps from a
            # month-aligned anchor; add_months per-row via a small CASE-free
            # expression: make_timestamp from the shifted index)
            total = F.lit(start_mi) + k * months
            bucket = F.make_timestamp(
                F.floor(total / 12).cast("int"),
                (total % 12 + 1).cast("int"),
                F.lit(1), F.lit(0), F.lit(0), F.lit(0),
            ).alias(fld)
            return df.groupBy(bucket).agg(*aggs), [(fld, "asc")]
        # fixed-width gap: anchored epoch arithmetic, tz-independent
        secs = n * {"SECOND": 1, "MINUTE": 60, "HOUR": 3600, "DAY": 86400}[unit]
        s_ep, e_ep = utc_epoch(start), utc_epoch(end)
        ep = F.col(fld).cast("long")
        df = df.filter(
            (F.col(fld) >= F.timestamp_seconds(F.lit(s_ep)))
            & (F.col(fld) < F.timestamp_seconds(F.lit(e_ep)))
        )
        bucket = F.timestamp_seconds(
            F.lit(s_ep) + F.floor((ep - F.lit(s_ep)) / secs) * secs
        ).alias(fld)
        return df.groupBy(bucket).agg(*aggs), [(fld, "asc")]

    def _c_shortestPath(self, node: Call):  # noqa: N802
        """Solr shortestPath(): all SHORTEST paths between two node ids
        over an edge collection (each doc one edge,
        ``edge="fromField=toField"``), bounded by ``maxDepth``
        (Solr's default 4).  Level-synchronous BFS: each level is one
        distributed join frontier×edges (cycle-pruned, deduped,
        lineage-cut with localCheckpoint); the driver only tests
        level-reached — the per-level barrier IS breadth-first search's
        semantics, same shape as the IVF trainer's iterations.  Returns
        ``path`` tuples (array of node ids, from AND to inclusive);
        empty result when no path within maxDepth."""
        if not node.args or isinstance(node.args[0], Call):
            raise QuerySyntaxError("shortestPath() needs a collection name")
        src = self._source(node.args[0])
        base = src if isinstance(src, DataFrame) else src.df()
        frm, to = node.kwargs.get("from"), node.kwargs.get("to")
        edge = node.kwargs.get("edge")
        depth = int(node.kwargs.get("maxDepth", 4))
        if not frm or not to or not edge or "=" not in edge:
            raise QuerySyntaxError(
                'shortestPath() needs from=, to=, edge="fromField=toField"'
            )
        f1, f2 = (p.strip() for p in edge.split("=", 1))
        edges = (
            base.select(
                F.col(f1).cast("string").alias("_src"),
                F.col(f2).cast("string").alias("_dst"),
            )
            .filter(F.col("_src").isNotNull() & F.col("_dst").isNotNull())
            .distinct()
        )
        spark = base.sparkSession
        frontier = local_frame(
            spark, [(frm, [frm])], "node string, path array<string>"
        )
        empty = local_frame(spark, [], "path array<string>")
        if frm == to:
            return frontier.select("path"), None
        for _level in range(depth):
            stepped = (
                frontier.join(edges, frontier.node == edges._src)
                .filter(~F.array_contains(frontier.path, edges._dst))
                .select(
                    edges._dst.alias("node"),
                    F.concat(frontier.path, F.array(edges._dst)).alias("path"),
                )
                .distinct()
                .localCheckpoint(eager=False)
            )
            hits = stepped.filter(F.col("node") == to).select("path")
            if hits.limit(1).count():  # level reached: these ARE shortest
                return hits, None
            frontier = stepped
        return empty, None

    def _c_nodes(self, node: Call):
        """Solr nodes()/gatherNodes: ONE breadth-first hop — from the
        incoming stream's ``walk`` source values, find docs in the
        collection whose walk-destination field matches, and emit the
        distinct ``gather`` field values as ``node`` (nest nodes()
        calls for multi-hop, Solr's own composition).  Optional metric
        args (count(*), sum(x)...) aggregate per gathered node instead
        of deduping.

        Plan: the frontier (distinct walk values) semi-joins the
        collection scan — AQE broadcasts small frontiers; per-hop cost
        scales with the frontier's matches, not the collection."""
        if not node.args or isinstance(node.args[0], Call):
            raise QuerySyntaxError("nodes() needs a collection name first")
        src = self._source(node.args[0])
        base = src if isinstance(src, DataFrame) else src.df()
        stream, _sort = self._stream_arg(node)
        walk = node.kwargs.get("walk")
        gather = node.kwargs.get("gather")
        if not walk or "->" not in walk:
            raise QuerySyntaxError('nodes() needs walk="srcCol->destField"')
        if not gather:
            raise QuerySyntaxError("nodes() needs gather=<field>")
        src_col, dest_f = (p.strip() for p in walk.split("->", 1))
        frontier = (
            stream.select(F.col(src_col).alias(dest_f))
            .filter(F.col(dest_f).isNotNull())
            .distinct()
        )
        matched = base.join(frontier, on=dest_f, how="left_semi")
        metrics = [a for a in node.args
                   if isinstance(a, Call) and a.name in _METRICS]
        if metrics:
            aggs = []
            for m in metrics:
                col, name = _metric_col(m)
                aggs.append(col.alias(name))
            out = (
                matched.groupBy(F.col(gather).alias("node")).agg(*aggs)
            )
        else:
            out = matched.select(F.col(gather).alias("node")).distinct()
        return out, [("node", "asc")]

    def _c_significantTerms(self, node: Call):  # noqa: N802
        """Solr significantTerms(): terms over-represented in the
        FOREGROUND set (docs matching ``q``) relative to the whole
        collection.  Our score is the classic LIFT —
        ``(fg_df/fg_docs) / (bg_df/n_docs)`` — times ``ln(1+fg_df)``
        (so one-doc flukes don't top the list); Solr's own scorer is a
        different (undocumented-constant) blend, so the FORMULA here is
        ours and pinned by the oracle, while the request shape
        (q/field/limit/minDocFreq/maxDocFreq) is Solr's.

        Plan: ONE pass over the (Bloom-pruned) query scan — a rollup
        over the exploded (doc, distinct-term) pairs produces the
        per-term foreground counts and the foreground doc count in the
        same aggregation (grand-total row, broadcast back as a 1-row
        crossJoin), so compiling the expression runs no eager driver
        action; the background dfs come from the stored term dictionary
        when the artifact has one (a KB-scale sidecar read, no corpus
        pass) — the same two-sided shape at any scale, joined on the
        term key."""
        if not node.args or isinstance(node.args[0], Call):
            raise QuerySyntaxError(
                "significantTerms() needs a collection name first"
            )
        src = self._source(node.args[0])
        if isinstance(src, DataFrame):
            raise QuerySyntaxError(
                "significantTerms() needs a SearchIndex source (stored "
                "term dictionary + analyzed tokens)"
            )
        field = node.kwargs.get("field")
        limit = int(node.kwargs.get("limit", 20))
        min_df = int(node.kwargs.get("minDocFreq", 5))
        max_df = node.kwargs.get("maxDocFreq")
        fg = self._collection_scan(node)  # q= and fq= both honored
        tc = src._tokens_col(field)
        # ONE pass over the foreground scan: a rollup over the exploded
        # (doc, distinct-term) pairs yields the per-term doc frequencies
        # (grouping_id 0) AND the foreground doc count (the grand-total
        # row, grouping_id 1, via count distinct doc) in the same
        # aggregation — no separate fg.count() driver action, and the
        # shared shuffle is computed once (ReusedExchange).  explode_outer
        # keeps token-less docs in the doc count.
        exploded = fg.select(
            F.col(src.unique_key).alias("_doc"),
            F.explode_outer(F.array_distinct(src._real_toks(tc))).alias("term"),
        )
        agg = exploded.rollup("term").agg(
            F.count(F.lit(1)).alias("foreground"),
            F.countDistinct("_doc").alias("_docs"),
            F.grouping_id().alias("_gid"),
        )
        fg_docs_row = agg.filter(F.col("_gid") == 1).select(
            F.col("_docs").cast("double").alias("_fg_docs")
        )
        fg_terms = agg.filter(
            (F.col("_gid") == 0) & F.col("term").isNotNull()
        ).select("term", "foreground")
        # n_docs: summed driver-side from the parquet footers, so compile
        # stays free of eager scans
        n_docs = F.lit(float(src.count()))
        _fname, bg = src._term_dictionary(field)  # (term, df)
        bg = bg.withColumnRenamed("df", "background")
        joined = fg_terms.join(bg, on="term")
        joined = joined.filter(F.col("background") >= min_df)
        if max_df is not None:
            joined = joined.filter(F.col("background") <= int(max_df))
        joined = joined.crossJoin(F.broadcast(fg_docs_row))
        lift = (F.col("foreground") / F.col("_fg_docs")) / (
            F.col("background") / n_docs
        )
        out = (
            joined.select(
                "term", "foreground", "background",
                (lift * F.log(F.lit(1.0) + F.col("foreground")))
                .alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("term"))
            .limit(limit)
        )
        return out, [("score", "desc"), ("term", "asc")]

    def _c_parallel(self, node: Call):
        """Solr parallel(collection, stream, workers=N, sort=...): ships
        the wrapped stream to N workers and merges by ``sort``.  Spark
        executes EVERY compiled stream distributed already, so this is a
        compatibility pass-through: the inner stream compiles unchanged
        (its partitioning is the parallelism), ``workers`` is validated
        and otherwise ignored, and ``sort`` (when given) becomes the
        stream's final order exactly as Solr's merging contract
        requires.  Accepting the decorator keeps Solr /stream
        expressions drop-in runnable."""
        workers = node.kwargs.get("workers")
        if workers is not None and not str(workers).isdigit():
            raise QuerySyntaxError(
                f"parallel() workers must be an int, got {workers!r}"
            )
        df, sort = self._stream_arg(node)
        if "sort" in node.kwargs:
            sort = _sort_spec(node.kwargs["sort"])
        return df, sort

    def _c_random(self, node: Call):
        """Solr random(collection, q=, rows=, fl=): a pseudo-random
        subset of the query's result set.  Engine extension ``seed=``
        makes the draw DETERMINISTIC (and cross-engine reproducible):
        tuples order by ``md5(fl-values + seed)`` — a keyed scramble,
        the same trick hash-split uses — instead of ``rand()``.  Without
        a seed it is Solr's per-call randomness (``F.rand()``).  Either
        way: one scan + TakeOrdered, no full sort materialization."""
        df = self._collection_scan(node)
        rows = int(node.kwargs.get("rows", 500))
        if "fl" in node.kwargs:
            df = df.select(
                *[c.strip() for c in node.kwargs["fl"].split(",")]
            )
        seed = node.kwargs.get("seed")
        if seed is not None:
            h = F.md5(F.concat_ws(
                "\x1f",
                *[F.col(c).cast("string") for c in df.columns],
                F.lit(str(seed)),
            ))
            return df.orderBy(h).limit(rows), None
        return df.orderBy(F.rand()).limit(rows), None

    def _c_topic(self, node: Call):
        """Solr topic(checkpointCollection, collection, id=, q=, fl=):
        checkpointed incremental pull — each evaluation returns only docs
        whose ``_version_`` exceeds the checkpoint (a pushed parquet
        predicate over the Bloom-pruned scan, never a corpus rescan).
        The checkpoint lives at
        ``<checkpoint_dir>/<checkpointCollection>_<id>.json``; the pull's
        watermark is committed by :meth:`commit_topics` after the caller
        has processed the batch (at-least-once, Solr's contract —
        TopicStream likewise persists checkpoints to a collection)."""
        from solr_map_reduce_spark.index_reader import Topic

        if self.checkpoint_dir is None:
            raise QuerySyntaxError(
                "topic() needs a StreamCompiler(checkpoint_dir=...) to "
                "persist checkpoints"
            )
        names = [a for a in node.args if not isinstance(a, Call)]
        if len(names) != 2:
            raise QuerySyntaxError(
                "topic() needs (checkpointCollection, collection)"
            )
        ckpt_coll, coll = names
        src = self._source(coll)
        if isinstance(src, DataFrame) or not hasattr(src, "path"):
            raise QuerySyntaxError(
                "topic() needs a SearchIndex collection (a versioned "
                "artifact built with doc_versions=True)"
            )
        tid = node.kwargs.get("id")
        if not tid:
            raise QuerySyntaxError("topic() needs id= (the topic's name)")
        import os
        import re as _re2

        # both names become path components of the checkpoint file:
        # restrict to identifier-ish characters so expression text can
        # never traverse outside checkpoint_dir ('id=../../evil')
        for label, val in (("checkpointCollection", ckpt_coll), ("id", tid)):
            if not _re2.fullmatch(r"[A-Za-z0-9_.-]+", val) or ".." in val:
                raise QuerySyntaxError(
                    f"topic() {label}={val!r} must be a plain name "
                    "(letters, digits, '_', '-', '.')"
                )
        ckpt = os.path.join(self.checkpoint_dir, f"{ckpt_coll}_{tid}.json")
        topic = Topic(
            src.spark, src.path, ckpt, q=node.kwargs.get("q"),
        )
        batch, wm = topic.pull()
        self._pending_topics.append((topic, wm))
        if "fl" in node.kwargs:
            batch = batch.select(
                *[c.strip() for c in node.kwargs["fl"].split(",")]
            )
        return batch, None

    def _c_commit(self, node: Call):
        """Solr commit(destCollection, update(...), batchSize=/
        waitFlush=/waitSearcher=/softCommit=): in Solr this wraps an
        update stream and issues commits every batchSize tuples.  Our
        write path (merge_into) publishes ATOMICALLY when the wrapped
        update() evaluates — there is no separate uncommitted state —
        so commit() validates its shape and passes the wrapped stream
        through; the commit-cadence params are accepted and ignored
        (documented no-ops, like update()'s batchSize)."""
        names = [a for a in node.args if not isinstance(a, Call)]
        if len(names) != 1:
            raise QuerySyntaxError("commit() needs a destination name first")
        if names[0] not in self.destinations:
            raise QuerySyntaxError(
                f"unknown destination {names[0]!r}; have "
                f"{sorted(self.destinations)}"
            )
        return self._stream_arg(node)

    def _c_update(self, node: Call):
        """Solr update(destCollection, stream, batchSize=): index the
        stream's tuples into the destination and emit a one-tuple
        summary (``batchIndexed``) — evaluating the expression IS the
        write, exactly as reading Solr's UpdateStream pushes tuples.
        Destinations are registered as ``StreamCompiler(destinations=
        {name: (IndexJob, path)})``; the write is ``merge_into`` (only
        touched shards rewritten, O(batch) at any artifact size).
        ``batchSize`` is accepted and ignored — Spark batches the write
        itself."""
        names = [a for a in node.args if not isinstance(a, Call)]
        if len(names) != 1:
            raise QuerySyntaxError("update() needs a destination name first")
        dest = names[0]
        if dest not in self.destinations:
            raise QuerySyntaxError(
                f"unknown update() destination {dest!r}; register it via "
                "StreamCompiler(destinations={name: (IndexJob, path)})"
            )
        job, path = self.destinations[dest]
        stream, _sort = self._stream_arg(node)
        # the batch count rides the merge's own actions as an Observation
        # — no extra scan of the stream just to report batchIndexed
        from pyspark.sql import Observation

        obs = Observation()
        observed = stream.observe(
            obs, F.count(F.lit(1)).alias("batchIndexed")
        )
        job.merge_into(observed, path)
        try:
            n = int(obs.get["batchIndexed"])
        except Exception:
            # AQE's runtime empty-relation propagation can drop the
            # CollectMetrics node when the batch turns out empty (the
            # observed row comes back field-less); fall back to a direct
            # count — cheap exactly when the batch is tiny/empty
            n = stream.count()
        summary = local_frame(
            stream.sparkSession, [(n,)], "batchIndexed long"
        )
        return summary, None

    def _c_daemon(self, node: Call):
        """Solr daemon(id=, runInterval=, stream): wraps a stream (most
        often ``update(topic(...))``) for repeated execution.  Each
        ``run()`` of the expression is ONE daemon iteration — the
        engine's continuous surface is Structured Streaming
        (``streaming/ingest.py``), so the DSL maps the daemon's body,
        not its scheduler; ``id``/``runInterval`` are validated for
        request parity."""
        if not node.kwargs.get("id"):
            raise QuerySyntaxError("daemon() needs id=")
        interval = node.kwargs.get("runInterval")
        if interval is not None and not str(interval).isdigit():
            raise QuerySyntaxError(
                f"daemon() runInterval must be millis, got {interval!r}"
            )
        return self._stream_arg(node)

    def _c_fetch(self, node: Call):
        """Solr fetch(): enrich each stream tuple with ``fl`` fields from
        a collection by key — Solr batches point lookups for the stream's
        tuples against the (typically huge) collection.  The Spark shape
        mirrors that sidedness: broadcast the STREAM'S distinct keys (the
        bounded side) into a left-semi join that restricts the collection
        scan first, then left-join the restricted projection back.  The
        collection side is never broadcast and never a build side by
        hint — AQE picks the final join strategy from the restricted
        (post-semi-join) size.  Same frontier-semi-join shape as
        ``nodes()`` above."""
        if not node.args or isinstance(node.args[0], Call):
            raise QuerySyntaxError("fetch() needs a collection name first")
        src = self._source(node.args[0])
        base = src if isinstance(src, DataFrame) else src.df()
        stream, sort = self._stream_arg(node)
        pairs = self._join_pairs(node)
        fl = node.kwargs.get("fl")
        if not fl:
            raise QuerySyntaxError("fetch() needs fl= (fields to fetch)")
        fetch_cols = [c.strip() for c in fl.split(",")]
        rkeys = [r for _l, r in pairs]
        keys = stream.select(
            *[F.col(l).alias(f"_fk{i}") for i, (l, _r) in enumerate(pairs)]
        ).distinct()
        semi = None
        for i, (_l, r) in enumerate(pairs):
            c = base[r] == keys[f"_fk{i}"]
            semi = c if semi is None else semi & c
        restricted = base.join(F.broadcast(keys), semi, "left_semi")
        proj = restricted.select(*rkeys, *fetch_cols)
        # Solr FetchStream builds a key -> doc MAP: one fetched doc per
        # key, stream cardinality preserved.  A plain left join would
        # MULTIPLY stream tuples when the fetched collection holds
        # duplicate keys (silently inflating downstream rollups) — keep
        # one deterministic winner per key (first by the fetched
        # columns' natural order).
        w = Window.partitionBy(*[F.col(r) for r in rkeys]).orderBy(
            *[F.col(c) for c in fetch_cols]
        )
        proj = (
            proj.withColumn("_fetch_rn", F.row_number().over(w))
            .filter(F.col("_fetch_rn") == 1)
            .drop("_fetch_rn")
        )
        cond = None
        for l, r in pairs:
            c = stream[l] == proj[r]
            cond = c if cond is None else cond & c
        joined = stream.join(proj, cond, "left")
        keep = [stream[c] for c in stream.columns]
        keep += [proj[c] for c in fetch_cols if c not in set(stream.columns)]
        return joined.select(*keep), sort

    def _c_list(self, node: Call):
        """Solr list(): every wrapped stream's tuples — relationally a
        unionByName (missing columns null-filled, Solr's open tuple
        model).  Spark executes the inputs in parallel, so Solr list()'s
        cross-stream SEQUENCE is not an ordering guarantee here — wrap
        in sort()/merge(on=) for a deterministic order."""
        subs = [a for a in node.args if isinstance(a, Call)]
        if len(subs) < 2:
            raise QuerySyntaxError(f"{node.name}() needs >=2 streams")
        frames = [self._compile(sb)[0] for sb in subs]
        out = frames[0]
        for f_ in frames[1:]:
            out = out.unionByName(f_, allowMissingColumns=True)
        return out, None

    def _c_plist(self, node: Call):
        # Solr plist(): list() with the inputs opened in parallel and NO
        # ordering promise — in Spark the two are the SAME plan (every
        # input already runs in parallel), so plist is exact parity and
        # list shares it
        return self._c_list(node)

    def _c_null(self, node: Call):
        # Solr null(): consume the stream, emit ONE {nullCount} tuple —
        # the throughput-test sink.  The count aggregate executes the
        # full upstream plan distributed (nothing collected); Solr's
        # timer field is omitted (wall time is the caller's measurement,
        # not a tuple value a deterministic oracle could check)
        df, _s = self._stream_arg(node)
        return df.agg(F.count(F.lit(1)).alias("nullCount")), None

    def _c_knnSearch(self, node: Call):  # noqa: N802 (Solr camelCase)
        """Solr knnSearch(collection, id=, qf=, k=): text k-nearest via
        MoreLikeThis — the id= document's most distinctive terms (tf-idf
        against the stored term dictionary) fed to BM25, the source doc
        excluded.  Per-document operation: the lookup is shard-pruned,
        term selection touches |doc| terms, and the scored scan is the
        bounded BM25 top-k — never a corpus pairwise pass."""
        if not node.args or isinstance(node.args[0], Call):
            raise QuerySyntaxError("knnSearch() needs a collection name first")
        src = self._source(node.args[0])
        if isinstance(src, DataFrame):
            raise QuerySyntaxError(
                "knnSearch() needs a SearchIndex source (stored tokens + "
                "term dictionary)"
            )
        key = node.kwargs.get("id")
        if key is None:
            raise QuerySyntaxError("knnSearch() needs id= (the source doc)")
        k = int(node.kwargs.get("k", 10))
        mlt_kw = {}
        if "qf" in node.kwargs:
            mlt_kw["field"] = node.kwargs["qf"]
        if "mindf" in node.kwargs:
            mlt_kw["min_df"] = int(node.kwargs["mindf"])
        if "maxterms" in node.kwargs:
            mlt_kw["max_terms"] = int(node.kwargs["maxterms"])
        out = src.more_like_this(key, k=k, **mlt_kw)
        if "fl" in node.kwargs:
            out = out.select(
                *[c.strip() for c in node.kwargs["fl"].split(",")]
            )
        return out, None

    # -- math expressions (Solr let/col + numeric evaluators) -----------
    # Solr's math-expression tier runs DRIVER-SIDE by design: the /stream
    # handler materializes variables as in-memory arrays on one node and
    # evaluates numeric functions over them (ref guide "Math
    # Expressions").  Parity here keeps that execution model — col()
    # collects ONE column of a bounded stream — under a hard guard:
    # pulling more than ``math_max_values`` raises with a pointer at the
    # distributed stats()/rollup()/percentile paths, which are the right
    # tool at corpus scale.  Evaluation itself is numpy (vectorized,
    # never per-value Python loops).
    math_max_values = 1_000_000

    def _c_let(self, node: Call):
        """Solr let(a=<stream|math>, b=..., tuple(...)): bind variables
        in order — a stream expression compiles to a DataFrame, a math
        expression evaluates to a scalar/array — then run the trailing
        tuple() with the variables in scope, emitting ONE tuple whose
        numeric/array values come from the math evaluators."""
        variables: dict = {}
        for name, val in node.kwargs.items():
            variables[name] = self._let_value(val, variables)
        subs = [a for a in node.args if isinstance(a, Call)]
        if not subs:
            raise QuerySyntaxError(
                "let() needs a trailing stream (usually tuple(...)) to "
                "emit the computed values"
            )
        out_node = subs[-1]
        if out_node.name != "tuple":
            raise QuerySyntaxError(
                "let()'s trailing stream must be tuple(...) here (the "
                "math-emitting shape); run other streams outside let()"
            )
        if not out_node.kwargs:
            raise QuerySyntaxError("tuple() needs key=value args")
        fields, vals = [], []
        for k, v in out_node.kwargs.items():
            r = self._math_eval(v, variables)
            if isinstance(r, _np().ndarray) or isinstance(r, list):
                arr = [float(x) for x in r]
                fields.append(f"{k} array<double>")
                vals.append(arr)
            elif isinstance(r, (int, float)):
                fields.append(f"{k} double")
                vals.append(float(r))
            else:
                fields.append(f"{k} string")
                vals.append(str(r))
        return local_frame(
            self._session(), [tuple(vals)], ", ".join(fields)
        ), None

    def _let_value(self, val, variables):
        if isinstance(val, Call):
            if val.name in _MATH_FNS:
                return self._math_eval(val, variables)
            df, _s = self._compile(val)
            return df
        return self._math_eval(val, variables)

    def _collect_col(self, df: DataFrame, field: str):
        if field not in df.columns:
            raise QuerySyntaxError(
                f"col(): field {field!r} not in the stream "
                f"(columns: {df.columns})"
            )
        rows = df.select(field).limit(self.math_max_values + 1).collect()
        if len(rows) > self.math_max_values:
            raise QuerySyntaxError(
                f"col({field}) would materialize more than "
                f"{self.math_max_values} values driver-side; math "
                "expressions are Solr's in-memory tier — use the "
                "distributed stats()/rollup()/percentile decorators at "
                "corpus scale, or bound the stream first"
            )
        np = _np()
        return np.array(
            [float(r[0]) for r in rows if r[0] is not None], dtype=float
        )

    def _math_eval(self, node, variables):
        """Numeric evaluation: scalars, variable refs, and the _MATH_FNS
        tree — numpy-vectorized, sample (ddof=1) moments, linear-
        interpolation percentiles (the stats()/DuckDB conventions)."""
        np = _np()
        if not isinstance(node, Call):
            if isinstance(node, Quoted):
                return str(node)
            if node in variables:
                return variables[node]
            try:
                return float(node)
            except (TypeError, ValueError):
                raise QuerySyntaxError(
                    f"unknown math operand {node!r} (not a number or "
                    f"bound variable; have {sorted(variables)})"
                )
        fn = node.name
        if fn not in _MATH_FNS:
            raise QuerySyntaxError(
                f"unknown math evaluator {fn!r}; supported: "
                + ", ".join(sorted(_MATH_FNS))
            )
        if fn == "col":
            if len(node.args) != 2:
                raise QuerySyntaxError("col() takes (streamVar, field)")
            var, field = node.args
            src = variables.get(var)
            if not isinstance(src, DataFrame):
                raise QuerySyntaxError(
                    f"col(): {var!r} is not a bound stream variable"
                )
            return self._collect_col(src, field)
        a = [self._math_eval(x, variables) for x in node.args]

        def arr(x):
            return np.asarray(x, dtype=float)

        if fn == "array":
            return np.array([float(x) for x in a])
        if fn == "sequence":
            n, start, stride = (int(a[0]), float(a[1]), float(a[2]))
            return start + stride * np.arange(n)
        if fn in ("add", "sub", "mult", "div", "pow"):
            import operator

            op = {"add": operator.add, "sub": operator.sub,
                  "mult": operator.mul, "div": operator.truediv,
                  "pow": operator.pow}[fn]
            out = a[0]
            for x in a[1:]:
                out = op(
                    arr(out) if isinstance(out, np.ndarray) else out, x
                )
            return out
        if fn in ("log", "sqrt", "abs", "exp"):
            return getattr(np, {"abs": "abs", "log": "log",
                                "sqrt": "sqrt", "exp": "exp"}[fn])(a[0])
        if fn == "length":
            return float(len(arr(a[0])))
        if fn == "mean":
            return float(np.mean(arr(a[0])))
        if fn == "sum":
            return float(np.sum(arr(a[0])))
        if fn == "min":
            return float(np.min(arr(a[0])))
        if fn == "max":
            return float(np.max(arr(a[0])))
        if fn == "stddev":
            return float(np.std(arr(a[0]), ddof=1))
        if fn == "var":
            return float(np.var(arr(a[0]), ddof=1))
        if fn == "percentile":
            return float(np.percentile(arr(a[0]), float(a[1])))
        if fn == "corr":
            return float(np.corrcoef(arr(a[0]), arr(a[1]))[0, 1])
        if fn == "cov":
            return float(np.cov(arr(a[0]), arr(a[1]), ddof=1)[0, 1])
        if fn in ("slope", "intercept", "rSquared"):
            # OLS y~x — Solr's regress() map flattened to named
            # evaluators (regress returns a tuple there; same numbers)
            x, y = arr(a[0]), arr(a[1])
            sl = float(np.cov(x, y, ddof=1)[0, 1] / np.var(x, ddof=1))
            if fn == "slope":
                return sl
            ic = float(np.mean(y) - sl * np.mean(x))
            if fn == "intercept":
                return ic
            pred = ic + sl * x
            ss_res = float(np.sum((y - pred) ** 2))
            ss_tot = float(np.sum((y - np.mean(y)) ** 2))
            return 1.0 - ss_res / ss_tot if ss_tot else 1.0
        if fn == "rev":
            return arr(a[0])[::-1]
        if fn == "asc":
            return np.sort(arr(a[0]))
        if fn == "desc":
            return np.sort(arr(a[0]))[::-1]
        if fn == "movingAvg":
            x, w = arr(a[0]), int(a[1])
            if w <= 0 or w > len(x):
                raise QuerySyntaxError(
                    "movingAvg window must be in [1, length]"
                )
            c = np.convolve(x, np.ones(w) / w, mode="valid")
            return c
        raise AssertionError(f"unhandled math fn {fn}")  # pragma: no cover

    def _c_scoreNodes(self, node: Call):  # noqa: N802 (Solr camelCase)
        """Solr scoreNodes(nodes(...)): tf-idf relevance for gathered
        nodes — ``nodeScore = count * ln((numDocs+1) / (docFreq+1))``
        where count is the node's gathered ``count(*)`` (1 when the
        inner nodes() deduped instead of counting), docFreq the number
        of collection docs carrying the node value in the gather field,
        and numDocs the collection size.  Solr's ScoreNodesStream blends
        the same inputs with undocumented constants; the formula here is
        pinned (the significantTerms/text_ml idf), the request shape is
        Solr's — collection and field infer from the wrapped nodes()
        call, with collection=/field= overrides for other stream shapes.

        Plan: docFreq is a groupBy over the collection scan restricted
        FIRST by a broadcast semi-join on the (bounded) node set — the
        aggregation touches only matching docs, never the collection;
        numDocs is summed from the parquet footers when the source is an
        index, else a metadata-only count folded in as a broadcast 1-row
        crossJoin."""
        subs = [a for a in node.args if isinstance(a, Call)
                and a.name not in _METRICS and a.name not in _EVALUATORS]
        if not subs:
            raise QuerySyntaxError("scoreNodes() needs a stream argument")
        stream, _s = self._compile(subs[0])
        coll = node.kwargs.get("collection")
        field = node.kwargs.get("field")
        if (coll is None or field is None) and subs[0].name == "nodes":
            inner = subs[0]
            if coll is None and inner.args and not isinstance(
                inner.args[0], Call
            ):
                coll = inner.args[0]
            field = field or inner.kwargs.get("gather")
        if coll is None or field is None:
            raise QuerySyntaxError(
                "scoreNodes() could not infer the gather collection/"
                "field; pass collection= and field="
            )
        if "node" not in stream.columns:
            raise QuerySyntaxError(
                "scoreNodes() needs a stream with a 'node' column "
                "(nodes() output)"
            )
        src = self._source(coll)
        base = src if isinstance(src, DataFrame) else src.df()
        if field not in base.columns:
            raise QuerySyntaxError(
                f"scoreNodes(): field {field!r} not in collection "
                f"{coll!r}"
            )
        count_col = (
            F.col("count(*)") if "count(*)" in stream.columns
            else F.lit(1).alias("count(*)")
        )
        # docFreq: restrict the collection by the bounded node set FIRST
        # (broadcast semi-join), then ONE map-side-combined groupBy
        fcol = F.col(field)
        if dict(base.dtypes).get(field, "").startswith("array"):
            vals = base.select(F.explode(fcol).alias(field))
        else:
            vals = base.select(fcol)
        node_set = stream.select(
            F.col("node").alias(field)
        ).distinct()
        dfreq = (
            vals.join(F.broadcast(node_set), on=field, how="left_semi")
            .groupBy(field)
            .agg(F.count(F.lit(1)).alias("docFreq"))
            .withColumnRenamed(field, "_sn_val")
        )
        joined = stream.join(
            F.broadcast(dfreq), stream["node"] == F.col("_sn_val"), "left"
        ).drop("_sn_val")
        # numDocs: an index sums its footers, a DataFrame source folds in
        # a metadata-only broadcast 1-row count
        if not isinstance(src, DataFrame):
            n_docs = F.lit(float(src.count()))
        else:
            n_docs = F.col("_sn_ndocs")
            joined = joined.crossJoin(F.broadcast(
                base.agg(
                    F.count(F.lit(1)).cast("double").alias("_sn_ndocs")
                )
            ))
        dfq = F.coalesce(F.col("docFreq"), F.lit(1)).cast("double")
        score = count_col.cast("double") * F.log(
            (n_docs + 1.0) / (dfq + 1.0)
        )
        out = joined.select(
            "node", count_col,
            F.coalesce(F.col("docFreq"), F.lit(1)).alias("docFreq"),
            score.alias("nodeScore"),
        )
        return out, [("nodeScore", "desc"), ("node", "asc")]

    # -- text-classification tier (Solr features/train/model/classify) --
    def _ml_source(self, node: Call):
        """The SearchIndex a features()/train() call selects terms
        from — plain DataFrame sources have no analyzed token columns."""
        if not node.args or isinstance(node.args[0], Call):
            raise QuerySyntaxError(
                f"{node.name}() needs a collection name first"
            )
        src = self._source(node.args[0])
        if isinstance(src, DataFrame):
            raise QuerySyntaxError(
                f"{node.name}() needs a SearchIndex source (stored "
                "analyzed tokens)"
            )
        return src

    def _c_features(self, node: Call):
        """Solr features(collection, q=, field=, outcome=, numTerms=,
        positiveLabel=, minDocFreq=): information-gain term selection —
        one map-side-combined groupBy(term) plus a broadcast 1-row
        totals aggregate, TakeOrdered top-N.  Formulas pinned in
        extensions/text_ml.py."""
        from solr_map_reduce_spark.extensions import text_ml

        src = self._ml_source(node)
        if "outcome" not in node.kwargs:
            raise QuerySyntaxError("features() needs outcome=")
        return text_ml.select_features(
            src,
            outcome=node.kwargs["outcome"],
            field=node.kwargs.get("field"),
            q=node.kwargs.get("q", "*:*"),
            num_terms=int(node.kwargs.get("numTerms", 250)),
            positive_label=node.kwargs.get("positiveLabel", "1"),
            min_df=int(node.kwargs.get("minDocFreq", 1)),
        ), [("score", "desc"), ("term", "asc")]

    def _c_train(self, node: Call):
        """Solr train(collection, <features-stream>, q=, field=,
        outcome=, maxIterations=, alpha=, name=, positiveLabel=): batch
        logistic regression over the feature terms, one tuple per
        iteration (weights[0] = intercept).  Iterative by nature: each
        iteration is one map-only margin pass fused into ONE
        groupBy(term) returning ≤ |features|+1 rows — only that
        gradient vector is collected (text_ml.train_logistic)."""
        from solr_map_reduce_spark.extensions import text_ml

        src = self._ml_source(node)
        feats_df, _s = self._stream_arg(node)
        if "outcome" not in node.kwargs:
            raise QuerySyntaxError("train() needs outcome=")
        return text_ml.train_logistic(
            src,
            features=feats_df,
            outcome=node.kwargs["outcome"],
            field=node.kwargs.get("field"),
            q=node.kwargs.get("q", "*:*"),
            max_iterations=int(node.kwargs.get("maxIterations", 25)),
            alpha=float(node.kwargs.get("alpha", 0.5)),
            positive_label=node.kwargs.get("positiveLabel", "1"),
            name=node.kwargs.get("name", "model"),
        ), [("iteration", "asc")]

    def _c_model(self, node: Call):
        """Solr model(collection, id=): the latest stored iteration of
        a named train() model — one tuple.  The collection may be a
        plain DataFrame source (models are rows, not analyzed text)."""
        if not node.args or isinstance(node.args[0], Call):
            raise QuerySyntaxError("model() needs a collection name first")
        src = self._source(node.args[0])
        mid = node.kwargs.get("id")
        if mid is None:
            raise QuerySyntaxError("model() needs id= (the model name)")
        df = src if isinstance(src, DataFrame) else src.df()
        return (
            df.filter(F.col("name") == mid)
            .orderBy(F.desc("iteration"))
            .limit(1)
        ), None

    def _c_classify(self, node: Call):
        """Solr classify(<model-stream>, <doc-stream>, field=): append
        ``probability`` (sigmoid) and ``score`` (raw margin) to every
        doc tuple.  The model (ONE bounded tuple) is collected and
        folded into a single codegen Column — classification itself is
        map-only, zero shuffles at any corpus size.  Token resolution:
        the stream's stored ``<field>__tokens`` when present (Solr's
        analyzerField), else text_general analysis of the raw field."""
        from solr_map_reduce_spark.extensions import text_ml

        model_df, _s1 = self._stream_arg(node, 0)
        docs, _s2 = self._stream_arg(node, 1)
        field = node.kwargs.get("field")
        if field is None:
            raise QuerySyntaxError("classify() needs field=")
        if "iteration" in model_df.columns:
            model_df = model_df.orderBy(F.desc("iteration"))
        rows = model_df.limit(1).collect()
        if not rows:
            raise QuerySyntaxError("classify(): the model stream is empty")
        r = rows[0].asDict()
        if not all(k in r for k in ("terms", "weights", "idfs")):
            raise QuerySyntaxError(
                "classify(): the model stream must carry terms/weights/"
                f"idfs (train()'s tuple shape); got {sorted(r)}"
            )
        model = {
            "name": r.get("name"),
            "terms": list(r["terms"]),
            "weights": [float(x) for x in r["weights"]],
            "idfs": [float(x) for x in r["idfs"]],
        }
        from solr_map_reduce_spark.indexing import TOKENS_SUFFIX

        tc = field + TOKENS_SUFFIX
        if tc in docs.columns:
            from solr_map_reduce_spark.extensions.search import (
                _visible_toks,
            )

            toks = _visible_toks(F.col(tc))
        elif field in docs.columns:
            from solr_map_reduce_spark.functions.analyzers import (
                tokenize_text_general,
            )

            toks = tokenize_text_general(F.col(field))
        else:
            raise QuerySyntaxError(
                f"classify(): the doc stream has neither {tc!r} nor "
                f"{field!r} (columns: {docs.columns})"
            )
        return text_ml.classify_df(docs, toks, model), None
