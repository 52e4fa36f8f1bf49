"""Property-based tests (hypothesis): invariants that golden cases can't
cover — vectorized/scalar hash parity on arbitrary unicode, routing range
totality, dedup resolver laws, complex-phrase window vs brute force."""

import os
import tempfile

import numpy as np
import pandas as pd
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from solr_map_reduce_spark.operators.routing import (
    INT_MAX,
    INT_MIN,
    ShardRouter,
    _micro_shard_ids,
    composite_id_hash,
    murmur3_x86_32,
    murmur3_x86_32_arrow,
    partition_ranges,
)

# -- murmur3 parity ----------------------------------------------------------

texts = st.text(min_size=0, max_size=64)


@settings(max_examples=300, deadline=None)
@given(st.lists(texts, min_size=1, max_size=50))
def test_murmur3_batch_matches_scalar(strings):
    batch = murmur3_x86_32_arrow(pa.array(strings, type=pa.large_string()))
    scalar = [murmur3_x86_32(s.encode("utf-8")) for s in strings]
    assert batch.tolist() == scalar


@settings(max_examples=100, deadline=None)
@given(
    st.lists(texts.map(lambda s: s + "!x"), min_size=1, max_size=5),
    st.lists(texts, min_size=1, max_size=20),
    st.lists(texts.map(lambda s: "a!" + s), min_size=1, max_size=5),
    st.integers(min_value=1, max_value=8),
)
def test_routing_kernel_reads_only_its_slice(before, keys, after, shards):
    # a sliced Arrow array shares its parent's data buffer: composite-id
    # bytes ('!') of the rows around the slice must not reach its routing
    router = ShardRouter(shards=shards, num_partitions=shards * 4)
    starts = np.array([r[0] for r in router._ranges], dtype=np.int64)
    whole = pa.array(before + keys + after, type=pa.large_string())
    sliced = whole.slice(len(before), len(keys))
    got = _micro_shard_ids(sliced, starts, 4).to_pylist()
    assert got == [router.micro_shard_of(k) for k in keys]


@settings(max_examples=200, deadline=None)
@given(texts)
def test_murmur3_is_int32(s):
    h = murmur3_x86_32(s.encode("utf-8"))
    assert INT_MIN <= h <= INT_MAX


# -- routing totality / determinism -----------------------------------------

@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=1, max_value=64))
def test_partition_ranges_cover_ring(shards):
    ranges = partition_ranges(shards)
    assert len(ranges) == shards
    assert ranges[0][0] == INT_MIN and ranges[-1][1] == INT_MAX
    for (lo1, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert lo2 == hi1 + 1  # contiguous, no gaps or overlaps


@settings(max_examples=200, deadline=None)
@given(texts.filter(lambda s: s), st.integers(min_value=1, max_value=8))
def test_router_places_every_key(key, shards):
    router = ShardRouter(shards=shards, num_partitions=shards * 4)
    micro = router.micro_shard_of(key)
    assert 0 <= micro < shards * 4
    # same root shard for every micro of the same key, always
    assert micro // 4 == router.micro_shard_of(key) // 4


@settings(max_examples=200, deadline=None)
@given(texts.filter(lambda s: s and "!" not in s and "/" not in s),
       texts.filter(lambda s: s and "!" not in s))
def test_composite_id_coroutes_with_route_key(route, doc):
    """shard!doc ids share the top 16 hash bits with the bare route key —
    Solr's co-location guarantee."""
    h_comp = composite_id_hash(f"{route}!{doc}") & 0xFFFF0000
    h_route = composite_id_hash(route) & 0xFFFF0000
    assert h_comp == h_route


# -- dedup resolver laws (driver-side; spark fixture is module-scoped) ------

@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100), st.integers(0, 1000)),
        min_size=1,
        max_size=40,
    )
)
def test_retain_most_recent_is_argmax(rows):
    """Resolver law checked against a plain-Python argmax on random data."""
    from solr_map_reduce_spark.operators.dedup import retain_most_recent
    from solr_map_reduce_spark.session import get_spark

    spark = get_spark(app_name="smrs-tests", master="local[4]", shuffle_partitions=4)
    df = spark.createDataFrame(rows, "k long, ord long, uid long")
    got = {
        r["k"]: (r["ord"], r["uid"])
        for r in retain_most_recent(df, "k", "ord", tiebreak=["uid"]).collect()
    }
    want = {}
    for k, o, u in rows:
        if k not in want or (o, u) > want[k]:
            want[k] = (o, u)
    assert got == want


# -- batch minhash kernel vs naive reference ---------------------------------

hash_lists = st.lists(
    st.one_of(
        st.none(),
        st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1),
                 min_size=0, max_size=30),
    ),
    min_size=1,
    max_size=20,
)


@settings(max_examples=100, deadline=None)
@given(hash_lists)
def test_minhash_batch_matches_naive(lists):
    import numpy as np

    from solr_map_reduce_spark.extensions.text_dedup import (
        _MAX_HASH,
        MERSENNE_PRIME,
        _minhash_batch,
        _perm_params,
    )

    a, b = _perm_params(16, seed=42)
    got = _minhash_batch(pd.Series(lists, dtype=object), a, b)
    for arr, sig in zip(lists, got):
        if arr is None or len(arr) == 0:
            assert list(sig) == [0] * 16
            continue
        x = np.asarray(arr, dtype=np.int64).astype(np.uint64) & _MAX_HASH
        phv = (np.outer(a, x) + b[:, None]) % MERSENNE_PRIME
        want = (phv.min(axis=1) & np.uint64(_MAX_HASH)).astype(np.int64)
        assert list(sig) == want.tolist()


@given(
    weights=st.lists(st.integers(min_value=1, max_value=150), max_size=60),
    budget=st.integers(min_value=1, max_value=120),
)
@settings(max_examples=200, deadline=None)
def test_pack_weights_laws(weights, budget):
    """Greedy packing invariants for any weights/budget: dense monotone chunk
    ids from 0; every multi-item chunk within budget; greedy tightness (the
    first item of chunk k+1 would not have fit in chunk k)."""
    import numpy as np

    from solr_map_reduce_spark.extensions.text_analysis import pack_weights

    chunks = pack_weights(np.asarray(weights, dtype=np.int64), budget)
    assert len(chunks) == len(weights)
    if not weights:
        return
    assert chunks[0] == 0
    diffs = np.diff(chunks)
    assert set(diffs.tolist()) <= {0, 1}  # dense, monotone
    sums: dict[int, int] = {}
    counts: dict[int, int] = {}
    for c, w in zip(chunks.tolist(), weights):
        sums[c] = sums.get(c, 0) + w
        counts[c] = counts.get(c, 0) + 1
    for c, s in sums.items():
        assert s <= budget or counts[c] == 1
    # tightness: each chunk boundary was forced
    for i in range(1, len(weights)):
        if chunks[i] != chunks[i - 1]:
            assert sums[chunks[i - 1]] + weights[i] > budget


# -- key-span pruning laws ----------------------------------------------------

from solr_map_reduce_spark.key_ranges import _ShardSpans, next_prefix  # noqa: E402


def _one_shard(spans, key_type):
    """One shard's spans whose files f0.parquet, f1.parquet, ... hold
    ``spans``."""
    return _ShardSpans(
        key_type, [(f"f{i}.parquet", lo, hi, 1) for i, (lo, hi) in enumerate(spans)]
    )


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(-10**9, 10**9), st.integers(-10**9, 10**9)).map(
            lambda t: (min(t), max(t))
        ),
        min_size=1,
        max_size=20,
    ),
    st.data(),
)
def test_candidate_files_no_false_negatives_int(spans, data):
    """A key inside ANY stored span must keep that span's file — pruning may
    over-select, never under-select."""
    i = data.draw(st.integers(0, len(spans) - 1))
    lo, hi = spans[i]
    key = data.draw(st.integers(lo, hi))
    assert f"f{i}.parquet" in _one_shard(spans, "bigint").stab(key)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.text(min_size=1, max_size=8), st.text(min_size=1, max_size=8)).map(
            lambda t: (min(t), max(t))
        ),
        min_size=1,
        max_size=20,
    ),
    st.data(),
)
def test_candidate_files_range_overlap_complete_str(spans, data):
    """Every file whose span intersects the query range is admitted."""
    i = data.draw(st.integers(0, len(spans) - 1))
    flo, fhi = spans[i]
    # a query range guaranteed to intersect span i (anchored at its lo)
    cands = _one_shard(spans, "string").overlap(flo, fhi, False)
    assert f"f{i}.parquet" in cands
    for j, (jlo, jhi) in enumerate(spans):
        if jhi >= flo and jlo <= fhi:  # intersects -> must be admitted
            assert f"f{j}.parquet" in cands


@settings(max_examples=300, deadline=None)
@given(st.text(min_size=1, max_size=12), st.text(min_size=0, max_size=12))
def test_next_prefix_bounds_every_extension(prefix, suffix):
    """p <= p+s and (next_prefix(p) is None or p+s < next_prefix(p)) — the
    exact property prefix pruning relies on."""
    s = prefix + suffix
    assert prefix <= s
    nxt = next_prefix(prefix)
    if nxt is not None:
        assert s < nxt


def _bisect_equals_linear(spans, key_type, keys):
    """The sorted-span bisect admits EXACTLY the files a linear walk over
    the spans admits, for point keys and for closed, half-open and
    open-ended ranges."""

    def linear(admit):
        return sorted(f"f{i}.parquet" for i, span in enumerate(spans) if admit(*span))

    lo, hi = min(keys), max(keys)
    shard = _one_shard(spans, key_type)
    assert sorted({f for k in keys for f in shard.stab(k)}) == linear(
        lambda a, b: any(a <= k <= b for k in keys)
    )
    assert sorted(shard.overlap(lo, hi, False)) == linear(lambda a, b: b >= lo and a <= hi)
    assert sorted(shard.overlap(lo, hi, True)) == linear(lambda a, b: b >= lo and a < hi)
    assert sorted(shard.overlap(None, hi, False)) == linear(lambda a, b: a <= hi)
    assert sorted(shard.overlap(lo, None, False)) == linear(lambda a, b: b >= lo)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(-10**6, 10**6), st.integers(-10**6, 10**6)).map(
            lambda t: (min(t), max(t))
        ),
        min_size=1,
        max_size=24,
    ),
    st.lists(st.integers(-10**6 - 5, 10**6 + 5), min_size=1, max_size=5),
)
def test_keyranges_bisect_equals_linear_int(spans, keys):
    _bisect_equals_linear(spans, "bigint", keys)


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(st.text(min_size=1, max_size=6), st.text(min_size=1, max_size=6)).map(
            lambda t: (min(t), max(t))
        ),
        min_size=1,
        max_size=16,
    ),
    st.lists(st.text(min_size=1, max_size=6), min_size=1, max_size=4),
)
def test_keyranges_bisect_equals_linear_str(spans, keys):
    _bisect_equals_linear(spans, "string", keys)


# ---------------------------------------------------------------------------
# Boolean query parser: round-trip + evaluation model (round-6 surface)
# ---------------------------------------------------------------------------

_bq_terms = st.text(alphabet="abcdefgxyz", min_size=1, max_size=6).filter(
    lambda s: s.upper() not in ("AND", "OR", "NOT")
)


def _bq_trees(depth=3):
    leaf = st.one_of(
        _bq_terms.map(lambda t: ("term", t)),
        st.lists(_bq_terms, min_size=1, max_size=3).map(
            lambda ts: ("phrase", " ".join(ts))
        ),
    )
    return st.recursive(
        leaf,
        lambda kids: st.one_of(
            st.lists(kids, min_size=2, max_size=3).map(lambda cs: ("and", cs)),
            st.lists(kids, min_size=2, max_size=3).map(lambda cs: ("or", cs)),
            kids.map(lambda c: ("not", c)),
        ),
        max_leaves=8,
    )


def _bq_render(node) -> str:
    kind = node[0]
    if kind == "term":
        return node[1]
    if kind == "phrase":
        return f'"{node[1]}"'
    if kind == "not":
        return f"NOT ({_bq_render(node[1])})"
    op = f" {kind.upper()} "
    return "(" + op.join(f"({_bq_render(c)})" for c in node[1]) + ")"


def _bq_eval(node, present: set) -> bool:
    kind = node[0]
    if kind == "term":
        return node[1] in present
    if kind == "phrase":
        # evaluation model over a SET ignores adjacency; restrict to
        # 1-token phrases for the semantic check (multi-token adjacency
        # has its own explicit tests in test_search.py)
        toks = node[1].split()
        return all(t in present for t in toks)
    if kind == "not":
        return not _bq_eval(node[1], present)
    results = [_bq_eval(c, present) for c in node[1]]
    return all(results) if kind == "and" else any(results)


def _strip_parens(node):
    """Normalize an AST for comparison: the parser flattens what explicit
    parens kept nested only when shapes force it, so compare by EVALUATION
    over token subsets instead of tree equality."""
    return node


@settings(max_examples=300, deadline=None)
@given(_bq_trees())
def test_boolean_query_roundtrip_preserves_semantics(tree):
    """render -> parse preserves the query's truth table: for a sample of
    token-presence sets, the parsed tree evaluates identically to the
    generated one (parenthesized rendering makes precedence explicit, so
    any divergence is a parser bug)."""
    from solr_map_reduce_spark.extensions.search import parse_query

    parsed = parse_query(_bq_render(tree))
    tokens = sorted(
        {t for k, v in _iter_leaves(tree) for t in (v.split() if k == "phrase" else [v])}
    )
    # all subsets up to a cap, plus empty and full
    import itertools

    subsets = [set(), set(tokens)]
    for r in (1, 2):
        subsets.extend(set(c) for c in itertools.combinations(tokens, r))
    for present in subsets[:40]:
        assert _bq_eval(parsed, present) == _bq_eval(tree, present), (
            _bq_render(tree), sorted(present)
        )


def _iter_leaves(node):
    kind = node[0]
    if kind in ("term", "phrase"):
        yield kind, node[1]
    elif kind == "not":
        yield from _iter_leaves(node[1])
    else:
        for c in node[1]:
            yield from _iter_leaves(c)


@settings(max_examples=200, deadline=None)
@given(_bq_trees())
def test_boolean_query_pruning_sets_are_sound(tree):
    """required ⊆ positive, and whenever the query is marked prunable the
    empty token set must NOT satisfy it (the safety property 'any'-mode
    Bloom pruning depends on)."""
    from solr_map_reduce_spark.extensions.search import (
        _analyze_node,
        _can_match_term_free,
        _positive_tokens,
        _required_tokens,
    )

    from solr_map_reduce_spark.extensions.search import parse_query

    ast = _analyze_node(parse_query(_bq_render(tree)), lambda s: s.lower().split())
    assert ast is not None
    req, pos = _required_tokens(ast), _positive_tokens(ast)
    assert req <= pos
    if not _can_match_term_free(ast):
        assert not _bq_eval(tree, set())
    # and required tokens really are necessary: removing any one required
    # token from the full set must make the query false... only when the
    # query is true on the full set
    full = {t for k, v in _iter_leaves(tree) for t in (v.split() if k == "phrase" else [v])}
    if _bq_eval(tree, full):
        for t in req:
            assert not _bq_eval(tree, full - {t}) or t not in full


# -- round-8: wildcard glob machinery ---------------------------------------

@given(
    st.text(
        alphabet=st.sampled_from(list("abc*?.[]+()^$\\|{}")), min_size=1,
        max_size=12,
    )
)
@settings(max_examples=300, deadline=None)
def test_glob_to_regex_matches_fnmatch(pattern):
    """_glob_to_regex must agree with Python's fnmatch on every glob —
    regex metacharacters in the pattern stay LITERAL, * is any run,
    ? exactly one char."""
    import fnmatch
    import re

    from solr_map_reduce_spark.extensions.search import _glob_to_regex

    rx = re.compile(_glob_to_regex(pattern))
    probes = ["", "a", "ab", "abc", "a.c", "a[b]", "x" * 5,
              pattern.replace("*", "").replace("?", "x")]
    for probe in probes:
        # fnmatchcase implements exactly the *,? glob subset when the
        # pattern has no [] classes (ours treats [] as literal, fnmatch
        # does not — skip those)
        if "[" in pattern or "]" in pattern:
            continue
        want = fnmatch.fnmatchcase(probe, pattern)
        assert bool(rx.match(probe)) == want, (pattern, probe)


@given(
    st.text(
        alphabet=st.sampled_from(list("ab*? ():-\"~^")), min_size=1,
        max_size=20,
    )
)
@settings(max_examples=300, deadline=None)
def test_parse_query_total_on_wildcard_soup(q):
    """The parser either returns an AST or raises QuerySyntaxError —
    never hangs, never throws anything else — on arbitrary wildcard/
    operator soup."""
    from solr_map_reduce_spark.extensions.search import (
        QuerySyntaxError,
        parse_query,
    )

    try:
        ast = parse_query(q)
        assert isinstance(ast, tuple) and ast
    except QuerySyntaxError:
        pass


# ---------------------------------------------------------------------------
# Local-params parser (round-8): render -> parse round-trip over arbitrary
# key/value soup, and totality (parse never hangs or mis-splits) on the
# quoted-value grammar.
# ---------------------------------------------------------------------------

from solr_map_reduce_spark.extensions.search import (  # noqa: E402
    QuerySyntaxError,
    parse_local_params,
)

_key_st = st.text(
    alphabet=st.sampled_from("abcdefghij._"), min_size=1, max_size=8
).filter(lambda s: s.strip("._") != "" and not s.startswith("."))
_bare_val_st = st.text(
    alphabet=st.sampled_from("abc0129:,*-[]"), min_size=1, max_size=10
)
_quote_val_st = st.text(
    alphabet=st.sampled_from("abc 0129:,*-[]{}!"), max_size=12
)


@given(
    qtype=st.sampled_from(["join", "parent", "child", "terms", "custom"]),
    params=st.dictionaries(_key_st, st.tuples(st.booleans(), _bare_val_st | _quote_val_st),
                           max_size=4),
    rest=st.text(alphabet=st.sampled_from("abc :[]()*"), max_size=15),
)
@settings(max_examples=200, deadline=None)
def test_local_params_render_parse_roundtrip(qtype, params, rest):
    parts = []
    rendered = {}
    for k, (force_quote, v) in params.items():
        needs_quote = force_quote or any(c in v for c in " }'\"") or v == ""
        if needs_quote and ("'" in v):
            v = v.replace("'", "")  # the grammar has no escapes (Solr parity)
        parts.append(f"{k}='{v}'" if needs_quote else f"{k}={v}")
        rendered[k] = v
    q = "{!" + qtype + (" " + " ".join(parts) if parts else "") + "}" + rest
    got = parse_local_params(q)
    assert got is not None
    g_type, g_params, g_rest = got
    assert g_type == qtype
    assert g_params == rendered
    # the body comes back VERBATIM — {!field}/{!prefix}/{!terms} match
    # raw values, whitespace included (query-typed consumers strip it
    # themselves)
    assert g_rest == rest


@given(st.text(max_size=30))
@settings(max_examples=300, deadline=None)
def test_local_params_total_on_arbitrary_text(q):
    """Never hangs; non-{! inputs pass through as None; {!-prefixed inputs
    either parse or raise QuerySyntaxError — nothing else."""
    if not q.lstrip().startswith("{!"):
        assert parse_local_params(q) is None
    else:
        try:
            out = parse_local_params(q)
        except QuerySyntaxError:
            return
        assert out is not None and isinstance(out[1], dict)


# -- complex-phrase ordered window vs brute force ----------------------------

_CP_TOKENS = ["aa", "ab", "ba", "bb", "a"]
_CP_GLOBS = ["a*", "?b", "b?", "*a", "a?b"]


def _cp_ref(toks, patterns, slop):
    """Independent brute force: any strictly-increasing position tuple
    (one per pattern, in order) with total slack <= slop."""
    import itertools
    import re

    from solr_map_reduce_spark.extensions.search import _glob_to_regex

    pos = []
    for kind, v in patterns:
        if kind == "term":
            pos.append([i for i, t in enumerate(toks) if t == v])
        else:
            # the reference strips the engine's anchors and fullmatches
            # — if _glob_to_regex ever stopped anchoring, Spark's rlike
            # (a find) would admit substring hits and diverge here
            rx = re.compile(_glob_to_regex(v).strip("^$"))
            pos.append([i for i, t in enumerate(toks) if rx.fullmatch(t)])
    m = len(patterns)
    for combo in itertools.product(*pos):
        if all(a < b for a, b in zip(combo, combo[1:])) and (
            combo[-1] - combo[0] - (m - 1) <= slop
        ):
            return True
    return False


@settings(max_examples=20, deadline=None)
@given(
    st.lists(st.lists(st.sampled_from(_CP_TOKENS), min_size=0, max_size=10),
             min_size=1, max_size=8),
    st.lists(
        st.one_of(
            st.sampled_from(_CP_TOKENS).map(lambda t: ("term", t)),
            st.sampled_from(_CP_GLOBS).map(lambda g: ("glob", g)),
        ),
        min_size=1, max_size=3,
    ),
    st.integers(min_value=0, max_value=3),
)
def test_complex_phrase_matches_brute_force(docs, patterns, slop):
    import pyspark.sql.functions as F

    from solr_map_reduce_spark.extensions.search import complex_phrase_match
    from solr_map_reduce_spark.session import get_spark

    spark = get_spark(app_name="smrs-tests", master="local[4]",
                      shuffle_partitions=4)
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "id int, toks array<string>"
    )
    got = sorted(
        r["id"]
        for r in df.filter(
            complex_phrase_match(F.col("toks"), patterns, slop=slop)
        ).collect()
    )
    want = sorted(i for i, d in enumerate(docs) if _cp_ref(d, patterns, slop))
    assert got == want, (docs, patterns, slop)


# -- r12 ANN serving helpers (pure driver-side numpy) -------------------------

_dims = st.integers(min_value=1, max_value=6)


@st.composite
def _mips_meta(draw):
    import numpy as np

    k = draw(st.integers(min_value=1, max_value=12))
    dim = draw(_dims)
    co = np.asarray(
        draw(
            st.lists(
                st.lists(
                    st.floats(-50, 50, allow_nan=False, allow_infinity=False),
                    min_size=dim, max_size=dim,
                ),
                min_size=k, max_size=k,
            )
        )
    )
    n = draw(st.lists(st.integers(0, 1000), min_size=k, max_size=k))
    # sum_nrm2 consistent-ish with counts (0 for empty buckets)
    s2 = [
        (draw(st.floats(0, 1e4, allow_nan=False)) if cnt > 0 else 0.0)
        for cnt in n
    ]
    mx = draw(st.floats(0.1, 200, allow_nan=False))
    meta = {"kind": "ivf",
            "dot_route": {"max_norm": mx, "n": n, "sum_nrm2": s2}}
    # no subnormals: a 5e-324 component's score underflows to 0 at one
    # power-of-two scale and not another, flipping a zero-tie — fp
    # degeneracy of denormal division, same noise class as the fp-tie
    # reorders the power-of-two scaling already excludes
    q = np.asarray(
        draw(st.lists(
            st.floats(-50, 50, allow_nan=False, allow_infinity=False,
                      allow_subnormal=False),
            min_size=dim, max_size=dim,
        ))
    )
    return meta, co, q


@settings(max_examples=150, deadline=None)
@given(_mips_meta())
def test_mips_probe_order_is_total_permutation(mq):
    # every bucket appears exactly once, whatever the stats look like —
    # a dropped bucket would make "full probe" silently partial (the
    # provably-exact loop end depends on totality)
    from solr_map_reduce_spark.extensions.ann_sidecar import _mips_probe_order

    meta, co, q = mq
    order = _mips_probe_order(meta, co)(q)
    assert sorted(order) == list(range(len(co)))


@settings(max_examples=100, deadline=None)
@given(_mips_meta(), st.integers(min_value=-8, max_value=8))
def test_mips_probe_order_is_query_scale_invariant(mq, exp):
    # dot(aq, v) = a*dot(q, v) for a > 0: the ranking must not depend on
    # the query's magnitude (Solr's dot ranking doesn't either).  Scale
    # by exact powers of two: multiplying doubles by 2^k only shifts the
    # exponent, so near-tied scores can't FLIP from rounding — an
    # arbitrary scalar can reorder fp-ties, which is noise, not a
    # formula defect (hypothesis found exactly that with duplicate
    # centroids)
    from solr_map_reduce_spark.extensions.ann_sidecar import _mips_probe_order

    meta, co, q = mq
    fn = _mips_probe_order(meta, co)
    assert fn(q) == fn(q * (2.0 ** exp))


@st.composite
def _adaptive_index(draw):
    import numpy as np

    from solr_map_reduce_spark.extensions.similarity import IvfIndex

    k = draw(st.integers(min_value=1, max_value=10))
    dim = draw(_dims)
    co = np.asarray(
        draw(
            st.lists(
                st.lists(
                    st.floats(-20, 20, allow_nan=False, allow_infinity=False),
                    min_size=dim, max_size=dim,
                ),
                min_size=k, max_size=k,
            )
        )
    )
    q = draw(st.lists(
        st.floats(-20, 20, allow_nan=False, allow_infinity=False),
        min_size=dim, max_size=dim,
    ))
    tau = draw(
        st.one_of(st.none(), st.floats(1.0, 100.0, allow_nan=False))
    )
    return IvfIndex(co), tau, q


@settings(max_examples=150, deadline=None)
@given(_adaptive_index())
def test_adaptive_nprobe_bounds_and_none_tau(itq):
    # always within [1, n_centroids]; tau=None (calibration had no
    # sample) means full probe — never a silent under-probe
    from solr_map_reduce_spark.extensions.ann_sidecar import adaptive_nprobe

    index, tau, q = itq
    meta = {"kind": "ivf", "adaptive": {"tau": tau}}
    got = adaptive_nprobe(meta, index, q)
    n = len(index.centroids)
    assert 1 <= got <= n
    if tau is None:
        assert got == n


@settings(max_examples=100, deadline=None)
@given(_adaptive_index(), st.floats(0.0, 50.0, allow_nan=False))
def test_adaptive_nprobe_monotone_in_tau(itq, bump):
    # widening the closure ratio can only ADD buckets
    from solr_map_reduce_spark.extensions.ann_sidecar import adaptive_nprobe

    index, tau, q = itq
    if tau is None:
        return
    lo = adaptive_nprobe(
        {"kind": "ivf", "adaptive": {"tau": tau}}, index, q)
    hi = adaptive_nprobe(
        {"kind": "ivf", "adaptive": {"tau": tau + bump}}, index, q)
    assert lo <= hi


# -- URL canonicalization must be a FIXED POINT -------------------------------

_url_parts = st.text(
    alphabet=st.characters(
        whitelist_categories=("Ll", "Lu", "Nd"), whitelist_characters="-._~"
    ),
    min_size=0, max_size=12,
)


@st.composite
def _urls(draw):
    scheme = draw(st.sampled_from(["http", "HTTP", "https", "HtTpS"]))
    host = draw(_url_parts) or "h"
    path = "/".join(draw(st.lists(_url_parts, max_size=3)))
    params = draw(st.lists(
        st.tuples(
            st.sampled_from(
                ["utm_source", "utm_x", "fbclid", "gclid", "ref", "a", "b",
                 "Q", "page"]
            ),
            _url_parts,
        ),
        max_size=4,
    ))
    frag = draw(_url_parts)
    url = f"{scheme}://{host}/{path}"
    if params:
        url += "?" + "&".join(f"{k}={v}" for k, v in params)
    if frag:
        url += "#" + frag
    return url


# 25 examples x up to 64 URLs instead of 200 x 8: the property is
# per-URL, so batching more URLs into each example keeps the same URL
# coverage while paying the fixed createDataFrame+collect Spark cost 8x
# less often (this test alone was 107 s of the suite — one Spark job per
# hypothesis example)
@settings(max_examples=25, deadline=None)
@given(st.lists(_urls(), min_size=1, max_size=64))
def test_normalize_url_is_idempotent(urls):
    # canonical forms must be FIXED POINTS: if normalize(normalize(u))
    # != normalize(u), re-canonicalizing an already-deduped corpus
    # would silently re-split its URL-dedup groups
    import pyspark.sql.functions as F

    from solr_map_reduce_spark.extensions.text_analysis import normalize_url
    from solr_map_reduce_spark.session import get_spark

    spark = get_spark(app_name="smrs-tests", master="local[4]",
                      shuffle_partitions=4)
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = df.select(
        normalize_url(F.col("url")).alias("once"),
        normalize_url(normalize_url(F.col("url"))).alias("twice"),
    ).collect()
    for r in got:
        assert r["once"] == r["twice"], urls


# -- driver-side Bloom positions vs the build expression ---------------------

# every ASCII length from 0 to 70 bytes rides in each batch, so the 4-, 8-
# and 32-byte lane boundaries of XXH64 are always crossed; st.text() adds
# multi-byte characters at arbitrary offsets
_BOUNDARY_STRINGS = ["".join(chr(97 + (7 * i) % 26) for i in range(n)) for n in range(71)]


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.text(max_size=40), min_size=0, max_size=40),
    st.one_of(st.integers(3, 24).map(lambda e: 1 << e), st.integers(1, 1 << 24)),
    st.integers(1, 6),
)
def test_driver_bloom_positions_equal_the_build_expression(strings, m, k):
    """``_term_positions`` (the query-side XXH64 port) must equal
    ``_positions_col`` (the JVM expression the bitmaps were built with) on
    any string and any width: one differing position is a Bloom false
    negative."""
    import pyspark.sql.functions as F

    from solr_map_reduce_spark.session import get_spark, local_frame
    from solr_map_reduce_spark.term_blooms import _positions_col, _term_positions

    spark = get_spark(app_name="smrs-tests", master="local[4]",
                      shuffle_partitions=4)
    terms = sorted(set(strings) | set(_BOUNDARY_STRINGS))
    rows = local_frame(spark, [(t,) for t in terms], "t string").select(
        "t", _positions_col(F.col("t"), m, k).alias("p")
    ).collect()
    assert len(rows) == len(terms)
    for r in rows:
        assert _term_positions(r["t"], m, k) == list(r["p"]), (r["t"], m, k)


# -- driver-side ANN probe == its Spark counterpart, bit for bit --------------

def _spark():
    from solr_map_reduce_spark.session import get_spark

    return get_spark(app_name="smrs-tests", master="local[4]", shuffle_partitions=4)


def _bits(x):
    """A score's exact bits (NaN, the NULL marker, compares equal)."""
    import struct

    return None if x is None or x != x else struct.pack("<d", x)


# the values the fold must agree on: zeros of both signs, the non-finite,
# products that overflow or underflow, and ordinary numbers
_elements = st.one_of(
    st.sampled_from([0.0, -0.0, float("nan"), float("inf"), float("-inf"),
                     1e300, -1e300, 5e-324]),
    st.floats(-1e3, 1e3, allow_nan=False, allow_infinity=False),
)


@st.composite
def _fold_case(draw):
    dim = draw(st.integers(min_value=1, max_value=5))
    elem = draw(st.sampled_from(["double", "float"]))
    query = draw(st.lists(st.floats(-10, 10, allow_nan=False, allow_subnormal=False)
                          .filter(lambda x: x != 0.0), min_size=dim, max_size=dim))
    vector = st.one_of(
        st.none(),
        st.just([0.0] * dim),
        st.lists(st.one_of(_elements, st.none()), min_size=dim, max_size=dim),
        st.lists(_elements, min_size=0, max_size=dim + 2),  # length mismatch
    )
    vectors = draw(st.lists(vector, min_size=1, max_size=12))
    if elem == "float":
        with np.errstate(all="ignore"):
            vectors = [
                None if v is None else
                [None if x is None else float(np.float32(x)) for x in v]
                for v in vectors
            ]
    return elem, query, vectors


@settings(max_examples=40, deadline=None)
@given(_fold_case(), st.sampled_from(["cosine", "dot"]))
def test_driver_fold_equals_spark_fold(case, metric):
    from solr_map_reduce_spark.extensions import similarity as sim
    from solr_map_reduce_spark.session import local_frame

    import pytest

    elem, query, vectors = case
    frame = local_frame(_spark(), list(enumerate(vectors)), f"id long, v array<{elem}>")
    attach = sim.attach_cosine_score if metric == "cosine" else sim.attach_dot_score
    arrow = pa.array(vectors, type=pa.list_(pa.float64() if elem == "double"
                                            else pa.float32()))
    if metric == "cosine" and not np.sqrt(np.sum(np.square(query))):
        # a query whose norm underflows to zero is refused by both
        with pytest.raises(ValueError, match="zero-magnitude"):
            attach(frame, query, vec_col="v", nonfinite="null")
        with pytest.raises(ValueError, match="zero-magnitude"):
            sim.fold_scores(arrow, query, metric)
        return
    want = {
        r["id"]: _bits(r["score"])
        for r in attach(frame, query, vec_col="v", nonfinite="null").collect()
    }
    got = sim.fold_scores(arrow, query, metric)
    assert {i: _bits(float(x)) for i, x in enumerate(got)} == want


@settings(max_examples=25, deadline=None)
@given(
    st.lists(st.tuples(st.sampled_from("abcdef"), st.integers(0, 4)),
             min_size=0, max_size=15),
    st.lists(st.tuples(st.one_of(st.sampled_from("abcdeg"), st.none()),
                       st.one_of(st.integers(0, 5), st.none())),
             min_size=1, max_size=10),
)
def test_driver_liveness_equals_apply_liveness(rows, tombs):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from solr_map_reduce_spark.extensions import ann_sidecar
    from solr_map_reduce_spark.fs import LocalFS
    from solr_map_reduce_spark.session import local_frame

    spark = _spark()
    base = StructType([StructField("k", StringType())])
    with tempfile.TemporaryDirectory() as side:
        local_frame(
            spark, tombs, ann_sidecar._tombstone_schema(base, "k")
        ).write.parquet(os.path.join(side, ann_sidecar.TOMBSTONES))
        frame = local_frame(spark, rows, StructType(
            [StructField("k", StringType()),
             StructField(ann_sidecar.EPOCH_COL, LongType())]))
        tomb_df = ann_sidecar._read_tombstones(spark, LocalFS(), side, base, "k")
        want = sorted(
            tuple(r) for r in ann_sidecar._apply_liveness(frame, tomb_df, "k").collect()
        )
        alive = ann_sidecar.alive_mask(
            pa.array([k for k, _ in rows], pa.string()),
            np.asarray([e for _, e in rows], dtype=np.int64),
            ann_sidecar.tombstone_max(LocalFS(), side, base, "k"),
        )
    assert sorted(r for r, a in zip(rows, alive) if a) == want


@settings(max_examples=15, deadline=None)
@given(
    st.integers(min_value=1, max_value=3),  # m
    st.integers(min_value=1, max_value=4),  # ksub
    st.booleans(),  # residual
    st.booleans(),  # a NaN codeword: its rows' scores are NULL
    st.integers(min_value=0, max_value=2**31 - 1),  # seed
    st.integers(min_value=1, max_value=8),  # k
)
def test_driver_adc_equals_pq_topk(m, ksub, residual, poison, seed, k):
    from pyspark.sql.types import (
        ArrayType, IntegerType, LongType, ShortType, StructField, StructType,
    )

    from solr_map_reduce_spark.extensions import ann_sidecar
    from solr_map_reduce_spark.extensions import similarity as sim
    from solr_map_reduce_spark.session import local_frame

    rng = np.random.RandomState(seed)
    dsub, n_buckets, n = 2, 3, 20
    books = rng.randn(m, ksub, dsub)
    if poison:
        books[0, 0, 0] = np.nan
    codec = sim.PqCodec(
        books, id_col="id",
        coarse=rng.randn(n_buckets, m * dsub) if residual else None,
    )
    # few distinct codes: equal scores, so the key decides the order
    rows = [(int(i), int(rng.randint(n_buckets)),
             [int(c) for c in rng.randint(ksub, size=m)]) for i in rng.permutation(n)]
    query = rng.randn(m * dsub).tolist()
    frame = local_frame(_spark(), rows, StructType([
        StructField("id", LongType()), StructField("bucket", IntegerType()),
        StructField("pq_code", ArrayType(ShortType()))]))
    want = [(r["id"], _bits(r["score"]))
            for r in codec.topk(frame, query, k=k, bucket_col="bucket").collect()]
    lut, bias = codec.adc_tables(query)
    scores = sim.adc_lut_sum(lut, np.asarray([c for *_, c in rows], dtype=np.int64))
    if bias is not None:
        scores = scores + bias[np.asarray([b for _, b, _ in rows])]
    keys, top = ann_sidecar._keep_topk([i for i, *_ in rows], scores, k)
    assert [(key, _bits(s)) for key, s in zip(keys, top.tolist())] == want


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.sampled_from([0.0, -0.0, 1.0, -1.0, 2.5, float("inf"),
                              float("-inf"), float("nan")]),
             min_size=0, max_size=20),
    st.integers(min_value=1, max_value=10),
    st.booleans(),
)
def test_driver_topk_order_equals_spark_order(scores, k, string_keys):
    # the driver's NaN stands for a NULL score
    import pyspark.sql.functions as F
    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    from solr_map_reduce_spark.extensions import ann_sidecar
    from solr_map_reduce_spark.session import local_frame

    # unique keys in shuffled order: every tie falls to the key
    order = np.random.RandomState(len(scores)).permutation(len(scores))
    keys = [f"k{int(i):02d}" if string_keys else int(i) for i in order]
    nulls = [None if s != s else s for s in scores]
    frame = local_frame(_spark(), list(zip(keys, nulls)), StructType([
        StructField("key", StringType() if string_keys else LongType()),
        StructField("score", DoubleType())]))
    want = [(r["key"], _bits(r["score"]))
            for r in frame.orderBy(F.desc("score"), F.col("key")).limit(k).collect()]
    got_keys, got = ann_sidecar._keep_topk(keys, scores, k)
    assert [(key, _bits(s)) for key, s in zip(got_keys, got.tolist())] == want
