"""Per-segment key spans, read from the parquet footers — file pruning for
point lookups.

The reference's artifact is a Lucene index: a point lookup walks each
segment's term dictionary and touches only the segment(s) containing the
key, and each segment's metadata holds its doc count, so neither can lag
the data.  This engine's artifact writes key-sorted segment files per
shard (``indexing.write``: ``sortWithinPartitions(shard, key)`` +
``maxRecordsPerFile``), so every segment file covers a contiguous key
range, and its parquet footer already records that range (the row
groups' key ``min``/``max``) and its row count.  The footers are the only
store of the spans: nothing is written beside the data, so no build or
mutation refreshes a copy, and no copy can be stale or torn.

Load: :func:`load_key_ranges` opens a :class:`KeyRanges` handle from the
manifest alone.  The first query that touches a shard lists that shard's
data files and reads each footer (``fs.read_footer``: the file's tail
only, on any scheme, in the driver — no Spark job) into a
:class:`_ShardSpans`, sorted by lo for bisect.  ``SearchIndex`` keeps the
handle once per artifact generation, so each shard's footers are read at
most once per generation.  A file's span is the min of its row groups'
key ``min``, the max of their ``max`` and the sum of their rows — what
Spark's per-file ``min``/``max``/``count`` returns.  A file whose footer
carries no min/max for the key (a writer may omit them, e.g. for values
over 4 KB) or whose key type cannot be pruned gets null bounds, and null
bounds admit every query: answers stay exact, at one extra file read.

Query: ``SearchIndex.get/get_many`` intersect the key with each file's
[min, max] and read ONLY the admitted files (plus the shard partition
filter when the routing mode is reproducible driver-side).  Because the
comparison uses the stored parquet values themselves, pruning has no false
negatives; a file whose range admits the key but lacks it costs one extra
file read.  Under ``routing="native"`` (hash computed inside the JVM, no
driver-side parity) this restores point-lookup pruning entirely from the
footers.  ``count()`` sums the footer rows of every shard.

At 100 TB: ~800k segments across thousands of shards (SCALING.md's
estimate).  A lookup routed to one shard reads only that shard's footers
and answers inside it by bisect; ``count()`` and a key-range scan, which
span every shard, read every footer once per generation.
"""

from __future__ import annotations

import json
from bisect import bisect_left, bisect_right
from decimal import Context, Decimal

from pyspark.sql import SparkSession

# Spark DataType.simpleString() names of the prunable key types
_INT_TYPES = {"tinyint", "smallint", "int", "bigint"}
_FLOAT_TYPES = {"float", "double"}
# what _coerce raises for a value outside the key's domain (a malformed
# decimal raises decimal.InvalidOperation, an ArithmeticError)
_UNCOERCIBLE = (TypeError, ValueError, ArithmeticError)


def _coerce(kt: str, value):
    """Coerce a bound/key to the comparison domain of key type ``kt``.
    Raises one of ``_UNCOERCIBLE`` when the value can't inhabit that
    domain — callers then SKIP pruning rather than risk a divergent
    comparison.

    String keys require actual ``str`` inputs: Spark compares a string
    column against a numeric literal by CASTING THE COLUMN ("007" == 7
    matches), which lexicographic pruning would wrongly exclude."""
    if kt in _INT_TYPES:
        return int(str(value))  # int("3.5") raises -> no pruning, stays exact
    if kt in _FLOAT_TYPES:
        return float(value)
    if kt.startswith("decimal"):
        return Decimal(str(value))
    if kt != "string":
        # timestamp/date/boolean/binary…: a Python-side comparison does NOT
        # reproduce Spark's typed compare (e.g. '2020-01-05 23:00' vs a
        # '2020-01-05T12:00' literal orders by ' ' < 'T') — refuse to
        # prune rather than risk hiding rows
        raise TypeError(f"unprunable key domain {kt!r}")
    if not isinstance(value, str):
        raise TypeError(f"string key domain needs str bounds, got {type(value)}")
    return value


def _is_nan(x) -> bool:
    return isinstance(x, float) and x != x


class _ShardSpans:
    """One shard's segment spans, sorted by lo for bisect lookups.
    ``files`` keeps the ``(name, lo, hi, rows)`` entries as given.

    ``always`` holds files whose bounds are null, could not be coerced or
    are NaN — kept for every query (superset rule: a file without usable
    bounds must never hide rows; an extra file read is the only cost)."""

    __slots__ = ("files", "los", "his", "max_hi", "names", "always")

    def __init__(self, key_type: str, files):
        self.files = list(files)
        entries = []
        self.always: list[str] = []
        for name, lo, hi, _n in self.files:
            try:
                lo_c, hi_c = _coerce(key_type, lo), _coerce(key_type, hi)
            except _UNCOERCIBLE:
                self.always.append(name)
                continue
            if _is_nan(lo_c) or _is_nan(hi_c):
                self.always.append(name)
                continue
            entries.append((lo_c, hi_c, name))
        entries.sort(key=lambda e: (e[0], e[1]))
        self.los = [e[0] for e in entries]
        self.his = [e[1] for e in entries]
        self.names = [e[2] for e in entries]
        # prefix running max of hi: interval stabbing on sorted-by-lo spans
        # stays O(log n + matches) even if spans overlap
        self.max_hi = []
        cur = None
        for h in self.his:
            cur = h if cur is None or h > cur else cur
            self.max_hi.append(cur)

    def stab(self, key) -> list[str]:
        """Files whose [lo, hi] admits ``key`` (sorted-span bisect)."""
        out = list(self.always)
        p = bisect_right(self.los, key)
        i = p - 1
        while i >= 0 and self.max_hi[i] >= key:
            if self.his[i] >= key:
                out.append(self.names[i])
            i -= 1
        return out

    def overlap(self, lo, hi, hi_exclusive: bool) -> list[str]:
        """Files whose span OVERLAPS [lo, hi] (either bound None=open)."""
        out = list(self.always)
        if hi is None:
            p = len(self.los)
        elif hi_exclusive:
            p = bisect_left(self.los, hi)
        else:
            p = bisect_right(self.los, hi)
        i = p - 1
        while i >= 0 and (lo is None or self.max_hi[i] >= lo):
            if lo is None or self.his[i] >= lo:
                out.append(self.names[i])
            i -= 1
        return out


class KeyRanges:
    """The key spans of one artifact generation.  A shard's spans load
    LAZILY from its files' footers on the first query of that shard and
    are memoized — a point lookup against a routed key reads one shard's
    footers, regardless of total shard/file count."""

    def __init__(self, fs, path: str, key: str, dtype, shards: int):
        self.key_type = dtype.simpleString()
        self._fs = fs
        self._path = path
        self._key = key
        self._dtype = dtype
        self._shards = shards
        self._spans: dict[int, _ShardSpans] = {}

    def _load_spans(self, s: int) -> _ShardSpans:
        if s not in self._spans:
            from solr_map_reduce_spark.fs import data_files, read_footer
            from solr_map_reduce_spark.fs import join as fs_join
            from solr_map_reduce_spark.indexing import SHARD_COL

            files = []
            for f in data_files(self._fs, fs_join(self._path, f"{SHARD_COL}={s}")):
                lo, hi, n = _footer_span(read_footer(self._fs, f), self._key, self._dtype)
                if n:  # an empty file holds no key
                    files.append((f.rsplit("/", 1)[-1], lo, hi, n))
            self._spans[s] = _ShardSpans(self.key_type, files)
        return self._spans[s]

    def loaded_shards(self) -> set[int]:
        """Shards whose footers were read so far (lazy-loading
        introspection)."""
        return set(self._spans)

    def total_rows(self) -> int:
        """Rows of the artifact: every shard's footer row counts."""
        return sum(n for s in range(self._shards) for *_, n in self._load_spans(s).files)

    def candidate_files(self, keys, shard=None) -> list[tuple[int, str]] | None:
        """(shard, file) pairs whose [min, max] admits ANY of the keys, or
        None when a key cannot be compared (type coercion failure, NaN).
        ``shard`` (an int or a set of ints) narrows the walk to the shards
        the router already placed the keys in — only THOSE shards'
        footers are read."""
        try:
            wanted = [_coerce(self.key_type, k) for k in keys]
        except _UNCOERCIBLE:
            return None
        if any(_is_nan(k) for k in wanted):
            return None  # NaN key: comparison semantics diverge — no pruning
        allowed = None
        if shard is not None:
            allowed = {int(shard)} if isinstance(shard, int) else {int(x) for x in shard}
        out: set[tuple[int, str]] = set()
        for s in range(self._shards):
            if allowed is None or s in allowed:
                spans = self._load_spans(s)
                out.update((s, name) for k in wanted for name in spans.stab(k))
        return sorted(out)

    def candidate_files_range(
        self, lo=None, hi=None, hi_exclusive: bool = False
    ) -> list[tuple[int, str]] | None:
        """(shard, file) pairs whose [min, max] OVERLAPS [lo, hi] (either
        bound None = unbounded), or None when a bound cannot be compared.
        A range can span shards, so every shard's spans are consulted."""
        try:
            lo_c = _coerce(self.key_type, lo) if lo is not None else None
            hi_c = _coerce(self.key_type, hi) if hi is not None else None
        except _UNCOERCIBLE:
            return None
        if _is_nan(lo_c) or _is_nan(hi_c):
            return None
        out: list[tuple[int, str]] = []
        for s in range(self._shards):
            out.extend((s, name) for name in self._load_spans(s).overlap(lo_c, hi_c, hi_exclusive))
        return sorted(out)


def _nan_last(v):
    # Spark orders NaN above every double (so does its max): Python's
    # min/max would answer by argument order instead
    return (_is_nan(v), v)


def _footer_span(meta, key: str, dtype) -> tuple:
    """``(lo, hi, rows)`` of column ``key`` in one file, from its footer:
    the min of the row groups' ``min``, the max of their ``max`` and the
    sum of their rows — what a Spark ``min``/``max``/``count`` over the
    file returns.  A row group whose key column carries no min/max gives
    the file null bounds (every query keeps it, ``_ShardSpans.always``);
    an all-null row group adds nothing, as null keys add nothing to
    ``min``/``max``.  Key types ``_coerce`` cannot prune get null bounds
    without reading their statistics."""
    from pyspark.sql.types import DecimalType

    rows = meta.num_rows
    kt = dtype.simpleString()
    if not (kt == "string" or kt in _INT_TYPES or kt in _FLOAT_TYPES
            or isinstance(dtype, DecimalType)):
        return None, None, rows
    col = [meta.schema.column(i).path for i in range(meta.num_columns)].index(key)
    los, his = [], []
    for g in range(meta.num_row_groups):
        rg = meta.row_group(g)
        st = rg.column(col).statistics
        if rg.num_rows == 0 or (
            st is not None and st.has_null_count and st.null_count == rg.num_rows
        ):
            continue
        if st is None or not st.has_min_max:
            return None, None, rows
        if isinstance(dtype, DecimalType):
            # pyarrow cannot extract int-backed decimal statistics: the raw
            # unscaled integer (big-endian bytes when fixed-length) over
            # the recorded scale is the value Spark returns — rescaled in
            # a context of the type's precision, so no digit is rounded
            exact = Context(prec=dtype.precision)
            lo, hi = (
                Decimal(r if isinstance(r, int) else int.from_bytes(r, "big", signed=True))
                .scaleb(-dtype.scale, exact)
                for r in (st.min_raw, st.max_raw)
            )
        else:
            lo, hi = st.min, st.max
        los.append(lo)
        his.append(hi)
    if not los:
        return None, None, rows
    return min(los, key=_nan_last), max(his, key=_nan_last), rows


def load_key_ranges(spark: SparkSession, path: str) -> KeyRanges:
    """The key spans of the artifact at ``path`` as a lazy
    :class:`KeyRanges` handle: opening it reads only the manifest (the
    key, its recorded type and the shard count); footers load per shard
    on first use."""
    from solr_map_reduce_spark.fs import get_fs
    from solr_map_reduce_spark.fs import join as fs_join
    from solr_map_reduce_spark.indexing import MANIFEST, artifact_schema

    fs = get_fs(path, spark)
    manifest = json.loads(fs.read_text(fs_join(path, MANIFEST)))
    key = manifest["unique_key"]
    dtype = artifact_schema(manifest)[key].dataType
    return KeyRanges(fs, path, key, dtype, int(manifest["shards"]))


def write_key_ranges(spark: SparkSession, path: str, shards: list[int] | None = None) -> None:
    """No-op.  The spans are read from the parquet footers when queried,
    so no build or mutation writes them; the name stays because
    ``perfbench/run.py`` wraps it when tracing."""


def next_prefix(prefix: str) -> str | None:
    """Smallest string strictly greater than every string with ``prefix``
    (increment-with-carry on the last codepoint); None when no such string
    exists (prefix is all U+10FFFF).

    The increment SKIPS the surrogate range (U+D800–U+DFFF): a lone
    surrogate is not encodable as UTF-8, so using it in a Spark literal
    raises deep in py4j — and no VALID string orders inside the gap, so
    jumping U+D7FF -> U+E000 loses nothing (stored parquet keys are
    valid UTF-8)."""
    chars = list(prefix)
    while chars:
        cp = ord(chars[-1])
        if cp < 0x10FFFF:
            nxt = cp + 1
            if 0xD800 <= nxt <= 0xDFFF:
                nxt = 0xE000
            chars[-1] = chr(nxt)
            return "".join(chars)
        chars.pop()
    return None


def candidate_files(
    ranges: KeyRanges, keys, shard=None
) -> list[tuple[int, str]] | None:
    """Function spelling of :meth:`KeyRanges.candidate_files`
    (``perfbench/layers.py`` imports it by this name)."""
    return ranges.candidate_files(keys, shard=shard)
