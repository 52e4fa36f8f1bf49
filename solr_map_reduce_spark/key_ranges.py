"""Per-segment key-range sidecar — file pruning for point lookups.

The reference's artifact is a Lucene index: a point lookup walks each
segment's term dictionary and touches only the segment(s) containing the
key.  This engine's artifact writes key-sorted segment files per shard
(``indexing.write``: ``sortWithinPartitions(shard, key)`` +
``maxRecordsPerFile``), so every segment file covers a contiguous key
range — but a stock parquet scan still lists and opens every file in the
shard to learn that from the footers.  The sidecar hoists those ranges
driver-side, SHARD-PARTITIONED (the Lucene/Iceberg-manifest shape — one
manifest per partition, loaded lazily):

    out/_key_ranges/_META.json      {"format": 2, "key_type": "...",
                                     "shard_rows": {"0": 1234, ...}}
    out/_key_ranges/shard_0.json    {"files": [[name, lo, hi, rows], ...]}
                                    (spans sorted by lo)

A point lookup loads ONLY the routed shard's span file and bisects the
sorted spans — per-lookup work is O(log segments-in-shard), bounded by the
admitted shard, never O(total files).  ``count()`` is O(1) from the META
row totals with zero span-file reads.  This is the only layout read: any
other (the monolithic ``_KEY_RANGES.json`` of older builds) reads as no
sidecar, i.e. unpruned exact scans until the next build or mutation writes
this one.

Build: from the parquet footers, in the driver — no Spark job.  Every
data file of a written shard dir has its footer read (``fs.read_footer``:
the file's tail only, on any scheme); a file's span is the min of its row
groups' key ``min``, the max of their ``max`` and the sum of their rows,
which equals Spark's per-file ``min``/``max``/``count``.  A file whose
footer carries no min/max for the key (a writer may omit them, e.g. for
values over 4 KB) or whose key type cannot be pruned gets null bounds, and
null bounds admit every query: answers stay exact, at one extra file read.

Query: ``SearchIndex.get/get_many`` intersect the key with each file's
[min, max] and read ONLY the admitted files (plus the shard partition
filter when the routing mode is reproducible driver-side).  Because the
comparison uses the stored parquet values themselves, pruning has no false
negatives; a file whose range admits the key but lacks it costs one extra
file read.  Under ``routing="native"`` (hash computed inside the JVM, no
driver-side parity) this restores point-lookup pruning entirely from the
sidecar.

Mutation safety: any rewrite changes file names, so a stale sidecar could
MISS rows (false negative).  Every engine mutation path refreshes the
sidecar in the same operation — ``merge_into`` and ``delete_where``
recompute the touched shards (rewriting only those shards' span files),
``compact`` recomputes all (its rewrite renames every segment).

At 100 TB: ~800k segments across thousands of shards (SCALING.md's
estimate).  One whole-artifact file would be an ~80 MB JSON parsed per open
and walked per lookup; the partitioned layout keeps each shard's span file
KB-scale, loads only the shard(s) a query routes to, and answers inside a
shard by bisect.
"""

from __future__ import annotations

import json
from bisect import bisect_left, bisect_right
from collections.abc import Mapping
from decimal import Context, Decimal

from pyspark.sql import SparkSession

KEY_RANGES_DIR = "_key_ranges"
META = "_META.json"

# Spark DataType.simpleString() names (what write_key_ranges stores)
_INT_TYPES = {"tinyint", "smallint", "int", "bigint"}
_FLOAT_TYPES = {"float", "double"}


def _coerce(kt: str, value):
    """Coerce a bound/key to the comparison domain of key type ``kt``.
    Raises (TypeError/ValueError) when the value can't inhabit that domain —
    callers then SKIP pruning rather than risk a divergent comparison.

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
        # timestamp/date/boolean/binary…: Python-side comparison of the
        # json-serialized bounds does NOT reproduce Spark's typed compare
        # (e.g. '2020-01-05 23:00' vs a '2020-01-05T12:00' literal orders
        # by ' ' < 'T') — refuse to prune rather than risk hiding rows
        raise TypeError(f"unprunable key domain {kt!r}")
    if not isinstance(value, str):
        raise TypeError(f"string key domain needs str bounds, got {type(value)}")
    return value


def _is_nan(x) -> bool:
    return isinstance(x, float) and x != x


class _ShardSpans:
    """One shard's segment spans, sorted by lo for bisect lookups.

    ``always`` holds files whose stored bounds could not be coerced or are
    NaN — kept for every query (superset rule: a malformed entry must never
    hide rows; an extra file read is the only cost)."""

    __slots__ = ("los", "his", "max_hi", "names", "rows", "always")

    def __init__(self, key_type: str, files):
        # files: iterable of (name, lo, hi, rows)
        entries = []
        self.always: list[str] = []
        for name, lo, hi, n in files:
            try:
                lo_c, hi_c = _coerce(key_type, lo), _coerce(key_type, hi)
            except (TypeError, ValueError):
                self.always.append(name)
                continue
            if _is_nan(lo_c) or _is_nan(hi_c):
                self.always.append(name)
                continue
            entries.append((lo_c, hi_c, name, int(n)))
        entries.sort(key=lambda e: (e[0], e[1]))
        self.los = [e[0] for e in entries]
        self.his = [e[1] for e in entries]
        self.names = [e[2] for e in entries]
        self.rows = [e[3] for e in entries]
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


class KeyRanges(Mapping):
    """Loaded sidecar handle.  Shard span files load LAZILY on first query
    of that shard and are memoized — a point lookup against a routed key
    touches one shard's span file, regardless of total shard/file count.

    The Mapping view (``ranges["key_type"]`` / ``ranges["shards"]``) gives
    the whole picture; ``["shards"]`` materializes every shard file.
    """

    def __init__(self, key_type: str, fs, base: str, shard_rows: dict):
        self.key_type = key_type
        self._fs = fs
        self._base = base  # .../_key_ranges
        # shard id (str) -> row total; doubles as the shard directory
        self._shard_rows = dict(shard_rows)
        self._raw: dict[str, dict | None] = {}  # shard -> {fname: [lo, hi, n]}
        self._spans: dict[str, _ShardSpans] = {}

    # -- loading -------------------------------------------------------
    def shard_ids(self) -> list[str]:
        return sorted(self._shard_rows, key=lambda s: int(s))

    @property
    def shard_rows(self) -> dict:
        """Per-shard row totals from META — readable WITHOUT span files."""
        return dict(self._shard_rows)

    def has_span_file(self, s) -> bool:
        """True when shard ``s``'s span file is on disk (existence check
        only — the file is NOT read).  A shard listed in META without a
        span file is a torn sidecar (e.g. an interrupted write)."""
        from solr_map_reduce_spark.fs import join as fs_join

        return self._fs.exists(fs_join(self._base, f"shard_{int(s)}.json"))

    def _load_raw(self, s: str) -> dict | None:
        """That shard's {file: [lo, hi, n]} — or None when the shard is
        listed in META but its span file is MISSING (a torn sidecar, e.g.
        an interrupted write).  None means "unknown file set": callers
        must decline pruning for queries touching that shard — returning {}
        would silently hide every row of the shard (a legitimately empty
        shard has an empty span FILE, distinguishing the two)."""
        if s not in self._raw:
            from solr_map_reduce_spark.fs import join as fs_join

            full = fs_join(self._base, f"shard_{s}.json")
            if not self._fs.exists(full):
                self._raw[s] = None
            else:
                data = json.loads(self._fs.read_text(full))
                self._raw[s] = {
                    name: [lo, hi, n] for name, lo, hi, n in data["files"]
                }
        return self._raw[s]

    def _load_spans(self, s: str) -> _ShardSpans | None:
        raw = self._load_raw(s)
        if raw is None:
            return None
        if s not in self._spans:
            self._spans[s] = _ShardSpans(
                self.key_type,
                ((name, lo, hi, n) for name, (lo, hi, n) in raw.items()),
            )
        return self._spans[s]

    def loaded_shards(self) -> set[str]:
        """Shard span files read so far (lazy-loading introspection)."""
        return set(self._raw)

    # -- queries -------------------------------------------------------
    def total_rows(self) -> int:
        """O(1): summed from the per-shard totals, no span-file reads."""
        return sum(int(n) for n in self._shard_rows.values())

    def candidate_files(self, keys, shard=None) -> list[tuple[int, str]] | None:
        """(shard, file) pairs whose [min, max] admits ANY of the keys, or
        None when the sidecar can't answer (key type coercion failure).
        ``shard`` (an int or a set of ints) narrows the walk to the shards
        the router already placed the keys in — only THOSE shards' span
        files are loaded."""
        try:
            wanted = [_coerce(self.key_type, k) for k in keys]
        except (TypeError, ValueError):
            return None
        if any(_is_nan(k) for k in wanted):
            return None  # NaN key: comparison semantics diverge — no pruning
        allowed = None
        if shard is not None:
            allowed = {int(shard)} if isinstance(shard, int) else {int(x) for x in shard}
        out: set[tuple[int, str]] = set()
        for s in self.shard_ids():
            if allowed is not None and int(s) not in allowed:
                continue
            spans = self._load_spans(s)
            if spans is None:
                return None  # torn sidecar: unknown file set — no pruning
            for k in wanted:
                for name in spans.stab(k):
                    out.add((int(s), name))
        return sorted(out)

    def candidate_files_range(
        self, lo=None, hi=None, hi_exclusive: bool = False
    ) -> list[tuple[int, str]] | None:
        """(shard, file) pairs whose [min, max] OVERLAPS [lo, hi] (either
        bound None = unbounded), or None when the sidecar can't answer.
        A range can span shards, so every shard's span file is consulted
        (lazily; each stays a KB-scale read + bisect)."""
        try:
            lo_c = _coerce(self.key_type, lo) if lo is not None else None
            hi_c = _coerce(self.key_type, hi) if hi is not None else None
        except (TypeError, ValueError):
            return None
        if _is_nan(lo_c) or _is_nan(hi_c):
            return None
        out: list[tuple[int, str]] = []
        for s in self.shard_ids():
            spans = self._load_spans(s)
            if spans is None:
                return None  # torn sidecar: unknown file set — no pruning
            out.extend((int(s), name) for name in spans.overlap(lo_c, hi_c, hi_exclusive))
        return sorted(out)

    # -- Mapping view --------------------------------------------------
    def _all_shards(self) -> dict:
        for s in self.shard_ids():
            self._load_raw(s)
        return {s: (self._raw[s] or {}) for s in self.shard_ids()}

    def __getitem__(self, k):
        if k == "key_type":
            return self.key_type
        if k == "shards":
            return self._all_shards()
        raise KeyError(k)

    def __iter__(self):
        return iter(("key_type", "shards"))

    def __len__(self):
        return 2


def sidecar_exists(fs, path: str) -> bool:
    """True when the sidecar is present at ``path``."""
    from solr_map_reduce_spark.fs import join as fs_join

    return fs.exists(fs_join(path, KEY_RANGES_DIR, META))


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


def write_key_ranges(
    spark: SparkSession, path: str, shards: list[int] | None = None
) -> dict:
    """Compute and persist per-file (min, max, rows) of the unique key in
    the shard-partitioned layout (``_key_ranges/``), from the parquet
    footers, in the driver: no Spark job.  ``shards`` restricts the
    recompute to those shard dirs and rewrites ONLY those shards' span
    files — the ``merge_into`` refresh path is O(touched) in footer reads,
    the sidecar write, AND the sidecar reads (untouched shards contribute
    only their META row totals; their span files are never opened).  A
    shard META lists but whose span file is missing (torn sidecar) is
    recomputed from its parquet alongside the touched shards — never
    written as empty, which would hide its rows.  Returns ``{"key_type",
    "shards": {shard: {file: [lo, hi, rows]}}}`` covering the shards this
    call computed (the full artifact on a full rebuild)."""
    from solr_map_reduce_spark.fs import data_files, get_fs, read_footer
    from solr_map_reduce_spark.fs import join as fs_join
    from solr_map_reduce_spark.indexing import MANIFEST, SHARD_COL, artifact_schema

    fs = get_fs(path, spark)
    manifest = json.loads(fs.read_text(fs_join(path, MANIFEST)))
    key = manifest["unique_key"]
    dtype = artifact_schema(manifest)[key].dataType
    key_type = dtype.simpleString()

    carried_rows: dict[str, int] = {}  # untouched shard -> prior META total
    if shards is not None:
        prior = load_key_ranges(spark, path)
        if prior is None:
            # no sidecar to merge into: a subset write would cover ONLY the
            # refreshed shards and silently hide every other shard's rows
            # from pruned lookups/count — escalate to a full build (same
            # policy as write_term_blooms)
            shards = None
        else:
            # O(touched) in driver reads too: untouched shards' span files
            # are never OPENED — only their META row totals carry forward
            # (has_span_file is an existence check, not a read)
            torn: set[int] = set()
            touched = {str(int(s)) for s in shards}
            for s in prior.shard_ids():
                if s in touched:
                    continue
                if prior.has_span_file(s):
                    carried_rows[s] = int(prior.shard_rows[s])
                else:
                    # torn sidecar: META lists the shard but its span file
                    # is missing.  NEVER synthesize an empty span file
                    # (readers would treat the shard as having zero rows —
                    # silent false negatives); recompute that shard's spans
                    # from its parquet alongside the touched shards.
                    torn.add(int(s))
            if torn:
                shards = sorted({int(s) for s in shards} | torn)

    prefix = f"{SHARD_COL}="
    if shards is None:
        scanned = [
            int(d[len(prefix):]) for d in fs.listdir(path)
            if d.startswith(prefix) and d[len(prefix):].isdigit()
        ]
    else:
        scanned = [int(s) for s in shards]
    shard_maps: dict = {}
    for s in scanned:
        for f in data_files(fs, fs_join(path, f"{prefix}{s}")):
            lo, hi, n = _footer_span(read_footer(fs, f), key, dtype)
            if n:  # an empty file holds no key (Spark's aggregate skips it)
                shard_maps.setdefault(str(s), {})[f.rsplit("/", 1)[-1]] = [lo, hi, n]
    if shards is not None:
        # a touched shard whose rewrite produced no rows still needs its
        # stale span file replaced (with an empty one)
        refreshed = {str(int(s)) for s in shards}
    else:
        refreshed = set(shard_maps)

    base = fs_join(path, KEY_RANGES_DIR)
    fs.mkdirs(base)
    if shards is None:
        # full rebuild: clear any span files for shards that no longer exist
        for entry in list(fs.listdir(base)) if fs.isdir(base) else []:
            if entry.startswith("shard_") and entry.endswith(".json"):
                s = entry[len("shard_"):-len(".json")]
                if s not in shard_maps:
                    fs.delete(fs_join(base, entry))
    for s in sorted(refreshed, key=int):
        files = shard_maps.get(s, {})

        def _sortable(item):
            try:
                return (0, _coerce(key_type, item[1][0]))
            except (TypeError, ValueError):
                return (1, str(item[1][0]))

        body = {
            "files": [
                [name, lo, hi, int(n)]
                for name, (lo, hi, n) in sorted(files.items(), key=_sortable)
            ]
        }
        fs.write_text(fs_join(base, f"shard_{s}.json"), json.dumps(body, default=str))
        if not files:
            shard_maps[s] = {}
    shard_rows = dict(carried_rows)  # untouched shards: prior totals, no reads
    for s in refreshed:
        shard_rows[s] = sum(int(v[2]) for v in shard_maps.get(s, {}).values())
    # by shard number: the same artifact always writes the same bytes
    shard_rows = {s: shard_rows[s] for s in sorted(shard_rows, key=int)}
    meta = {"format": 2, "key_type": key_type, "shard_rows": shard_rows}
    # META written LAST: a reader needs it, so a crash mid-write leaves the
    # old META (stale but self-consistent with the still-present old span
    # files) or no sidecar at all — never a partial new one
    fs.write_text(fs_join(base, META), json.dumps(meta))
    return {"key_type": key_type, "shards": shard_maps}


def load_key_ranges(spark: SparkSession, path: str) -> KeyRanges | None:
    """Open the sidecar at ``path`` as a lazy :class:`KeyRanges` handle;
    None when absent."""
    from solr_map_reduce_spark.fs import get_fs
    from solr_map_reduce_spark.fs import join as fs_join

    fs = get_fs(path, spark)
    base = fs_join(path, KEY_RANGES_DIR)
    meta_path = fs_join(base, META)
    if fs.exists(meta_path):
        meta = json.loads(fs.read_text(meta_path))
        return KeyRanges(
            meta.get("key_type", "string"),
            fs=fs,
            base=base,
            shard_rows=meta.get("shard_rows", {}),
        )
    return None


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
