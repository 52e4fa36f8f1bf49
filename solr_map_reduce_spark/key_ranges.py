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

Build: one column-pruned pass over the key column grouped by
``input_file_name()`` — no shuffle wider than (file, min, max).

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

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

KEY_RANGES_DIR = "_key_ranges"
META = "_META.json"

# Spark DataType.simpleString() names (what write_key_ranges stores)
_INT_TYPES = {"tinyint", "smallint", "int", "bigint"}
_FLOAT_TYPES = {"float", "double"}


def _relative_file(full: str, shard: int) -> str:
    """File URI → name relative to its shard dir (artifact-relocatable)."""
    marker = f"shard={shard}/"
    i = full.rfind(marker)
    return full[i + len(marker):] if i >= 0 else full.rsplit("/", 1)[-1]


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
        from decimal import Decimal

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


def write_key_ranges(
    spark: SparkSession, path: str, shards: list[int] | None = None
) -> dict:
    """Compute and persist per-file (min, max, rows) of the unique key in
    the shard-partitioned layout (``_key_ranges/``).  ``shards`` restricts
    the recompute to those shard dirs (partition-pruned scan) and rewrites
    ONLY those shards' span files — the ``merge_into`` refresh path is
    O(touched) in the scan, the sidecar write, AND the driver-side reads
    (untouched shards contribute only their META row totals; their span
    files are never opened).  A shard META lists but whose span file is
    missing (torn sidecar) is recomputed from its parquet alongside the
    touched shards — never written as empty, which would hide its rows.
    Returns ``{"key_type", "shards": {shard: {file: [lo, hi, rows]}}}``
    covering the shards this call computed (the full artifact on a full
    rebuild)."""
    from solr_map_reduce_spark.fs import get_fs
    from solr_map_reduce_spark.fs import join as fs_join
    from solr_map_reduce_spark.indexing import MANIFEST, SHARD_COL, read_index

    fs = get_fs(path, spark)
    manifest = json.loads(fs.read_text(fs_join(path, MANIFEST)))
    key = manifest["unique_key"]

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

    idx = read_index(spark, path)
    if shards is not None:
        idx = idx.filter(F.col(SHARD_COL).isin([int(s) for s in shards]))
    per_file = (
        idx.select(
            F.col(SHARD_COL).alias("_s"),
            F.input_file_name().alias("_f"),
            F.col(key).alias("_k"),
        )
        .groupBy("_s", "_f")
        .agg(
            F.min("_k").alias("_lo"),
            F.max("_k").alias("_hi"),
            F.count(F.lit(1)).alias("_n"),
        )
        .collect()
    )

    key_type = idx.schema[key].dataType.simpleString()
    shard_maps: dict = {}
    refreshed: set[str] = set()
    for row in per_file:
        s = str(int(row["_s"]))
        refreshed.add(s)
        shard_maps.setdefault(s, {})[_relative_file(row["_f"], int(row["_s"]))] = [
            row["_lo"], row["_hi"], row["_n"],
        ]
    if shards is not None:
        # a touched shard whose rewrite produced no rows still needs its
        # stale span file replaced (with an empty one)
        refreshed.update(str(int(s)) for s in shards)
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
