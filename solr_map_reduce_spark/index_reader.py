"""SearchIndex: the query surface over a built artifact (SURVEY §2.C).

The reference's artifact answers queries through Solr; ours answers them
natively through Spark SQL with the artifact's physical layout doing the
work of the inverted index:

- ``shard=N`` partition directories → partition pruning for point lookups
  (the router tells us the only shard a key can live in — C2/C8);
- key-sorted row groups → parquet min/max stats prune row groups within the
  shard (the term-index analog);
- columnar storage → projection (C5) reads only requested columns.

Every read is pinned to the schema the artifact's writer recorded in the
manifest (``indexing.artifact_schema``), so planning one infers nothing from
parquet footers and runs no Spark job; a manifest without a recorded schema
is refused at ``open``.  A sidecar in a layout the engine no longer writes
reads as absent, and the query takes the exact unpruned path.

    idx = SearchIndex.open(spark, path)
    idx.count()                         # C1
    idx.get("doc-42")                   # C2 (prunes to one shard)
    idx.search(filters={"lang": "en"}, sort=[("n_chars", "desc")], limit=10)
    idx.facet("lang")                   # facet-style counts
    idx.delete_where(F.col("lang") == "xx", new_path)   # C3 rewrite
"""

from __future__ import annotations

import json
import math
import re
from collections.abc import Mapping, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from solr_map_reduce_spark import key_ranges, search_stats, term_blooms
from solr_map_reduce_spark.indexing import MANIFEST, SHARD_COL, artifact_schema
from solr_map_reduce_spark.lru import LRU
from solr_map_reduce_spark.operators.routing import ShardRouter
from solr_map_reduce_spark.session import local_frame

# The read side's sidecar loaders, each run at most once per artifact
# generation by SearchIndex._sidecar.  A loader returns None for a sidecar
# that is absent or in a layout this engine does not write; readers then
# take the exact unpruned / computed path.
_SIDECAR_LOADERS = {
    "blooms": term_blooms.load_term_blooms,
    "stats": search_stats.load_search_stats,
    "key_ranges": key_ranges.load_key_ranges,
}


def _parse_mlt_local_params(params: dict) -> "tuple[int, dict]":
    """(k, more_like_this kwargs) from Solr MLTQParser local params —
    each param maps independently (qf -> field, mintf -> min_tf,
    maxqt/maxdfterms -> max_terms, mindf -> min_df, topk/rows -> k)."""
    mlt_kw: dict = {}
    if "qf" in params:
        mlt_kw["field"] = params["qf"]
    if "mintf" in params:
        mlt_kw["min_tf"] = _int_local_param(params, "mintf", 1)
    if "maxqt" in params or "maxdfterms" in params:
        mlt_kw["max_terms"] = max(
            _int_local_param(
                params, "maxqt" if "maxqt" in params else "maxdfterms", 10
            ),
            1,
        )
    if "mindf" in params:
        mlt_kw["min_df"] = _int_local_param(params, "mindf", 1)
    k = _int_local_param(params, "topk" if "topk" in params else "rows", 10)
    return k, mlt_kw


def _float_local_param(params: dict, name: str, default: float) -> float:
    """Float local param with a clean QuerySyntaxError on garbage."""
    from solr_map_reduce_spark.extensions import search

    raw = params.get(name, default)
    try:
        return float(raw)
    except (TypeError, ValueError):
        raise search.QuerySyntaxError(
            f"local param {name}={raw!r} is not a number"
        ) from None


def _int_local_param(params: dict, name: str, default: int) -> int:
    """Integer local param with a clean QuerySyntaxError on garbage
    (int('abc') would surface as a raw ValueError traceback)."""
    from solr_map_reduce_spark.extensions import search

    raw = params.get(name, default)
    try:
        return int(raw)
    except (TypeError, ValueError):
        raise search.QuerySyntaxError(
            f"local param {name}={raw!r} is not an integer"
        ) from None


class SearchIndex:
    """Read-side handle on a sharded index artifact."""

    def __init__(self, spark: SparkSession, path: str, manifest: dict):
        self.spark = spark
        self.path = path
        self.manifest = manifest
        self.unique_key: str = manifest["unique_key"]
        self.shards: int = int(manifest["shards"])
        self.routing: str = manifest.get("routing", "solr")
        # root-shard placement only depends on the hash ring split (C8)
        self._router = ShardRouter(shards=self.shards, num_partitions=self.shards)
        # Everything derived from one artifact generation, emptied together
        # by _check_generation (the Solr searcher's caches, dropped with it
        # on commit): the loaded sidecars ("blooms", "stats", "key_ranges"),
        # the artifact DataFrame ("df": its file listing costs tens of ms
        # per read), the manifest's read schema ("schema"), ANN handles
        # (("ann", field)); and two LRUs — (field, terms) -> dfs plus fuzzy
        # expansions, and compiled query plans (the queryResultCache's plan
        # half: execution still runs, so results are never cached stale).
        self._cache: dict = {}
        self._read_schema()  # refuses a manifest with no recorded schema
        self._dfs_memo = LRU(1024)
        self._plan_memo = LRU(256)
        self._warned_no_stats_fq = False
        # named other-collection handles for {!join fromIndex=...}
        # (attach_collection); handle-level registry, survives this
        # artifact's generation changes (each attached handle guards
        # its own generation)
        self._collections: dict = {}
        # {!join fromIndex=} resolves ONLY through attach_collection by
        # default (Solr errors on an unknown core); opt in to let an
        # unregistered name open as an artifact path — query text is
        # often caller-supplied (CLI --q), and the silent open would
        # both read arbitrary directories and mask a typo'd attach name
        self.allow_path_from_index: bool = False
        # generation guard: every engine mutation rewrites the manifest
        # (with a bumped generation counter + fresh uuid), so a CONTENT
        # hash of it detects an artifact mutated UNDER a long-lived
        # handle — stale cached blooms/key-ranges would silently hide
        # rows (false negatives) and stale stats would skew scores.
        # Content, not mtime: filesystem mtime is millisecond-or-coarser
        # granular, so two mutations in one timestamp quantum would slip
        # past an mtime compare.  Checked (one small read) before any
        # cached sidecar is served; on change every cache drops and the
        # manifest reloads.
        self._generation = self._current_generation()

    def _current_generation(self) -> str | None:
        import hashlib

        from solr_map_reduce_spark.fs import get_fs
        from solr_map_reduce_spark.fs import join as fs_join

        try:
            text = get_fs(self.path, self.spark).read_text(
                fs_join(self.path, MANIFEST)
            )
        except Exception:
            return None
        return hashlib.sha1(text.encode("utf-8")).hexdigest()

    def _check_generation(self) -> None:
        gen = self._current_generation()
        if gen == self._generation:
            return
        from solr_map_reduce_spark.fs import get_fs
        from solr_map_reduce_spark.fs import join as fs_join

        for memo in (self._cache, self._dfs_memo, self._plan_memo):
            memo.clear()
        try:
            fs = get_fs(self.path, self.spark)
            self.manifest = json.loads(fs.read_text(fs_join(self.path, MANIFEST)))
            # refresh the DERIVED routing state too: a promoted rebuild can
            # change shard count/routing, and a stale router would prune
            # point lookups to the wrong shard (silent empty results)
            self.unique_key = self.manifest["unique_key"]
            self.shards = int(self.manifest["shards"])
            self.routing = self.manifest.get("routing", "solr")
            self._router = ShardRouter(
                shards=self.shards, num_partitions=self.shards
            )
            # commit the new generation ONLY after the derived state
            # matches it: committing first would pin an OLD
            # manifest/router under the NEW hash on a transient reload
            # failure — every later check would early-return and the
            # handle would route lookups with a stale shard count
            # forever (silent empty results)
            self._generation = gen
        except Exception:
            pass  # manifest mid-rewrite: old generation kept -> next
            # call retries the reload (caches already cleared)

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "SearchIndex":
        from solr_map_reduce_spark.fs import get_fs
        from solr_map_reduce_spark.fs import join as fs_join

        fs = get_fs(path, spark)
        manifest = json.loads(fs.read_text(fs_join(path, MANIFEST)))
        return cls(spark, path, manifest)

    def df(self) -> DataFrame:
        self._check_generation()
        if "df" not in self._cache:
            self._cache["df"] = self.spark.read.schema(self._read_schema()).parquet(
                self.path
            )
        return self._cache["df"]

    def _sidecar(self, name: str):
        """The current generation's ``name`` sidecar (a key of
        ``_SIDECAR_LOADERS``), loaded once per generation; None when it
        is absent or in a layout this engine does not write."""
        self._check_generation()
        if name not in self._cache:
            self._cache[name] = _SIDECAR_LOADERS[name](self.spark, self.path)
        return self._cache[name]

    # -- C1 ------------------------------------------------------------
    def count(self) -> int:
        """Match-all count.  Served O(1) driver-side from the key-range
        sidecar's per-segment row counts when one is stored (Lucene keeps
        the same docCount in segment metadata) — every engine mutation
        refreshes the sidecar, so the counts are exact; without a sidecar,
        a parquet metadata-only count (still no data scan)."""
        ranges = self._sidecar("key_ranges")
        if ranges is not None:
            return ranges.total_rows()
        return self.df().count()

    # -- C2: point lookup with shard pruning ---------------------------
    def _shard_of(self, key: str) -> int | None:
        """Shard a key must live in, or None when the routing mode can't be
        reproduced driver-side (native routing hashes inside the JVM —
        lookups still work, scanning all shards)."""
        if self.routing != "solr":
            return None
        return self._router.micro_shard_of(str(key))

    def _segment_pruned(self, keys: Sequence[object]) -> DataFrame | None:
        """Segment-file pruning via the key-range sidecar
        (key_ranges.py): a DataFrame over ONLY the segment files whose
        stored [min, max] admits one of the keys — the Lucene per-segment
        term-dictionary cost model.  None when no sidecar is stored
        (callers fall back to the shard-pruned scan).  Works under
        ``routing="native"`` too, where driver-side shard math is
        unavailable: the ranges alone restore the pruning."""
        ranges = self._sidecar("key_ranges")
        if ranges is None:
            return None
        shards = {self._shard_of(str(k)) for k in keys}
        shard = shards if None not in shards else None
        return self._files_df(ranges.candidate_files(keys, shard=shard))

    @property
    def columns(self) -> list[str]:
        """Artifact column order (data columns + shard), from the manifest —
        no file listing needed."""
        return self._read_schema().fieldNames()

    def _read_schema(self):
        """The schema the artifact's writer recorded (``artifact_schema``),
        once per generation: every read of the artifact is pinned to it."""
        if "schema" not in self._cache:
            self._cache["schema"] = artifact_schema(self.manifest)
        return self._cache["schema"]

    def _files_df(self, cands: list[tuple[int, str]] | None) -> DataFrame | None:
        from solr_map_reduce_spark.fs import join as fs_join

        if cands is None:
            return None
        if not cands:  # no segment can hold any admitted key
            return local_frame(self.spark, [], self._read_schema())
        paths = [fs_join(self.path, f"{SHARD_COL}={s}", f) for s, f in cands]
        # schema-pinned: zero footer inference, so planning runs no job
        out = (
            self.spark.read.schema(self._read_schema())
            .option("basePath", self.path)
            .parquet(*paths)
        )
        return out.select(self.columns)

    def key_range(self, lo=None, hi=None) -> DataFrame:
        """Contiguous key scan ``lo <= key <= hi`` (either bound None =
        unbounded), segment-pruned through the key-range sidecar when one
        is stored: only files whose span overlaps the range are read."""
        ranges = self._sidecar("key_ranges")
        out = None
        if ranges is not None:
            out = self._files_df(ranges.candidate_files_range(lo=lo, hi=hi))
        if out is None:
            out = self.df()
        key = F.col(self.unique_key)
        if lo is not None:
            out = out.filter(key >= lo)
        if hi is not None:
            out = out.filter(key <= hi)
        return out

    def prefix_key(self, prefix: str) -> DataFrame:
        """All docs whose unique key starts with ``prefix`` — the Solr
        composite-id scan (``root!*``): with composite routing a root's
        docs are co-sharded and sort-adjacent, so this touches one shard's
        few segments."""
        out = None
        # pruning only under a string key: a numeric sidecar coerces the
        # prefix to a NUMBER, whose range is not the string-prefix range
        # ("12" would wrongly exclude 120)
        ranges = self._sidecar("key_ranges")
        if ranges is not None and ranges.key_type == "string":
            nxt = key_ranges.next_prefix(prefix)
            out = self._files_df(
                ranges.candidate_files_range(
                    lo=prefix, hi=nxt, hi_exclusive=nxt is not None
                )
            )
        if out is None:
            out = self.df()
        return out.filter(F.col(self.unique_key).startswith(prefix))

    def _coerce_keys(self, keys: "Sequence[object]") -> list:
        """Lookup keys coerced to the unique-key column's type family.
        Against a STRING-keyed artifact a raw int key is a silent-miss
        hazard: the equality filter makes Spark CAST the string column
        (so '042' matches 42) while shard/segment pruning placed the
        lookup by str(key) — the filter and the pruning disagree.
        Coercing to str makes get(42) == get('42'), the same contract
        get_many always had."""
        dt = self._read_schema()[self.unique_key].dataType.simpleString()
        if dt == "string":
            return [k if isinstance(k, str) else str(k) for k in keys]
        return list(keys)

    def get(self, key: str) -> DataFrame:
        key = self._coerce_keys([key])[0]
        cond = F.col(self.unique_key) == key
        pruned = self._segment_pruned([key])
        if pruned is not None:
            return pruned.filter(cond)
        shard = self._shard_of(key)
        if shard is not None:
            cond = (F.col(SHARD_COL) == shard) & cond
        return self.df().filter(cond)

    def get_many(self, keys: Sequence[str]) -> DataFrame:
        keys = self._coerce_keys(list(keys))
        cond = F.col(self.unique_key).isin(keys)
        pruned = self._segment_pruned(keys)
        if pruned is not None:
            return pruned.filter(cond)
        shards = {self._shard_of(str(k)) for k in keys}
        if None not in shards:
            cond = F.col(SHARD_COL).isin(sorted(shards)) & cond
        return self.df().filter(cond)

    # -- C4/C5: filter + sort + page + project -------------------------
    def search(
        self,
        filters: Mapping[str, object] | None = None,
        where: F.Column | None = None,
        select: Sequence[str] | None = None,
        sort: Sequence[tuple[str, str]] | None = None,
        limit: int | None = None,
        q: str | None = None,
        field: str | None = None,
        start: int = 0,
        synonyms: "Mapping[str, Sequence[str]] | None" = None,
        op: str = "OR",
    ) -> DataFrame:
        """The full Solr request shape in one call: ``q`` (boolean query
        over the analyzed field, the :meth:`query` syntax; ``op="AND"``
        is q.op=AND), column ``filters`` / arbitrary ``where`` (fq
        analogs), ``sort`` + ``start``/``limit`` (C4 paging — Solr's
        start/rows params; page boundaries are deterministic because the
        unique key is always the final sort tiebreak), ``select`` (fl
        projection).  A sort KEY containing ``(`` is Solr's
        SORT-BY-FUNCTION (``sort=div(a,b) desc``): it compiles through
        the function-query grammar to one Column expression — ordering
        by a computed value never leaves the scan's plan."""
        if start and not sort:
            raise ValueError(
                "start= (Solr's paging offset) needs sort= — an offset "
                "into an unordered result set is a different page every "
                "run"
            )
        out = (
            self._query_scan(q, field, synonyms, op)
            if q is not None
            else self.df()
        )
        for col, val in (filters or {}).items():
            out = out.filter(F.col(col) == val)
        if where is not None:
            out = out.filter(where)
        if sort:
            from solr_map_reduce_spark.extensions.search import (
                parse_function_query,
            )

            def key_col(c: str) -> F.Column:
                if "(" in c:
                    return parse_function_query(c, context=self._fn_ctx())
                return F.col(c)

            out = out.orderBy(
                *[
                    key_col(c).desc() if d.lower().startswith("desc")
                    else key_col(c).asc()
                    for c, d in sort
                ],
                F.asc(self.unique_key),  # deterministic page boundaries
            )
        if start:
            out = out.offset(start)
        if limit is not None:
            out = out.limit(limit)
        if select:
            out = out.select(*select)
        return out

    # -- facet-style counts --------------------------------------------
    def facet(
        self, field: str, top: int | None = None,
        q: str | None = None, query_field: str | None = None,
        missing: bool = False, sort: str = "count",
        filters: "Mapping[str, object] | None" = None,
        exclude: "str | Sequence[str] | None" = None,
        prefix: str | None = None,
        contains: str | None = None, contains_ignore_case: bool = False,
        matches: str | None = None,
        exclude_terms: "Sequence[str] | None" = None,
        mincount: int = 0, offset: int = 0,
    ) -> DataFrame:
        """Value counts of ``field`` — over the whole collection, or
        (``q`` given) over a boolean query's result set, Solr's
        q + facet.field request shape.  ``missing=True`` appends the
        NULL-valued bucket (Solr ``facet.missing``; excluded by default,
        Solr's contract); ``sort="index"`` orders lexicographically by
        value instead of by count (Solr ``facet.sort=index``);
        ``prefix`` counts only values starting with it (``facet.prefix``,
        one extra scan predicate — the missing bucket is independent);
        ``contains``/``contains_ignore_case`` restrict to values
        containing a substring (``facet.contains`` /
        ``facet.contains.ignoreCase``) and ``matches`` to values FULLY
        matching a regex (``facet.matches``, Java ``matches()``
        anchoring), and ``exclude_terms`` drops listed bucket values
        (``facet.excludeTerms``) — all compose as further scan
        predicates;
        ``mincount`` drops buckets below the floor (``facet.mincount``,
        a HAVING filter on the aggregate); ``offset`` skips leading
        buckets (``facet.offset``, facet paging — combine with ``top``).

        ``filters`` are fq equality filters (field -> value, or a list of
        admitted values); ``exclude`` names filter KEYS to ignore while
        counting — Solr's tagged-filter exclusion (``fq={!tag=t}f:v`` +
        ``facet.field={!ex=t}f``), the multi-select faceting contract: a
        user's own selection must not collapse their facet's other
        options.  Queries and filters stay ONE scan predicate."""
        if sort not in ("count", "index"):
            raise ValueError(f"facet sort must be count|index, got {sort!r}")
        scan = self._query_scan(q, query_field) if q is not None else self.df()
        scan = self._explode_if_multivalued(scan, field)
        # validate exclude even with no filters — a typo'd/orphaned
        # exclude must raise regardless of whether filters are present
        skip = {exclude} if isinstance(exclude, str) else set(exclude or ())
        unknown = skip - set(filters or {})
        if unknown:
            raise ValueError(
                f"exclude names unknown filter keys: {sorted(unknown)}"
            )
        if filters:
            for fkey, fval in filters.items():
                if fkey in skip:
                    continue
                col = F.col(fkey)
                scan = scan.filter(
                    col.isin(list(fval))
                    if isinstance(fval, (list, tuple, set))
                    else col == fval
                )
        # Solr's bucket-value restrictions (facet.prefix / facet.contains
        # [+containsIgnoreCase] / facet.matches): each is one extra scan
        # predicate; the missing bucket, when asked for, is independent
        # (Solr counts facet.missing regardless of value restrictions)
        keep = None
        if prefix is not None:
            keep = F.col(field).startswith(prefix)
        if contains is not None:
            c = (
                F.lower(F.col(field).cast("string")).contains(
                    contains.lower()
                )
                if contains_ignore_case
                else F.col(field).cast("string").contains(contains)
            )
            keep = c if keep is None else keep & c
        if matches is not None:
            # Solr facet.matches is a FULL-match regex (Java matches())
            m = F.regexp_like(
                F.col(field).cast("string"),
                F.lit(f"^(?:{matches})$"),
            )
            keep = m if keep is None else keep & m
        if exclude_terms:
            # Solr facet.excludeTerms: drop the listed bucket VALUES
            e = ~F.col(field).cast("string").isin(
                [str(t) for t in exclude_terms]
            )
            keep = e if keep is None else keep & e
        if keep is not None:
            scan = scan.filter(
                keep | F.col(field).isNull() if missing else keep
            )
        if not missing:
            scan = scan.filter(F.col(field).isNotNull())
        order = (
            [F.asc(field)] if sort == "index"
            else [F.desc("cnt"), F.asc(field)]
        )
        out = (
            scan
            .groupBy(field)
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        if mincount > 0:
            # Solr facet.mincount: buckets below the floor drop — a
            # HAVING filter after the aggregate, before sort/paging
            out = out.filter(F.col("cnt") >= mincount)
        out = out.orderBy(*order)
        if offset:
            # Solr facet.offset: skip the first N buckets (facet paging)
            out = out.offset(offset)
        return out.limit(top) if top is not None else out

    _FACET_AGGS = {
        "sum": F.sum,
        "avg": F.avg,
        "min": F.min,
        "max": F.max,
        "stddev": F.stddev_samp,
        "unique": F.countDistinct,
    }

    def facet_stats(
        self,
        field: str,
        metrics: Mapping[str, tuple[str, str]],
        top: int | None = None,
        q: str | None = None,
        query_field: str | None = None,
    ) -> DataFrame:
        """Solr JSON Facet API sub-aggregations (``json.facet`` with
        nested stat facets): per-bucket metrics alongside the counts —
        ``metrics={"avg_len": ("avg", "n_chars"), "users": ("unique",
        "user_id")}``.  Supported: sum/avg/min/max/stddev (sample) /
        unique (exact countDistinct) / ``("percentile", col, p)`` —
        Solr's stats percentiles, computed EXACT with linear
        interpolation (Spark ``percentile``, the same quantile_cont
        definition the DuckDB oracle uses; Solr itself serves t-digest
        approximations — we give the exact value the approximation
        converges to).  ONE groupBy of the (optionally query-scoped)
        corpus — sum/avg/min/max/stddev are algebraic (map-side
        partials); `unique` adds a partial-distinct the way SQL
        COUNT(DISTINCT) plans; percentile is holistic (per-group sort),
        the one metric that buffers its group."""
        scan = self._query_scan(q, query_field) if q is not None else self.df()
        aggs = [F.count(F.lit(1)).alias("cnt")]
        for name, spec in metrics.items():
            if len(spec) == 3:
                fn, col, p = spec
                if fn != "percentile":
                    raise ValueError(
                        f"3-tuple metric must be ('percentile', col, p), "
                        f"got {spec!r}"
                    )
                if not 0.0 <= float(p) <= 1.0:
                    raise ValueError(f"percentile p must be in [0,1], got {p!r}")
                aggs.append(
                    F.percentile(F.col(col), F.lit(float(p))).alias(name)
                )
                continue
            fn, col = spec
            try:
                agg = self._FACET_AGGS[fn]
            except KeyError:
                raise ValueError(
                    f"unknown facet metric {fn!r}; supported: "
                    f"{sorted(self._FACET_AGGS)} or ('percentile', col, p)"
                ) from None
            aggs.append(agg(F.col(col)).alias(name))
        out = (
            scan.groupBy(field)
            .agg(*aggs)
            .orderBy(F.desc("cnt"), F.asc(field))
        )
        return out.limit(top) if top is not None else out

    def range_facet(
        self,
        field: str,
        start,
        end,
        gap,
        q: str | None = None,
        query_field: str | None = None,
        include_empty: bool = True,
        other: "str | Sequence[str] | None" = None,
        hardend: bool = False,
    ) -> DataFrame:
        """Solr ``facet.range``: counts per ``[start + i*gap, start +
        (i+1)*gap)`` bucket over a numeric or timestamp column, optionally
        over a boolean query's result set.  ``include_empty`` keeps
        zero-count buckets (Solr's ``facet.mincount=0`` default) via a
        broadcast join against the tiny generated bucket spine — the
        corpus side stays one map-side-combined aggregate at any scale.

        For timestamp columns pass datetimes for ``start``/``end`` and a
        ``timedelta`` (or seconds) ``gap``; buckets are computed on epoch
        seconds, returned as ``bucket_start`` timestamps.

        Solr request-string forms are accepted too: ``start``/``end`` as
        ISO-8601 or date math (``NOW-30DAYS/DAY``, pinned via
        ``datemath.fixed_now``) and ``gap`` as ``"+N UNIT"`` for
        fixed-width units (SECOND/MINUTE/HOUR/DAY).  Month/year gaps are
        calendar-irregular — use the stream DSL's ``timeseries()``,
        which implements them with month-index arithmetic."""
        scan = self._query_scan(q, query_field) if q is not None else self.df()
        col, lo, hi, gap_s, n_buckets, is_time = self._range_spec(
            field, start, end, gap
        )
        # Solr facet.range.hardend (default false): when gap does not
        # divide (end - start), the LAST bucket keeps its full gap width
        # — values in [end, start + n*gap) still count there; hardend=
        # True truncates the range at end.  (Identical when gap divides
        # evenly.)  The 'after' bucket starts at the effective end,
        # Solr's own hardend=false contract.
        if not hardend:
            hi = lo + n_buckets * gap_s
        bucket = F.floor((col - F.lit(lo)) / F.lit(gap_s)).cast("long")
        counts = (
            scan.filter(col.isNotNull() & (col >= lo) & (col < hi))
            .groupBy(bucket.alias("_b"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        if include_empty:
            spine = self.spark.range(n_buckets).select(F.col("id").alias("_b"))
            counts = spine.join(F.broadcast(counts), "_b", "left").fillna(
                0, subset=["cnt"]
            )
        start_expr = F.lit(lo) + F.col("_b") * F.lit(gap_s)
        if is_time:
            start_expr = F.timestamp_seconds(start_expr)
        out = (
            counts.select(
                start_expr.alias("bucket_start"), F.col("cnt").cast("long").alias("cnt")
            )
            .orderBy("bucket_start")
        )
        if other is None:
            return out
        # Solr facet.range.other (before/after/between/all/none): the
        # out-of-range counts — ONE extra map-side-combined 1-row
        # aggregate over the same scan, appended as labeled rows (the
        # `other` column is NULL on normal buckets).  Pinned bounds:
        # before = field < start, after = field >= end, between =
        # [start, end) — consistent with the [lo, hi) bucketing above.
        wanted = {other} if isinstance(other, str) else set(other)
        if "none" in wanted:
            wanted = set()
        if "all" in wanted:
            wanted = {"before", "after", "between"}
        bad = wanted - {"before", "after", "between"}
        if bad:
            raise ValueError(
                f"facet.range.other takes before/after/between/all/none, "
                f"got {sorted(bad)}"
            )
        out = out.withColumn("other", F.lit(None).cast("string"))
        if not wanted:
            return out
        row = F.broadcast(scan.agg(
            F.sum((col < lo).cast("long")).alias("_before"),
            F.sum((col >= hi).cast("long")).alias("_after"),
            F.sum(((col >= lo) & (col < hi)).cast("long")).alias("_between"),
        ))
        extras = None
        for name in ("before", "between", "after"):
            if name not in wanted:
                continue
            one = row.select(
                F.lit(None).cast(dict(out.dtypes)["bucket_start"])
                .alias("bucket_start"),
                F.coalesce(F.col(f"_{name}"), F.lit(0)).cast("long")
                .alias("cnt"),
                F.lit(name).alias("other"),
            )
            extras = one if extras is None else extras.unionByName(one)
        return out.unionByName(extras).orderBy(
            F.col("other").isNotNull().asc(), "other", "bucket_start"
        )

    def _range_spec(self, field, start, end, gap):
        """Resolve Solr range-facet bounds — numbers, datetimes, ISO /
        date-math strings — and a gap (number, ``timedelta``, ``"+N
        UNIT"``) to ``(value_col, lo, hi, gap_s, n_buckets, is_time)``;
        shared by ``range_facet`` and the JSON Facet API ``type=range``."""
        from datetime import datetime, timedelta, timezone

        def _math(v, which):
            if not isinstance(v, str):
                return v
            try:  # numeric-string bounds stay numeric (numeric facets)
                return float(v)
            except ValueError:
                pass
            from solr_map_reduce_spark.functions.datemath import parse_datemath

            return parse_datemath(v, where=f"facet.range.{which}")

        start, end = _math(start, "start"), _math(end, "end")
        if isinstance(gap, str):
            try:  # numeric-string gaps stay numeric (numeric facets)
                gap = float(gap)
            except ValueError:
                pass
        if isinstance(gap, str):
            from solr_map_reduce_spark.functions.datemath import parse_gap

            n_g, unit_g = parse_gap(gap, where="facet.range.gap")
            if unit_g in ("MONTH", "YEAR"):
                raise ValueError(
                    "facet.range month/year gaps are calendar-irregular; "
                    "use the stream DSL timeseries() which buckets them "
                    "by month-index arithmetic"
                )
            gap = timedelta(
                seconds=n_g
                * {"SECOND": 1, "MINUTE": 60, "HOUR": 3600, "DAY": 86400}[unit_g]
            )

        def _epoch(dt: datetime) -> float:
            # a NAIVE bound is a UTC instant (the engine pins the session
            # timezone to UTC) — datetime.timestamp() on a naive value
            # would use the SYSTEM-LOCAL zone, shifting every bucket on a
            # non-UTC host
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
            return dt.timestamp()

        is_time = isinstance(start, datetime)
        if is_time:
            gap_s = gap.total_seconds() if isinstance(gap, timedelta) else float(gap)
            lo, hi = _epoch(start), _epoch(end)
            # cast, not unix_timestamp(): the cast keeps fractional
            # seconds, so sub-second gaps and milli-stamped events land
            # in the right bucket
            col = F.col(field).cast("double")
        else:
            gap_s, lo, hi = float(gap), float(start), float(end)
            col = F.col(field).cast("double")
        if gap_s <= 0 or hi <= lo:
            raise ValueError("range_facet needs gap > 0 and end > start")
        n_buckets = int(-(-(hi - lo) // gap_s))  # ceil
        return col, lo, hi, gap_s, n_buckets, is_time

    def query_facets(
        self,
        queries: "Mapping[str, str]",
        q: str | None = None,
        query_field: str | None = None,
    ) -> DataFrame:
        """Solr ``facet.query``: counts for ARBITRARY boolean subqueries
        as named buckets over the (optionally ``q``-scoped) corpus —
        ``{"cheap": "price:[* TO 10]", "spark docs": "spark -legacy"}``.
        Each subquery compiles to a Column predicate and becomes a
        conditional sum in ONE map-side-combined aggregate: N facet
        queries never cost N scans.  Returns ``(facet_query, cnt)`` in
        the given order."""
        if not queries:
            raise ValueError("query_facets needs at least one facet query")
        scan = self._query_scan(q, query_field) if q is not None else self.df()
        items = list(queries.items())
        preds = [
            self._compile_predicate(qs, query_field)[0] for _label, qs in items
        ]
        # coalesce: SQL sum over ZERO rows is NULL, but an empty result set
        # must facet as honest zeros (Solr's contract)
        aggs = [
            F.coalesce(F.sum(F.when(p, 1).otherwise(0)), F.lit(0))
            .cast("long").alias(f"_q{i}")
            for i, p in enumerate(preds)
        ]
        row = scan.agg(*aggs)
        buckets = F.array(
            *[
                F.struct(
                    F.lit(label).alias("facet_query"),
                    F.col(f"_q{i}").alias("cnt"),
                )
                for i, (label, _qs) in enumerate(items)
            ]
        )
        return row.select(F.explode(buckets).alias("b")).select(
            "b.facet_query", "b.cnt"
        )

    _JF_AGG_RE = re.compile(
        r"^(sum|avg|min|max|unique|stddev|variance|sumsq|countvals|"
        r"missing|hll)\((\w+)\)$"
    )
    _JF_PCT_RE = re.compile(r"^percentile\((\w+)\s*,\s*([0-9.]+)\)$")

    def _jf_stat_col(
        self, sub: str, name: str, mask: "F.Column | None" = None
    ) -> F.Column:
        """One JSON-Facet stat string -> an aliased agg Column.  All are
        algebraic (map-side partials) except ``percentile``, which is
        EXACT with linear interpolation (Spark ``percentile`` — the same
        quantile_cont definition a SQL oracle uses; Solr itself serves
        t-digest approximations of the same value) and holistic.

        ``mask`` conditions the stat on a predicate WITHIN one shared
        aggregate (the arbitrary-``ranges`` facet shape: every range is
        a conditional agg in the same pass) — the value column nulls
        out where the mask fails, which every agg here ignores;
        ``missing`` keeps its own explicit mask conjunction since its
        probe IS null-ness."""
        s = sub.strip()
        m = self._JF_PCT_RE.match(s)
        if m:
            p = float(m.group(2))
            if not 0.0 <= p <= 100.0:
                raise ValueError(
                    f"json_facet percentile {sub!r}: p must be in 0..100"
                )
            pcol = F.col(m.group(1))
            if mask is not None:
                pcol = F.when(mask, pcol)
            return F.percentile(pcol, F.lit(p / 100.0)).alias(name)
        m = self._JF_AGG_RE.match(s)
        if not m:
            raise ValueError(
                f"json_facet stat {sub!r}: expected "
                "sum|avg|min|max|unique|stddev|variance|sumsq|countvals|"
                "missing|hll(field) or percentile(field, p)"
            )
        fn, f = m.groups()
        col = F.col(f)
        if mask is not None:
            if fn == "missing":
                return F.count(
                    F.when(mask & col.isNull(), F.lit(1))
                ).alias(name)
            col = F.when(mask, col)
        return {
            "sum": lambda: F.sum(col),
            "avg": lambda: F.avg(col),
            "min": lambda: F.min(col),
            "max": lambda: F.max(col),
            "unique": lambda: F.countDistinct(col),
            "stddev": lambda: F.stddev_samp(col),
            "variance": lambda: F.var_samp(col),
            # Solr's sumsq / countvals / missing: sum of squares,
            # non-null value count, null count — single-pass algebraic
            "sumsq": lambda: F.sum(col * col),
            "countvals": lambda: F.count(col),
            "missing": lambda: F.count(F.when(col.isNull(), F.lit(1))),
            # Solr's hll(): HyperLogLog distinct estimate — Spark's
            # HLL++ sketch, mergeable map-side partials (use unique()
            # for the exact count; hll is the 100-TB-cardinality path)
            "hll": lambda: F.approx_count_distinct(col),
        }[fn]().alias(name)

    def _jf_sort_cols(self, sort: str, count_col: str, bucket_col: str,
                      available: "set[str]"):
        bits = sort.split()
        key = bits[0]
        d = bits[1].lower() if len(bits) > 1 else "desc"
        if key == "count":
            col = F.col(count_col)
        elif key == "index":
            col = F.col(bucket_col)
        elif key in available:
            col = F.col(key)
        else:
            raise ValueError(
                f"json_facet sort {sort!r}: unknown key {key!r} "
                f"(count, index, or one of {sorted(available)})"
            )
        lead = col.desc() if d == "desc" else col.asc()
        return [lead, F.asc(bucket_col)]

    def json_facet(
        self,
        spec: "Mapping[str, object]",
        q: str | None = None,
        query_field: str | None = None,
        filters: "Mapping[str, object] | None" = None,
    ) -> DataFrame:
        """Solr JSON Facet API (the modern ``json.facet`` request
        syntax), relationally flattened.  Supported subset::

            {"type": "terms", "field": f, "limit": 10, "mincount": 1,
             "offset": 0, "prefix": "e",
             "missing": true,        # null-bucket row appended last
             "allBuckets": true,     # allBuckets_count column
             "numBuckets": true,     # numBuckets column
             "domain": {"filter": "<query>",
                        "excludeTags": ["fkey", ...],   # multiselect
                        "blockChildren": "<parent filter>",  # to children
                        "blockParent": "<parent filter>"},   # to parents
             "sort": "count desc" | "index asc" | "<aggname> desc",
             "facet": {
                name: "sum(f)" | "avg(f)" | "min(f)" | "max(f)"
                      | "unique(f)" | "stddev(f)" | "variance(f)"
                      | "sumsq(f)" | "countvals(f)" | "missing(f)"
                      | "hll(f)" | "percentile(f, 50)"  # stat subfacet
                      | {"type": "query", "q": "..."}   # query subfacet
                      | {"type": "relatedness",         # SKG score
                         "fore": "...", "back": "*:*"}
                      | {"type": "terms", ...}  # ONE nested terms facet
             }}

        ``filters`` are Solr's TAGGED fq analogs (key -> value or
        admitted-value list); a spec's ``domain.excludeTags`` names
        filter KEYS to ignore while faceting — the multi-select
        contract (``fq={!tag=t}f:v`` + ``domain:{excludeTags:"t"}``):
        a user's own selection must not collapse their facet's other
        options.  ``blockChildren``/``blockParent`` re-map the domain
        across the nested-document relation before bucketing (Solr's
        block-join facet domains).

            {"type": "range", "field": f, "start": s, "end": e,
             "gap": g, "mincount": 0, "domain": {...},
             "facet": {...stat/query subfacets...}}

        Returns a FLAT DataFrame — Solr's nested bucket response
        rendered relationally: one row per bucket (per innermost bucket
        when a terms facet nests), with the parent bucket value, its
        ``count`` and stat/query subfacet columns, and (when nested)
        the child bucket column plus ``<name>_count`` and the child's
        own stats repeated per child row.  ``missing: true`` appends
        one row with a NULL bucket value carrying the null-keyed docs'
        count and stats (Solr renders it after the value buckets; the
        row is simply absent when no doc misses the field);
        ``allBuckets``/``numBuckets`` render as constant columns
        (``allBuckets_count`` = domain doc count across ALL value
        buckets pre-mincount/pre-limit; ``numBuckets`` = bucket count
        surviving mincount, pre-limit), NULL on the missing row.

        Plan: ONE groupBy per level over the (Bloom-pruned, q-scoped,
        domain-filtered) scan; the missing bucket is the same
        aggregate's null-key group (never a second scan); allBuckets/
        numBuckets are windows over the post-agg bucket rows (tiny at
        any corpus scale); query subfacets are conditional counts
        inside the SAME aggregate; the nested level restricts its scan
        by the surviving parent buckets (broadcast key set) and
        truncates per-parent with a window — facet2D's shape with the
        JSON API's spec surface.  Range facets bucket by
        floor((v-start)/gap) exactly like ``range_facet`` and left-join
        the generated bucket spine so empty buckets stay at
        mincount=0 (count/query-subfacet 0, stats NULL)."""
        scan = self._query_scan(q, query_field) if q is not None else self.df()
        return self._jf_over(scan, spec, query_field, filters, self.df())

    def _jf_over(
        self,
        scan: DataFrame,
        spec: "Mapping[str, object]",
        query_field: str | None,
        filters: "Mapping[str, object] | None",
        base: DataFrame,
    ) -> DataFrame:
        """The JSON-facet compiler over an EXPLICIT domain scan — the
        engine behind :meth:`json_facet` and the alias facade's version
        (whose domain is the member union and whose block-join universe
        ``base`` spans every member)."""
        dom = spec.get("domain")
        allowed = {"filter", "excludeTags", "blockChildren", "blockParent"}
        if dom is not None:
            if not isinstance(dom, Mapping) or not set(dom) <= allowed or not dom:
                raise ValueError(
                    "json_facet domain supports filter/excludeTags/"
                    f"blockChildren/blockParent, got {dom!r}"
                )
            if "blockChildren" in dom and "blockParent" in dom:
                raise ValueError(
                    "json_facet domain: blockChildren and blockParent are "
                    "mutually exclusive (a domain maps one direction)"
                )
        ex = (dom or {}).get("excludeTags") or ()
        skip = {ex} if isinstance(ex, str) else set(ex)
        unknown = skip - set(filters or {})
        if unknown:
            raise ValueError(
                "json_facet domain excludeTags names unknown filter keys: "
                f"{sorted(unknown)}"
            )
        for fkey, fval in (filters or {}).items():
            if fkey in skip:
                continue
            col = F.col(fkey)
            scan = scan.filter(
                col.isin(list(fval))
                if isinstance(fval, (list, tuple, set))
                else col == fval
            )
        if dom is not None:
            if "filter" in dom:
                pred, _i, _f = self._compile_predicate(
                    str(dom["filter"]), query_field
                )
                scan = scan.filter(pred)
            if "blockChildren" in dom or "blockParent" in dom:
                scan = self._jf_block_domain(scan, dom, query_field, base)
        if spec.get("type") == "range":
            return self._jf_range(scan, spec)
        if spec.get("type") == "query":
            return self._jf_query(scan, spec, query_field)
        return self._jf_terms(scan, spec)

    def _jf_query(
        self, scan: DataFrame, spec, query_field: str | None
    ) -> DataFrame:
        """Top-level JSON Facet API ``type=query``: the domain restricted
        by ``q``, with ``count``, stat/query subfacets (ONE aggregate
        row), and optionally ONE nested terms facet whose rows repeat
        the parent's stats — the parent aggregate is a single row, so
        attaching it is a broadcast 1-row crossJoin (the TPC-H Q22
        scalar-subquery shape), never a shuffle."""
        if "q" not in spec:
            raise ValueError("json_facet query spec needs q=")
        pred, _i, _f = self._compile_predicate(str(spec["q"]), query_field)
        dom = scan.filter(pred)
        aggs, names, nested, rel = self._jf_subaggs(spec, "count")
        parent = dom.agg(*aggs)
        if rel:
            # sizes come from the PRE-query scan: the facet domain is
            # the relatedness background universe (Solr's contract)
            parent = self._jf_attach_relatedness(parent, scan, rel)
        if nested is None:
            return parent
        name2, sub = nested
        f2, limit2, mincount2, aggs2, names2, nested2, opts2, rel2 = (
            self._jf_level(sub, f"{name2}_count")
        )
        if rel2:
            raise ValueError(
                "json_facet relatedness lives at the top terms/query "
                "level (the nested flat rendering has no domain row)"
            )
        if nested2 is not None:
            raise ValueError("json_facet supports one nesting level")
        if opts2["missing"] or opts2["allBuckets"] or opts2["numBuckets"]:
            raise ValueError(
                "json_facet missing/allBuckets/numBuckets are top-level "
                "terms options"
            )
        cells = (
            self._explode_if_multivalued(dom, f2)
            .filter(F.col(f2).isNotNull())
            .groupBy(f2)
            .agg(*aggs2)
        )
        if opts2["prefix"] is not None:
            cells = cells.filter(
                F.col(f2).cast("string").startswith(str(opts2["prefix"]))
            )
        if mincount2 > 0:
            cells = cells.filter(F.col(f"{name2}_count") >= mincount2)
        order2 = self._jf_sort_cols(
            str(sub.get("sort", "count desc")), f"{name2}_count", f2,
            set(names2),
        )
        top = cells.orderBy(*order2)
        if opts2["offset"] > 0:
            top = top.offset(opts2["offset"])
        top = top.limit(limit2)
        return (
            top.crossJoin(F.broadcast(parent))
            .select("count", *names, f2, f"{name2}_count", *names2)
            .orderBy(*order2)
        )

    def _jf_block_domain(
        self, scan: DataFrame, dom: "Mapping[str, object]",
        query_field: str | None, base: DataFrame,
    ) -> DataFrame:
        """Solr JSON-facet block-join domain mapping over the nested-
        document model ({!parent}/{!child}'s ``_root_`` contract):
        ``blockChildren: <parentFilter>`` maps a PARENT domain to all
        its children; ``blockParent: <parentFilter>`` maps a CHILD
        domain to its parents.  Same plan shape as the block-join query
        parsers — predicates over one scan lineage, the only shuffle is
        the distinct root-key semi-join, which AQE broadcasts when
        small."""
        root = self.ROOT_COL
        if "blockChildren" in dom:
            pf, _i, _f = self._compile_predicate(
                str(dom["blockChildren"]), query_field
            )
            keys = (
                scan.filter(pf)
                .select(F.col(self.unique_key).alias(root))
                .distinct()
            )
            return base.filter(~pf).join(keys, on=root, how="left_semi")
        pf, _i, _f = self._compile_predicate(
            str(dom["blockParent"]), query_field
        )
        roots = (
            scan.filter(~pf)
            .filter(F.col(root).isNotNull())
            .select(F.col(root).alias(self.unique_key))
            .distinct()
        )
        return base.filter(pf).join(
            roots, on=self.unique_key, how="left_semi"
        )

    _JF_TERMS_OPTS = ("missing", "allBuckets", "numBuckets")

    def _jf_subaggs(self, spec: "Mapping[str, object]", count_alias: str):
        """The ``facet`` sub-spec dict -> ([agg Columns], [stat/query/
        relatedness names], nested-terms spec or None, relatedness
        specs).  Relatedness contributes two conditional counts to the
        SAME aggregate (``__<name>_fg``/``__<name>_bg``); the score
        itself is computed post-agg by :meth:`_jf_attach_relatedness`
        (it needs the domain-wide fg/bg sizes)."""
        aggs = [F.count(F.lit(1)).alias(count_alias)]
        names: list[str] = []
        nested = None
        rel: list[tuple] = []
        for name, sub in (spec.get("facet") or {}).items():
            if isinstance(sub, str):
                aggs.append(self._jf_stat_col(sub, name))
                names.append(name)
            elif isinstance(sub, Mapping) and sub.get("type") == "query":
                pred, _i, _f = self._compile_predicate(str(sub["q"]))
                aggs.append(
                    F.count(F.when(pred, F.lit(1))).alias(name)
                )
                names.append(name)
            elif isinstance(sub, Mapping) and sub.get("type") == "relatedness":
                if "fore" not in sub:
                    raise ValueError(
                        f"json_facet relatedness {name!r} needs fore= "
                        "(the foreground query)"
                    )
                fore, _i, _f = self._compile_predicate(str(sub["fore"]))
                back, _i2, _f2 = self._compile_predicate(
                    str(sub.get("back", "*:*"))
                )
                aggs.append(
                    F.count(F.when(fore, F.lit(1))).alias(f"__{name}_fg")
                )
                aggs.append(
                    F.count(F.when(back, F.lit(1))).alias(f"__{name}_bg")
                )
                rel.append((name, fore, back))
                names.append(name)
            elif isinstance(sub, Mapping) and sub.get("type") == "terms":
                if nested is not None:
                    raise ValueError(
                        "json_facet: one nested terms facet per level"
                    )
                nested = (name, sub)
            else:
                raise ValueError(
                    f"json_facet subfacet {name!r}: expected an agg "
                    "string, a query/relatedness spec, or a terms spec"
                )
        return aggs, names, nested, rel

    def _jf_attach_relatedness(
        self, grouped: DataFrame, scan: DataFrame, rel: "list[tuple]"
    ) -> DataFrame:
        """Solr's JSON-facet ``relatedness($fore,$back)`` (the Semantic
        Knowledge Graph significance score — Grainger et al. 2016,
        public): per bucket, how over-represented the foreground set is
        against the background expectation.

        Exact documented formula (deterministic, oracle-testable):
        with ``fg_prob = fg_count/fg_size`` and ``bg_prob =
        bg_count/bg_size`` (sizes are DOMAIN-wide), the one-sample
        z-score ``z = (fg_prob - bg_prob) / sqrt(bg_prob*(1-bg_prob)/
        fg_size)`` squashed to (-1, 1) by ``z/(1+|z|)`` — monotone in
        z, the paper's significance ordering.  (Solr's RelatednessAgg
        serves the same ordering under its own scaling; we pin OUR
        formula precisely so a SQL oracle can reproduce it bit-exact.)
        Degenerate cases score 0: empty foreground/background domains,
        bg_prob of 0 or 1 (no variance to test against).

        Plan: the per-bucket fg/bg counts ride the SAME groupBy; the
        two domain sizes are ONE extra map-side-combined aggregate row
        over the same scan, attached by broadcast crossJoin (the
        scalar-subquery shape) — never a per-bucket rescan."""
        size_aggs = []
        for name, fore, back in rel:
            size_aggs.append(
                F.count(F.when(fore, F.lit(1))).alias(f"__{name}_fgsz")
            )
            size_aggs.append(
                F.count(F.when(back, F.lit(1))).alias(f"__{name}_bgsz")
            )
        sizes = scan.agg(*size_aggs)
        out = grouped.crossJoin(F.broadcast(sizes))
        for name, _fore, _back in rel:
            fg = F.col(f"__{name}_fg").cast("double")
            bg = F.col(f"__{name}_bg").cast("double")
            fgsz = F.col(f"__{name}_fgsz").cast("double")
            bgsz = F.col(f"__{name}_bgsz").cast("double")
            fg_prob = fg / fgsz
            bg_prob = bg / bgsz
            denom = F.sqrt(bg_prob * (F.lit(1.0) - bg_prob) / fgsz)
            z = (fg_prob - bg_prob) / denom
            score = F.when(
                (fgsz > 0) & (bgsz > 0) & (bg > 0) & (bg < bgsz),
                z / (F.lit(1.0) + F.abs(z)),
            ).otherwise(F.lit(0.0))
            out = out.withColumn(name, score).drop(
                f"__{name}_fg", f"__{name}_bg",
                f"__{name}_fgsz", f"__{name}_bgsz",
            )
        return out

    def _jf_level(self, spec: "Mapping[str, object]", count_alias: str):
        """(field, limit, mincount, agg columns, stat names, nested,
        opts) for one terms-facet level."""
        if spec.get("type") != "terms":
            raise ValueError(
                f"json_facet supports type=terms at bucket levels, got "
                f"{spec.get('type')!r}"
            )
        field = spec.get("field")
        if not field:
            raise ValueError("json_facet terms spec needs field=")
        aggs, names, nested, rel = self._jf_subaggs(spec, count_alias)
        opts = {
            "missing": bool(spec.get("missing", False)),
            "allBuckets": bool(spec.get("allBuckets", False)),
            "numBuckets": bool(spec.get("numBuckets", False)),
            "offset": int(spec.get("offset", 0)),
            "prefix": spec.get("prefix"),
        }
        return (str(field), int(spec.get("limit", 10)),
                int(spec.get("mincount", 1)), aggs, names, nested, opts,
                rel)

    def _explode_if_multivalued(self, scan: DataFrame, field: str) -> DataFrame:
        """Solr facets a MULTI-VALUED field per VALUE: a doc with
        ``["a","b"]`` counts once in bucket a AND once in b, duplicate
        values within one doc count the doc once (hence array_distinct),
        and a doc with no values lands only in the missing bucket
        (explode_outer keeps it as a null row).  Plain columns pass
        through untouched; the explode multiplies rows by the per-doc
        DISTINCT value count — the same fan-out Solr's per-value
        counting implies."""
        from pyspark.sql.types import ArrayType

        try:
            dt = scan.schema[field].dataType
        except Exception:
            return scan  # unresolvable name: downstream raises its own
        if isinstance(dt, ArrayType):
            return scan.withColumn(
                field, F.explode_outer(F.array_distinct(F.col(field)))
            )
        return scan

    def _jf_terms(self, scan: DataFrame, spec) -> DataFrame:
        field, limit, mincount, aggs, names, nested, opts, rel = (
            self._jf_level(spec, "count")
        )
        domain = scan  # pre-explode: relatedness sizes count DOCS
        scan = self._explode_if_multivalued(scan, field)
        grouped = scan.groupBy(field).agg(*aggs)
        if rel:
            grouped = self._jf_attach_relatedness(grouped, domain, rel)
        # Solr terms buckets never include the null key — it surfaces
        # only as the missing bucket (same aggregate, no extra scan)
        missing_row = (
            grouped.filter(F.col(field).isNull()) if opts["missing"] else None
        )
        l1 = grouped.filter(F.col(field).isNotNull())
        if opts["prefix"] is not None:
            l1 = l1.filter(
                F.col(field).cast("string").startswith(str(opts["prefix"]))
            )
        if opts["allBuckets"]:
            # Solr's allBuckets is the DOCSET union of all value
            # buckets: a multi-valued doc appearing in several buckets
            # counts ONCE — so it must be a doc count over the
            # pre-explode domain (docs with >= 1 value), not a sum of
            # bucket counts.  One extra map-side-combined aggregate
            # row, broadcast-crossJoined (the scalar-subquery shape).
            from pyspark.sql.types import ArrayType

            try:
                is_arr = isinstance(
                    domain.schema[field].dataType, ArrayType
                )
            except Exception:
                is_arr = False
            has_val = (
                F.col(field).isNotNull() & (F.size(F.col(field)) > 0)
                if is_arr else F.col(field).isNotNull()
            )
            ab = domain.agg(
                F.count(F.when(has_val, F.lit(1)))
                .cast("long").alias("allBuckets_count")
            )
            l1 = l1.crossJoin(F.broadcast(ab))
        if mincount > 0:
            l1 = l1.filter(F.col("count") >= mincount)
        if opts["numBuckets"]:
            # bucket count as a map-side-combined aggregate row,
            # broadcast-crossJoined (the allBuckets shape) — never a
            # single-partition window funneling every bucket row
            # through one task at high field cardinality
            nb = l1.agg(
                F.count(F.lit(1)).cast("long").alias("numBuckets")
            )
            l1 = l1.crossJoin(F.broadcast(nb))
        order = self._jf_sort_cols(
            str(spec.get("sort", "count desc")), "count", field, set(names)
        )
        top = l1.orderBy(*order)
        if opts["offset"] > 0:
            top = top.offset(opts["offset"])
        top = top.limit(limit)
        if nested is None:
            if missing_row is not None:
                for c in ("allBuckets_count", "numBuckets"):
                    if c in top.columns:
                        missing_row = missing_row.withColumn(
                            c, F.lit(None).cast("long")
                        )
                # union then re-sort: the NULL bucket value lands after
                # the value buckets (Solr renders missing last)
                top = top.unionByName(missing_row).orderBy(
                    F.col(field).isNull().asc(), *order
                )
            return top
        if missing_row is not None or opts["allBuckets"] or opts["numBuckets"]:
            raise ValueError(
                "json_facet missing/allBuckets/numBuckets combine with "
                "stat and query subfacets, not with a nested terms facet "
                "(the flat rendering has no parent-only rows)"
            )
        name2, sub = nested
        f2, limit2, mincount2, aggs2, names2, nested2, opts2, rel2 = (
            self._jf_level(sub, f"{name2}_count")
        )
        if rel2:
            raise ValueError(
                "json_facet relatedness lives at the top terms/query "
                "level (the nested flat rendering has no domain row)"
            )
        if nested2 is not None:
            raise ValueError("json_facet supports one nesting level")
        if f2 == field:
            raise ValueError("json_facet nested field equals parent field")
        if opts2["missing"] or opts2["allBuckets"] or opts2["numBuckets"]:
            raise ValueError(
                "json_facet missing/allBuckets/numBuckets are top-level "
                "terms options"
            )
        cells = (
            self._explode_if_multivalued(
                scan.join(F.broadcast(top.select(field)), on=field), f2
            )
            .filter(F.col(f2).isNotNull())
            .groupBy(field, f2)
            .agg(*aggs2)
        )
        if opts2["prefix"] is not None:
            cells = cells.filter(
                F.col(f2).cast("string").startswith(str(opts2["prefix"]))
            )
        if mincount2 > 0:
            cells = cells.filter(F.col(f"{name2}_count") >= mincount2)
        order2 = self._jf_sort_cols(
            str(sub.get("sort", "count desc")), f"{name2}_count", f2,
            set(names2),
        )
        w = Window.partitionBy(field).orderBy(*order2)
        lo2, hi2 = opts2["offset"], opts2["offset"] + limit2
        sel = (
            cells.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") > lo2) & (F.col("_rn") <= hi2))
            .drop("_rn")
        )
        return top.join(sel, on=field).orderBy(*order, F.asc(f2))

    def _jf_range(self, scan: DataFrame, spec) -> DataFrame:
        """JSON Facet API ``type=range`` with stat/query subfacets: one
        map-side-combined aggregate over floor-bucketed values, then a
        broadcast left join against the generated bucket spine so empty
        buckets survive at the default ``mincount: 0`` (count and query
        subfacets 0, stats NULL)."""
        field = spec.get("field")
        if not field:
            raise ValueError("json_facet range spec needs field=")
        if "ranges" in spec:
            if any(k in spec for k in ("start", "end", "gap")):
                raise ValueError(
                    "json_facet range: ranges= and start/end/gap are "
                    "mutually exclusive (Solr's two range forms)"
                )
            return self._jf_ranges_list(scan, spec, str(field))
        for k in ("start", "end", "gap"):
            if k not in spec:
                raise ValueError(
                    f"json_facet range spec needs {k}= (or ranges=)"
                )
        aggs, names, nested, rel = self._jf_subaggs(spec, "count")
        if rel:
            raise ValueError(
                "json_facet relatedness lives at the top terms/query "
                "level (the nested flat rendering has no domain row)"
            )
        # query subfacets are conditional counts: empty buckets must
        # report honest zeros for them, like count itself
        zero_fill = ["count"] + [
            n for n, sub in (spec.get("facet") or {}).items()
            if isinstance(sub, Mapping) and sub.get("type") == "query"
        ]
        col, lo, hi, gap_s, n_buckets, is_time = self._range_spec(
            str(field), spec["start"], spec["end"], spec["gap"]
        )
        # JSON Facet hardend (default false, like facet.range): an
        # uneven gap keeps the last bucket full-width
        if not spec.get("hardend", False):
            hi = lo + n_buckets * gap_s
        bucket = F.floor((col - F.lit(lo)) / F.lit(gap_s)).cast("long")
        in_range = col.isNotNull() & (col >= lo) & (col < hi)
        cells = (
            scan.filter(in_range)
            .groupBy(bucket.alias("_b"))
            .agg(*aggs)
        )
        mincount = int(spec.get("mincount", 0))
        if mincount > 0:
            cells = cells.filter(F.col("count") >= mincount)
        elif nested is None:
            # a nested terms facet has nothing to render for an empty
            # bucket (the flat output is one row per CHILD bucket), so
            # the spine join applies to the stat-only shape
            spine = self.spark.range(n_buckets).select(
                F.col("id").alias("_b")
            )
            cells = spine.join(F.broadcast(cells), "_b", "left").fillna(
                0, subset=zero_fill
            )
        start_expr = F.lit(lo) + F.col("_b") * F.lit(gap_s)
        if is_time:
            start_expr = F.timestamp_seconds(start_expr)
        if nested is None:
            return (
                cells.withColumn("bucket_start", start_expr)
                .drop("_b")
                .select("bucket_start", "count", *names)
                .orderBy("bucket_start")
            )
        # ONE nested terms facet inside range buckets: child cells
        # aggregate over (bucket, child) in one groupBy of the same
        # in-range scan; per-bucket truncation is a window over the
        # post-agg rows — the facet2D shape with the range key as x
        name2, sub = nested
        f2, limit2, mincount2, aggs2, names2, nested2, opts2, rel2 = (
            self._jf_level(sub, f"{name2}_count")
        )
        if nested2 is not None:
            raise ValueError("json_facet supports one nesting level")
        if rel2:
            raise ValueError(
                "json_facet relatedness lives at the top terms/query "
                "level (the nested flat rendering has no domain row)"
            )
        if opts2["missing"] or opts2["allBuckets"] or opts2["numBuckets"]:
            raise ValueError(
                "json_facet missing/allBuckets/numBuckets are top-level "
                "terms options"
            )
        child = (
            self._explode_if_multivalued(scan.filter(in_range), f2)
            .filter(F.col(f2).isNotNull())
            .groupBy(bucket.alias("_b"), F.col(f2))
            .agg(*aggs2)
        )
        if opts2["prefix"] is not None:
            child = child.filter(
                F.col(f2).cast("string").startswith(str(opts2["prefix"]))
            )
        if mincount2 > 0:
            child = child.filter(F.col(f"{name2}_count") >= mincount2)
        order2 = self._jf_sort_cols(
            str(sub.get("sort", "count desc")), f"{name2}_count", f2,
            set(names2),
        )
        w = Window.partitionBy("_b").orderBy(*order2)
        lo2, hi2 = opts2["offset"], opts2["offset"] + limit2
        sel = (
            child.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") > lo2) & (F.col("_rn") <= hi2))
            .drop("_rn")
        )
        return (
            cells.join(sel, on="_b")
            .withColumn("bucket_start", start_expr)
            .drop("_b")
            .select("bucket_start", "count", *names, f2,
                    f"{name2}_count", *names2)
            .orderBy("bucket_start", F.asc(f2))
        )

    def _jf_ranges_list(
        self, scan: DataFrame, spec, field: str
    ) -> DataFrame:
        """Solr's arbitrary-ranges form (``ranges=[...]``, Solr 8.3+):
        each entry is ``{"range": "[0,100)"}`` (interval syntax — ``[``
        / ``]`` inclusive, ``(`` / ``)`` exclusive, ``*`` unbounded) or
        ``{"from": a, "to": b, "inclusive_from": true, "inclusive_to":
        false}`` (Solr's defaults).  Ranges may overlap or gap — a doc
        counts in EVERY range admitting it.

        Plan: every range is a CONDITIONAL aggregate (count + masked
        stat/query subfacets) in ONE map-side-combined pass over the
        scan — no shuffle grows with the range count — then the single
        row unpivots to one row per range (array explode, the
        interval_facet shape)."""
        ranges = spec.get("ranges")
        if not isinstance(ranges, Sequence) or not ranges:
            raise ValueError("json_facet ranges= needs a non-empty list")
        col = F.col(field)

        def _bound(raw, label_parts):
            """A from/to value — number, ``*``, or a Solr date value
            (ISO / date math, resolved deterministically via NOW
            pinning) — to a comparison literal; dates compare against
            the column's epoch seconds (the session is pinned UTC)."""
            if raw in (None, "*"):
                label_parts.append("*")
                return None, False
            if isinstance(raw, (int, float)):
                label_parts.append(f"{float(raw):g}")
                return float(raw), False
            s_ = str(raw).strip()
            try:
                v = float(s_)
                label_parts.append(f"{v:g}")
                return v, False
            except ValueError:
                pass
            from datetime import timezone

            from solr_map_reduce_spark.functions.datemath import (
                parse_datemath,
            )

            dt = parse_datemath(s_, where="json_facet ranges bound")
            label_parts.append(s_)
            return dt.replace(tzinfo=timezone.utc).timestamp(), True

        facet_spec = spec.get("facet") or {}
        items: list[tuple[str, F.Column]] = []
        for r in ranges:
            if not isinstance(r, Mapping):
                raise ValueError(
                    f"json_facet ranges entry {r!r}: expected a mapping"
                )
            parts: list[str] = []
            if "range" in r:
                m = self._INTERVAL_RE.match(str(r["range"]))
                if not m:
                    raise ValueError(
                        f"bad range {r['range']!r}: expected Solr "
                        "interval syntax like [0,100) or (5,*]"
                    )
                lo_b, lo_raw, hi_raw, hi_b = m.groups()
                (lo, lo_time), (hi, hi_time) = (
                    _bound(lo_raw, parts), _bound(hi_raw, parts)
                )
                lo_incl, hi_incl = lo_b == "[", hi_b == "]"
                label = str(r["range"])
            else:
                (lo, lo_time), (hi, hi_time) = (
                    _bound(r.get("from"), parts), _bound(r.get("to"), parts)
                )
                lo_incl = bool(r.get("inclusive_from", True))
                hi_incl = bool(r.get("inclusive_to", False))
                label = (
                    ("[" if lo_incl else "(") + parts[0] + ","
                    + parts[1] + ("]" if hi_incl else ")")
                )
            vcol = (
                col.cast("timestamp").cast("double")
                if (lo_time or hi_time) else col
            )
            pred = col.isNotNull()
            if lo is not None:
                pred = pred & (vcol >= lo if lo_incl else vcol > lo)
            if hi is not None:
                pred = pred & (vcol <= hi if hi_incl else vcol < hi)
            items.append((label, pred))
        aggs = []
        stat_names: list[str] = []
        for i, (_label, pred) in enumerate(items):
            aggs.append(
                F.coalesce(
                    F.count(F.when(pred, F.lit(1))), F.lit(0)
                ).cast("long").alias(f"__r{i}_count")
            )
            for name, sub in facet_spec.items():
                if isinstance(sub, str):
                    aggs.append(
                        self._jf_stat_col(sub, f"__r{i}_{name}", mask=pred)
                    )
                elif isinstance(sub, Mapping) and sub.get("type") == "query":
                    qpred, _i2, _f = self._compile_predicate(str(sub["q"]))
                    aggs.append(
                        F.coalesce(
                            F.count(F.when(pred & qpred, F.lit(1))),
                            F.lit(0),
                        ).cast("long").alias(f"__r{i}_{name}")
                    )
                else:
                    raise ValueError(
                        "json_facet ranges= takes stat/query subfacets "
                        f"only, got {name!r}: {sub!r}"
                    )
                if i == 0:
                    stat_names.append(name)
        row = scan.agg(*aggs)
        buckets = F.array(*[
            F.struct(
                F.lit(label).alias("range"),
                F.col(f"__r{i}_count").alias("count"),
                *[F.col(f"__r{i}_{n}").alias(n) for n in stat_names],
            )
            for i, (label, _p) in enumerate(items)
        ])
        return row.select(F.explode(buckets).alias("b")).select(
            "b.range", "b.count", *[f"b.{n}" for n in stat_names]
        )

    _INTERVAL_RE = re.compile(
        r"^\s*([\[\(])\s*([^,]+?)\s*,\s*([^\]\)]+?)\s*([\]\)])\s*$"
    )

    def interval_facet(
        self,
        field: str,
        intervals: "Sequence[str] | Mapping[str, str]",
        q: str | None = None,
        query_field: str | None = None,
    ) -> DataFrame:
        """Solr ``facet.interval``: counts for ARBITRARY (possibly
        overlapping, possibly gapped) intervals over a numeric or string
        column — the set-arithmetic cousin of ``facet.range``.  Interval
        syntax is Solr's: ``[`` / ``]`` inclusive, ``(`` / ``)``
        exclusive, ``*`` unbounded — e.g. ``"[0,100)"``, ``"(100,*]"``.
        Pass a mapping to label buckets (Solr ``{!key=label}``); a plain
        sequence labels each bucket with its own spec string.

        Plan shape: every interval is a conditional sum in ONE map-side-
        combined aggregate over one (optionally query-scoped) scan — no
        shuffle grows with the interval count, and a doc landing in three
        overlapping intervals counts in all three (exactly what
        ``facet.range`` cannot express).  Returns ``(interval, cnt)`` in
        the given order."""
        items = (
            list(intervals.items())
            if isinstance(intervals, Mapping)
            else [(spec, spec) for spec in intervals]
        )
        if not items:
            raise ValueError("interval_facet needs at least one interval")
        scan = self._query_scan(q, query_field) if q is not None else self.df()
        col = F.col(field)

        def _bound(raw: str):
            if raw == "*":
                return None
            try:
                return int(raw)
            except ValueError:
                try:
                    return float(raw)
                except ValueError:
                    return raw  # string-typed column bounds compare as strings

        preds = []
        for _label, spec in items:
            m = self._INTERVAL_RE.match(spec)
            if not m:
                raise ValueError(
                    f"bad interval {spec!r}: expected Solr syntax like [0,100) or (5,*]"
                )
            lo_b, lo_raw, hi_raw, hi_b = m.groups()
            lo, hi = _bound(lo_raw), _bound(hi_raw)
            pred = col.isNotNull()
            if lo is not None:
                pred = pred & (col >= lo if lo_b == "[" else col > lo)
            if hi is not None:
                pred = pred & (col <= hi if hi_b == "]" else col < hi)
            preds.append(pred)
        # coalesce: sum over an EMPTY (query-scoped) scan is NULL in SQL,
        # but the facet must report honest zero counts
        aggs = [
            F.coalesce(F.sum(F.when(p, 1).otherwise(0)), F.lit(0))
            .cast("long").alias(f"_i{i}")
            for i, p in enumerate(preds)
        ]
        row = scan.agg(*aggs)
        buckets = F.array(
            *[
                F.struct(
                    F.lit(label).alias("interval"), F.col(f"_i{i}").alias("cnt")
                )
                for i, (label, _spec) in enumerate(items)
            ]
        )
        return row.select(F.explode(buckets).alias("b")).select(
            "b.interval", "b.cnt"
        )

    def pivot_facet(
        self,
        fields: Sequence[str],
        top: int | None = None,
        q: str | None = None,
        query_field: str | None = None,
    ) -> DataFrame:
        """Solr ``facet.pivot=f1,f2``: nested value counts, flattened to
        ``(f1, f2, cnt, f1_cnt)`` rows — each level top-``top``-limited by
        count within its parent (Solr's per-level ``facet.limit``), parents
        ordered by their own counts.  One groupBy of the corpus; the
        per-level ranking runs over the tiny distinct-pairs result."""
        from pyspark.sql import Window

        if len(fields) != 2:
            raise ValueError("pivot_facet takes exactly two fields (f1, f2)")
        f1, f2 = fields
        scan = self._query_scan(q, query_field) if q is not None else self.df()
        pairs = scan.groupBy(f1, f2).agg(F.count(F.lit(1)).alias("cnt"))
        totals = Window.partitionBy(f1)
        within = Window.partitionBy(f1).orderBy(F.desc("cnt"), F.asc(f2))
        out = pairs.withColumn("f1_cnt", F.sum("cnt").over(totals)).withColumn(
            "_rk", F.row_number().over(within)
        )
        if top is not None:
            # top-N level-1 values: TakeOrdered over the distinct pairs
            # (row_number <= top under the same order == orderBy+limit),
            # never a single-partition global window over the facet
            # field's cardinality
            heads = (
                out.select(f1, "f1_cnt")
                .distinct()
                .orderBy(F.desc("f1_cnt"), F.asc(f1))
                .limit(top)
                .select(f1)
            )
            out = out.join(F.broadcast(heads), f1).filter(F.col("_rk") <= top)
        return out.select(f1, f2, "cnt", "f1_cnt").orderBy(
            F.desc("f1_cnt"), F.asc(f1), F.desc("cnt"), F.asc(f2)
        )

    def stats(
        self, field: str, q: str | None = None, query_field: str | None = None
    ) -> DataFrame:
        """Solr stats component (``stats.field``): min / max / count /
        missing / sum / sumOfSquares / mean / stddev (sample, Solr's
        definition) in ONE map-side-combined aggregate pass."""
        scan = self._query_scan(q, query_field) if q is not None else self.df()
        col = F.col(field).cast("double")
        return scan.agg(
            F.min(col).alias("min"),
            F.max(col).alias("max"),
            F.count(col).alias("count"),
            F.sum(F.when(col.isNull(), 1).otherwise(0)).alias("missing"),
            F.sum(col).alias("sum"),
            F.sum(col * col).alias("sum_of_squares"),
            F.avg(col).alias("mean"),
            F.stddev_samp(col).alias("stddev"),
        )

    def grouped(
        self,
        group_field: str,
        sort: tuple[str, str] | None = None,
        group_limit: int = 1,
        limit: int | None = None,
        q: str | None = None,
        query_field: str | None = None,
        select: Sequence[str] | None = None,
        ngroups: bool = False,
    ) -> DataFrame:
        """Solr result grouping / field collapse (``group.field`` /
        ``group.limit``): the top ``group_limit`` docs per distinct
        ``group_field`` value, groups ordered by their HEAD doc's sort key
        (Solr's contract), ``limit`` = number of groups returned.  One
        window over the grouping shuffle — no self-join, no collect.
        Output adds ``n_in_group`` (Solr's per-group numFound) and ``_rk``
        (1-based position within the group); ``ngroups=True`` adds
        Solr's ``group.ngroups`` — the TOTAL matched group count,
        limit-independent, as one map-side-combined countDistinct row
        broadcast-crossJoined on (the scalar-subquery shape)."""
        from pyspark.sql import Window

        scan = self._query_scan(q, query_field) if q is not None else self.df()
        s_col, s_dir = sort if sort is not None else (self.unique_key, "asc")
        order = [
            F.desc(s_col) if s_dir.lower().startswith("desc") else F.asc(s_col),
            F.asc(self.unique_key),
        ]
        w = Window.partitionBy(group_field).orderBy(*order)
        wall = Window.partitionBy(group_field)
        out = (
            scan.withColumn("_rk", F.row_number().over(w))
            .withColumn("n_in_group", F.count(F.lit(1)).over(wall))
            .withColumn("_head", F.first(s_col).over(w))
            .filter(F.col("_rk") <= group_limit)
        )
        if limit is not None:
            # top-`limit` GROUPS by their head key: each group carries
            # exactly one (_head, group) pair, so dense_rank <= limit
            # over (_head, group) == the top-`limit` distinct pairs —
            # TakeOrdered + broadcast null-safe semi-join, never a
            # single-partition global window over every group
            top_groups = (
                out.select(group_field, "_head")
                .distinct()
                .orderBy(
                    F.desc("_head") if s_dir.lower().startswith("desc")
                    else F.asc("_head"),
                    F.asc(group_field),
                )
                .limit(limit)
                .select(F.col(group_field).alias("_tg_key"))
            )
            out = out.join(
                F.broadcast(top_groups),
                out[group_field].eqNullSafe(F.col("_tg_key")),
                "left_semi",
            )
        if ngroups:
            ng = scan.agg(
                F.countDistinct(group_field).alias("_ng"),
                F.max(F.col(group_field).isNull().cast("int")).alias("_hn"),
            ).select(
                # countDistinct skips NULL; Solr counts the null group
                (F.col("_ng") + F.coalesce(F.col("_hn"), F.lit(0)))
                .cast("long").alias("ngroups")
            )
            out = out.crossJoin(F.broadcast(ng))
        head_order = (
            F.desc("_head") if s_dir.lower().startswith("desc") else F.asc("_head")
        )
        out = out.orderBy(head_order, F.asc(group_field), F.asc("_rk")).drop("_head")
        if select:
            cols = [group_field, "n_in_group", "_rk", *select]
            if ngroups:
                cols.append("ngroups")
            out = out.select(*cols)
        return out

    def _collapse_metric_col(self, expr: str) -> F.Column:
        """A collapse min=/max= argument — a field name or a function
        query (Solr allows ``max=sum(boost,score)``) — to one Column."""
        from solr_map_reduce_spark.extensions.search import (
            parse_function_query,
        )

        if "(" in expr:
            return parse_function_query(expr, context=self._fn_ctx())
        return F.col(expr)

    def _collapse_heads(
        self,
        scan: DataFrame,
        field: str,
        max: str | None,  # noqa: A002 - Solr's own param names
        min: str | None,  # noqa: A002
        sort: "Sequence[tuple[str, str]] | None",
    ) -> DataFrame:
        """One head row per non-null ``field`` group under the Solr
        collapse head-selection contract (exactly one of max/min/sort).

        min/max compile to ONE map-side-combined aggregate —
        ``groupBy(field).agg(max_by(row, ordering))`` — so the shuffle
        carries one candidate row per (group, input partition), never
        the corpus: the shape that survives 100× scale.  A null metric
        value never beats a real one (the leading not-null/null rank in
        the ordering struct); an all-null group still yields a head.
        Ties break on the unique key (greatest for max=, least for
        min=) so the head is deterministic.  The compound ``sort`` path
        needs full rows ordered per group and uses a window
        (row_number = 1) — one shuffle on the collapse key."""
        given = [p for p in ((max, "max"), (min, "min"), (sort, "sort")) if p[0]]
        if len(given) != 1:
            raise ValueError(
                "collapse needs exactly one head criterion: max=, min=, "
                f"or sort= (got {[n for _v, n in given] or 'none'})"
            )
        if sort:
            order = [
                F.desc(c) if d.lower().startswith("desc") else F.asc(c)
                for c, d in sort
            ]
            w = Window.partitionBy(field).orderBy(
                *order, F.asc(self.unique_key)
            )
            return (
                scan.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") == 1)
                .drop("_rk")
            )
        metric = self._collapse_metric_col(max or min)  # type: ignore[arg-type]
        uk = F.col(self.unique_key)
        if max:
            pick = F.max_by(
                F.struct(*scan.columns),
                F.struct(metric.isNotNull(), metric, uk),
            )
        else:
            pick = F.min_by(
                F.struct(*scan.columns),
                F.struct(metric.isNull(), metric, uk),
            )
        return scan.groupBy(field).agg(pick.alias("_h")).select("_h.*")

    def collapse(
        self,
        field: str,
        max: str | None = None,  # noqa: A002 - Solr's own param names
        min: str | None = None,  # noqa: A002
        sort: "Sequence[tuple[str, str]] | None" = None,
        null_policy: str = "ignore",
        q: str | None = None,
        query_field: str | None = None,
        filters: "Mapping[str, object] | None" = None,
        select: Sequence[str] | None = None,
    ) -> DataFrame:
        """Solr field collapsing (CollapsingQParserPlugin,
        ``fq={!collapse field=f max=g nullPolicy=p}``): ONE document —
        the group head — per distinct value of ``field``, chosen by
        ``max=``/``min=`` (a field or function query; ref
        ``minimr/conf/solrconfig.xml`` query-parser surface) or a
        compound ``sort=[(col, dir), ...]``.  Solr's score-based default
        has no analog here (our scans are relational, score exists only
        in the BM25 serving path) so the criterion is required.

        ``null_policy`` is Solr's nullPolicy: ``"ignore"`` drops docs
        whose ``field`` is null (Solr's default), ``"expand"`` passes
        each null doc through as its own group, ``"collapse"`` pools
        all null docs into one group.  ``q``/``filters`` scope the
        domain first (the fq composition order Solr applies).  Returns
        the head docs with the scan's full row (or ``select``)."""
        scan = self._query_scan(q, query_field) if q is not None else self.df()
        return self._collapse_frame(
            scan, field, max, min, sort, null_policy, filters, select
        )

    def _collapse_frame(
        self,
        scan: DataFrame,
        field: str,
        max: str | None,  # noqa: A002
        min: str | None,  # noqa: A002
        sort: "Sequence[tuple[str, str]] | None",
        null_policy: str,
        filters: "Mapping[str, object] | None",
        select: Sequence[str] | None,
    ) -> DataFrame:
        """Collapse an EXPLICIT scan — the engine behind
        :meth:`collapse` and the alias facade's cross-member collapse
        (a per-member collapse unioned would yield multiple heads for
        a group spanning members, so MultiIndex collapses the union)."""
        if null_policy not in ("ignore", "expand", "collapse"):
            raise ValueError(
                "null_policy must be ignore|expand|collapse, got "
                f"{null_policy!r}"
            )
        for fkey, fval in (filters or {}).items():
            col = F.col(fkey)
            scan = scan.filter(
                col.isin(list(fval))
                if isinstance(fval, (list, tuple, set))
                else col == fval
            )
        nulls = None
        if null_policy == "ignore":
            scan = scan.filter(F.col(field).isNotNull())
        elif null_policy == "expand":
            nulls = scan.filter(F.col(field).isNull())
            scan = scan.filter(F.col(field).isNotNull())
        # "collapse": the null group rides the same groupBy (null key)
        out = self._collapse_heads(scan, field, max, min, sort)
        if nulls is not None:
            out = out.unionByName(nulls)
        return out.select(*select) if select else out

    def expand(
        self,
        field: str,
        max: str | None = None,  # noqa: A002
        min: str | None = None,  # noqa: A002
        sort: "Sequence[tuple[str, str]] | None" = None,
        rows: int = 5,
        expand_sort: "Sequence[tuple[str, str]] | None" = None,
        q: str | None = None,
        query_field: str | None = None,
        filters: "Mapping[str, object] | None" = None,
        select: Sequence[str] | None = None,
    ) -> DataFrame:
        """Solr's expand component (``expand=true`` alongside
        ``{!collapse}``): for each collapsed group, the members HIDDEN
        by the collapse — everything but the head — at most ``rows``
        per group (``expand.rows``), ordered within the group by
        ``expand_sort`` (``expand.sort``; defaults to the head
        criterion's order).  Head selection mirrors :meth:`collapse`
        exactly (same max=/min=/sort= contract, same null-metric and
        unique-key tiebreaks), so ``collapse() ∪ expand()`` partitions
        each group.  Null-``field`` docs never expand (no group —
        Solr's contract for every nullPolicy).  Relational rendering:
        one row per expanded member with ``_rk`` (1-based position
        within its group's expanded section); one window shuffle on the
        collapse key, no self-join."""
        scan = self._query_scan(q, query_field) if q is not None else self.df()
        for fkey, fval in (filters or {}).items():
            col = F.col(fkey)
            scan = scan.filter(
                col.isin(list(fval))
                if isinstance(fval, (list, tuple, set))
                else col == fval
            )
        scan = scan.filter(F.col(field).isNotNull())
        given = [p for p in ((max, "max"), (min, "min"), (sort, "sort")) if p[0]]
        if len(given) != 1:
            raise ValueError(
                "expand needs the collapse head criterion: exactly one "
                "of max=, min=, or sort="
            )
        if sort:
            head_order = [
                F.desc(c) if d.lower().startswith("desc") else F.asc(c)
                for c, d in sort
            ] + [F.asc(self.unique_key)]
        else:
            metric = self._collapse_metric_col(max or min)  # type: ignore[arg-type]
            uk = F.col(self.unique_key)
            head_order = (
                [F.struct(metric.isNotNull(), metric, uk).desc()]
                if max
                else [F.struct(metric.isNull(), metric, uk).asc()]
            )
        w_head = Window.partitionBy(field).orderBy(*head_order)
        body = scan.withColumn("_hrk", F.row_number().over(w_head)).filter(
            F.col("_hrk") > 1
        )
        if expand_sort:
            order2 = [
                F.desc(c) if d.lower().startswith("desc") else F.asc(c)
                for c, d in expand_sort
            ] + [F.asc(self.unique_key)]
            w_exp = Window.partitionBy(field).orderBy(*order2)
            body = body.withColumn("_rk", F.row_number().over(w_exp))
        else:
            body = body.withColumn("_rk", F.col("_hrk") - F.lit(1))
        out = body.filter(F.col("_rk") <= rows).drop("_hrk")
        if select:
            out = out.select(field, "_rk", *select)
        return out

    def ltr_rerank(
        self,
        model,
        features: "Mapping[str, object]",
        pool_sort: "Sequence[tuple[str, str]]",
        rq: int = 100,
        k: int = 10,
        q: str | None = None,
        query_field: str | None = None,
        filters: "Mapping[str, object] | None" = None,
        select: Sequence[str] | None = None,
    ) -> DataFrame:
        """Solr LTR rescoring (``rq={!ltr model=m reRankDocs=rq}``): the
        main ranking's top ``rq`` docs — ``pool_sort`` is that ranking,
        required explicitly since our scans are relational (Solr's
        implicit score ordering lives in the BM25 path) — rescored by
        the model over the features and re-sorted, top ``k`` returned
        with ``ltr_score``.  Models/features/normalizers:
        :mod:`solr_map_reduce_spark.extensions.ltr`.  One bounded
        TakeOrdered pool + one codegen projection — no UDF, no second
        scan."""
        from solr_map_reduce_spark.extensions.ltr import ltr_rescore

        pool = self.search(
            q=q, field=query_field, filters=filters,
            sort=list(pool_sort), limit=int(rq),
        )
        out = ltr_rescore(
            pool, model, features, k=k, tiebreak=self.unique_key,
            context=self._fn_ctx(),
        )
        if select:
            out = out.select(*select, "ltr_score")
        return out

    # -- cursorMark deep paging ----------------------------------------
    def cursor_page(
        self,
        sort: Sequence[tuple[str, str]],
        limit: int,
        cursor_mark: str = "*",
        q: str | None = None,
        field: str | None = None,
        filters: Mapping[str, object] | None = None,
        select: Sequence[str] | None = None,
    ) -> tuple[list, str | None]:
        """Solr cursorMark deep paging: keyset pagination instead of
        offset.  ``start=N`` paging reads and discards N rows per page —
        O(start + rows) per request, quadratic over a full sweep and
        hopeless at 100 TB.  A cursor instead filters ``(sort tuple) >
        (last seen tuple)`` — the first sort column's bound reaches the
        parquet scan as a pushed filter, so each page costs O(page).

        The unique key is always appended as the final ascending tiebreak
        (Solr REQUIRES uniqueKey in a cursor sort for the same reason:
        deterministic, gapless page boundaries).  Sort columns must be
        non-null (Solr's practical constraint too).

        Returns ``(rows, next_cursor_mark)`` — ``next_cursor_mark`` is an
        opaque base64 token (pass it back for the next page), or None when
        the sweep is exhausted.  ``cursor_mark='*'`` starts a sweep."""
        import base64

        full_sort = [*sort, (self.unique_key, "asc")]
        scan = self._query_scan(q, field) if q is not None else self.df()
        for col, val in (filters or {}).items():
            scan = scan.filter(F.col(col) == val)
        if cursor_mark != "*":
            vals = json.loads(base64.urlsafe_b64decode(cursor_mark.encode()))
            if len(vals) != len(full_sort):
                raise ValueError(
                    "cursor_mark does not match the sort spec "
                    f"({len(vals)} values for {len(full_sort)} sort fields)"
                )
            # keyset predicate: OR_i (AND_{j<i} c_j = v_j) AND c_i AFTER v_i
            pred = None
            for i, (c, d) in enumerate(full_sort):
                after = (
                    F.col(c) < F.lit(vals[i])
                    if d.lower().startswith("desc")
                    else F.col(c) > F.lit(vals[i])
                )
                clause = after
                for j in range(i):
                    clause = (F.col(full_sort[j][0]) == F.lit(vals[j])) & clause
                pred = clause if pred is None else pred | clause
            scan = scan.filter(pred)
        page = scan.orderBy(
            *[
                F.desc(c) if d.lower().startswith("desc") else F.asc(c)
                for c, d in full_sort
            ]
        ).limit(limit)
        if select:
            # the sort columns ride along so the next cursor can be cut
            keep = list(dict.fromkeys([*select, *[c for c, _ in full_sort]]))
            page = page.select(*keep)
        rows = page.collect()
        if len(rows) < limit:
            return rows, None  # exhausted — Solr signals via repeated mark
        last = rows[-1]
        nxt = base64.urlsafe_b64encode(
            json.dumps([last[c] for c, _ in full_sort], default=str).encode()
        ).decode()
        return rows, nxt

    # -- C9 + BM25: term queries over STORED token arrays --------------
    # The reference analyzes at index time (TokenizeTextBuilder.java:83-107,
    # schema.xml text_en:119) so queries hit stored structures; these read
    # the artifact's `<field>__tokens` column — no per-query re-analysis of
    # the corpus, and column pruning means the raw text is never scanned.
    @staticmethod
    def _real_toks(tokens_col: str) -> F.Column:
        """The REAL tokens of a stored array: text_general_rev interleaves
        reversed copies (the leading-wildcard seek); term dictionaries,
        term vectors, suggestions, and BM25 lengths must ignore them.
        Delegates to the ONE canonical filter (search._visible_toks)."""
        from solr_map_reduce_spark.extensions.search import _visible_toks

        return _visible_toks(F.col(tokens_col))

    def _fn_ctx(self) -> "_FnQueryContext":
        """The index adapter the function-query grammar's RELEVANCE
        functions (termfreq/docfreq/idf) resolve through — token
        columns for per-row counts, the dictionary sidecar for
        plan-time df/idf literals."""
        return _FnQueryContext(self)

    def _dfs_for(self, fname: str, terms: "Sequence[str]") -> dict:
        """Memoized term -> document-frequency lookup against the
        ``_vocab`` dictionary sidecar (the same LRU the BM25 path
        uses — a serving handle answering repeated function queries
        never re-reads the bucket)."""
        memo_key = (fname, tuple(sorted(terms)))
        if memo_key not in self._dfs_memo:
            self._dfs_memo[memo_key] = search_stats.term_dfs(
                self.spark, self.path, fname, list(terms)
            )
        return self._dfs_memo[memo_key]

    def _tokens_col(self, field: str | None = None) -> str:
        analyzed: dict = self.manifest.get("analyzed", {})
        if not analyzed:
            raise ValueError(
                "artifact stores no analyzed token columns (schema had no "
                "text_en/text_general/lowercase field, or store_tokens=False)"
            )
        if field is None:
            if len(analyzed) > 1:
                raise ValueError(
                    f"multiple analyzed fields {sorted(analyzed)}; pass field="
                )
            field = next(iter(analyzed))
        if field not in analyzed:
            raise ValueError(f"field {field!r} is not analyzed; have {sorted(analyzed)}")
        return analyzed[field]["tokens_col"]

    def analyze_terms(
        self, terms: Sequence[str], field: str | None = None
    ) -> list[str]:
        """Query-time analysis (Solr applies the field's analyzer to query
        terms too): run the artifact field's analyzer over the given terms
        and return the flattened token list — e.g. for a ``text_en`` field,
        ``["Tables"] -> ["tabl"]``; stopwords drop out.  Pass the result to
        ``contains_*``/``bm25`` so query terms meet the stored tokens under
        the same analysis.

        Runs DRIVER-SIDE (the analyzers' row kernels are pure Python,
        parity-tested against their Column twins) — no Spark job for a
        handful of query terms on the serving hot path.  A custom
        analyzer registered without a ``py_kernel`` falls back to the
        distributed path."""
        from solr_map_reduce_spark.functions.analyzers import (
            ANALYZERS,
            PY_ANALYZERS,
        )

        analyzed: dict = self.manifest.get("analyzed", {})
        fname = field or (next(iter(analyzed)) if len(analyzed) == 1 else None)
        if fname not in analyzed:
            raise ValueError(f"field {fname!r} is not analyzed; have {sorted(analyzed)}")
        atype = analyzed[fname]["type"]
        py = PY_ANALYZERS.get(atype)
        if py is not None:
            return [tok for t in terms for tok in (py(t) or [])]
        fn = ANALYZERS[atype]
        df = local_frame(self.spark, [(t,) for t in terms], "t string")
        rows = df.select(fn(F.col("t")).alias("toks")).collect()
        return [tok for r in rows for tok in (r["toks"] or [])]

    def _bloom_pruned(self, terms: Sequence[str], field: str | None, mode: str) -> DataFrame:
        """The artifact scan, restricted to the shards whose term Bloom
        bitmap admits the query (term_blooms.py sidecar; no false
        negatives, so results are identical to the full scan).  Without a
        sidecar this is just ``df()``."""
        blooms = self._sidecar("blooms")
        out = self.df()
        if not blooms:
            return out
        analyzed: dict = self.manifest.get("analyzed", {})
        fname = field or (next(iter(analyzed)) if len(analyzed) == 1 else None)
        if fname is None:
            return out
        shards = term_blooms.candidate_shards(
            self.spark, blooms, fname, list(terms), mode
        )
        if shards is None:
            return out
        return out.filter(F.col(SHARD_COL).isin(shards))

    def _field_resolver(self):
        """Resolver for Solr fielded clauses (``lang:en`` / ``text:word``):
        an ANALYZED field routes through its own analyzer and stored token
        column; any other artifact column becomes a plain equality.  The
        column mode also reports the column's Spark type name so range
        clauses over date/timestamp fields (Solr ``tdate`` — dates are
        first-class) parse their bounds as ISO-8601 instants instead of
        strings."""
        from solr_map_reduce_spark.extensions.search import QuerySyntaxError

        analyzed: dict = self.manifest.get("analyzed", {})
        cols = set(self.columns)
        dtypes = {f.name: f.dataType.typeName() for f in self._read_schema()}

        def resolver(fname: str):
            if fname in analyzed:
                return (
                    "analyzed",
                    lambda text: self.analyze_terms([text], field=fname),
                    F.col(analyzed[fname]["tokens_col"]),
                    # the fieldType name: leading-wildcard clauses compile
                    # to a reversed-token PREFIX when the field stores
                    # ReversedWildcardFilter copies (text_general_rev)
                    analyzed[fname].get("type"),
                )
            if fname in cols:
                return ("column", F.col(fname), dtypes.get(fname))
            raise QuerySyntaxError(
                f"unknown field {fname!r}; analyzed={sorted(analyzed)}, "
                f"columns={sorted(cols)}"
            )

        return resolver

    def _fuzzy_expansions(
        self, fname: str, needle: str, max_edits: int
    ) -> list[str] | None:
        """Concrete in-vocabulary matches for a fuzzy term — the Lucene
        FuzzyQuery cost model: edit distance runs over the |vocab|-row
        stored term DICTIONARY (``_vocab/``), not over every token of
        every document, and the expanded terms compile to a plain
        Bloom-prunable token-OR.  None when no vocab sidecar exists
        (callers fall back to the per-token corpus scan).  Memoized
        per handle (LRU), like the BM25 df memo."""
        stats = self._sidecar("stats")
        if not stats or fname not in stats:
            return None
        key = ("__fuzzy__", fname, needle, max_edits)
        if key in self._dfs_memo:
            return self._dfs_memo[key]
        vocab = search_stats.read_vocab(self.spark, self.path, fname)
        n = len(needle)
        rows = (
            vocab
            # cheap length band first: |len(term) - len(needle)| <= edits
            .filter(F.length("term").between(n - max_edits, n + max_edits))
            .filter(F.levenshtein(F.col("term"), F.lit(needle)) <= max_edits)
            .select("term")
            .collect()
        )
        self._dfs_memo[key] = sorted(r["term"] for r in rows)
        return self._dfs_memo[key]

    def _fuzzy_expander(self, default_field: str | None):
        """The ``fuzzy_expand`` hook for boolean_predicate, bound to this
        artifact's vocab sidecars."""
        analyzed: dict = self.manifest.get("analyzed", {})

        def expand(field: str | None, needle: str, max_edits: int):
            f = field or default_field
            if f is None or f not in analyzed:
                return None
            return self._fuzzy_expansions(f, needle, max_edits)

        return expand

    def _query_scan(
        self, q: str, field: str | None = None,
        synonyms: "Mapping[str, Sequence[str]] | None" = None,
        op: str = "OR",
    ) -> DataFrame:
        """Full rows matching a boolean query string — the shared engine
        behind :meth:`query` (ids), :meth:`search` (q + filters/sort/
        paging), and :meth:`facet` (query-scoped counts).  Compiles to a
        single Column predicate and Bloom-prunes shards when safe.
        Compiled plans memoize per handle (generation-guarded LRU) so a
        serving process answering the same query repeatedly skips the
        parse/analyze/prune build."""
        from solr_map_reduce_spark.extensions import search

        self._check_generation()
        memo_key = (
            q, field, op,
            tuple(sorted((k, tuple(v)) for k, v in synonyms.items()))
            if synonyms else None,
        )
        if memo_key in self._plan_memo:
            return self._plan_memo[memo_key]

        lp = search.parse_local_params(q)
        if lp is not None:
            qtype, params, inner = lp
            out = self._local_params_scan(
                qtype, params, inner, field, synonyms, op
            )
            if "fromIndex" in q:
                # NOT memoized: the plan embeds the ATTACHED collection's
                # file listing, and this handle's generation guard only
                # watches ITS OWN manifest — a mutation of (or re-attach
                # under) the fromIndex name would keep serving the stale
                # listing (FileNotFound on vacuumed files, or deleted
                # rows).  Cross-collection plans recompile per query
                # (string check so nested forms are covered too).
                return out
        else:
            pred, info, fname = self._compile_predicate(q, field, synonyms, op)
            if info["required"]:
                scan = self._bloom_pruned(info["required"], fname, "all")
            elif info["prunable"] and info["positive"]:
                scan = self._bloom_pruned(info["positive"], fname, "any")
            else:
                scan = self.df()
            out = scan.filter(pred)
        self._plan_memo[memo_key] = out
        return out

    def _compile_predicate(
        self, q: str, field: str | None = None,
        synonyms: "Mapping[str, Sequence[str]] | None" = None,
        op: str = "OR",
    ):
        """``(Column predicate, pruning info, resolved default field)`` for
        a boolean query string — the parse/analyze/compile core of
        :meth:`_query_scan`, reusable wherever a query must become a bare
        predicate (join/block-join inner clauses negate and combine
        predicates, which a filtered scan cannot express)."""
        from solr_map_reduce_spark.extensions import search

        analyzed: dict = self.manifest.get("analyzed", {})
        fname = field or (next(iter(analyzed)) if len(analyzed) == 1 else None)
        # a PURELY FIELDED query (lang:en) needs no default field at all —
        # resolve the default token column lazily so artifacts with zero
        # or multiple analyzed fields still answer it; an unfielded term
        # then fails loudly at its own clause
        if fname is not None and fname in analyzed:
            analyze = lambda text: self.analyze_terms([text], field=fname)  # noqa: E731
            toks_col = F.col(self._tokens_col(fname))
        else:
            def analyze(text):
                raise search.QuerySyntaxError(
                    f"query {q!r} has an unfielded clause but no default "
                    f"analyzed field resolves (analyzed={sorted(analyzed)}); "
                    "pass field=... or write fielded clauses (field:value)"
                )

            toks_col = None
        if op not in ("OR", "AND"):
            raise search.QuerySyntaxError(f"q.op must be OR or AND, got {op!r}")
        pred, info = search.boolean_predicate(
            q, analyze, toks_col, resolver=self._field_resolver(),
            fuzzy_expand=self._fuzzy_expander(fname),
            default_field=fname if fname in analyzed else None,
            synonyms={k.lower(): list(v) for k, v in synonyms.items()}
            if synonyms else None,
            default_op=op,
        )
        return pred, info, fname

    ROOT_COL = "_root_"

    def _local_params_scan(
        self, qtype: str, params: Mapping[str, str], inner: str,
        field: str | None, synonyms, op: str = "OR",
    ) -> DataFrame:
        """Solr local-params query types over the artifact:

        - ``{!join from=f to=t}q`` (JoinQParserPlugin): rows whose ``t``
          value appears among the ``f`` values of rows matching ``q`` —
          a distinct-project of the inner result semi-joined back.  AQE
          picks broadcast when the key set is small (the common case) and
          falls back to a shuffled semi-join when it isn't — exactly the
          two executions you'd hand-pick at either scale.
        - ``{!parent which=pf}childq`` (ToParentBlockJoinQuery): parents
          (rows matching ``pf``) having >= 1 child (non-parent) matching
          ``childq``; children carry their parent's key in ``_root_``
          (Solr's nested-document root field; override with ``root=``).
        - ``{!child of=pf}parentq``: children of parents matching both
          ``pf`` and ``parentq``.
        - ``{!terms f=x}a,b,c`` / ``{!prefix f=x}val`` / ``{!field f=x}val``
          (TermsQParser / PrefixQParser / FieldQParser): raw un-analyzed
          column predicates — set membership, startswith, exact equality —
          each a single pushed filter on one scan.

        Block-join shape: predicates are compiled Columns over ONE scan
        lineage; the only shuffle is the distinct root-key semi-join,
        which AQE broadcasts when small."""
        from solr_map_reduce_spark.extensions import search

        if qtype == "collapse":
            # CollapsingQParserPlugin {!collapse field=f min=g|max=g
            # nullPolicy=p} — one head doc per field value.  Solr uses it
            # as an fq post-filter; standalone (the inner body empty) it
            # collapses the whole collection.  sort= local param is the
            # compound criterion ("a asc, b desc").
            ckw = _parse_collapse_local_params(params)
            inner = inner.strip()
            scan = (
                self._query_scan(inner, field, synonyms, op)
                if inner else self.df()
            )
            try:
                return self._collapse_frame(
                    scan, filters=None, select=None, **ckw
                )
            except ValueError as exc:
                raise search.QuerySyntaxError(f"{{!collapse}}: {exc}") from None
        if qtype == "terms":
            # TermsQParser {!terms f=field}v1,v2,v3 — a raw set-membership
            # filter over a PLAIN column (no analysis, Solr's docvalues IN
            # semantics): one isin predicate, pushed to the scan
            f = params.get("f")
            if not f:
                raise search.QuerySyntaxError("{!terms} needs the f= param")
            if not inner:
                raise search.QuerySyntaxError(
                    "{!terms} needs a comma-separated value list"
                )
            sep = params.get("separator", ",")
            vals = [v for v in inner.split(sep)]
            return self.df().filter(F.col(f).isin(vals))
        if qtype in ("term", "raw"):
            # TermQParser {!term f=field}value / RawQParser {!raw} —
            # ONE raw term, no analysis, no separator splitting (the
            # single-valued {!terms}; in Solr the two differ only in
            # readable-vs-internal term encoding, which a columnar
            # store doesn't have)
            f = params.get("f")
            if not f:
                raise search.QuerySyntaxError(
                    f"{{!{qtype}}} needs the f= param"
                )
            if not inner:
                raise search.QuerySyntaxError(f"{{!{qtype}}} needs a value")
            return self.df().filter(F.col(f) == inner)
        if qtype == "prefix":
            # PrefixQParser {!prefix f=field}val — raw startswith, no
            # analysis, no glob escaping (Solr's contract)
            f = params.get("f")
            if not f:
                raise search.QuerySyntaxError("{!prefix} needs the f= param")
            return self.df().filter(F.col(f).startswith(inner))
        if qtype == "field":
            # FieldQParser {!field f=field}value — exact raw value match
            # (spaces and specials included, never tokenized)
            f = params.get("f")
            if not f:
                raise search.QuerySyntaxError("{!field} needs the f= param")
            return self.df().filter(F.col(f) == inner)
        if qtype == "frange":
            # FunctionRangeQParser {!frange l=.. u=.. incl=.. incu=..}func:
            # docs whose function-query VALUE falls in [l, u] — one
            # expression-tree predicate on one scan (no UDF)
            fcol = search.parse_function_query(
                inner.strip(), context=self._fn_ctx()
            )
            lo, hi = params.get("l"), params.get("u")
            if lo is None and hi is None:
                raise search.QuerySyntaxError(
                    "{!frange} needs l= and/or u= bounds"
                )
            incl = params.get("incl", "true").lower() != "false"
            incu = params.get("incu", "true").lower() != "false"
            pred = F.lit(True)
            if lo is not None:
                b = _float_local_param(params, "l", 0.0)
                pred = pred & (fcol >= b if incl else fcol > b)
            if hi is not None:
                b = _float_local_param(params, "u", 0.0)
                pred = pred & (fcol <= b if incu else fcol < b)
            return self.df().filter(pred)
        if qtype == "join":
            try:
                f_from, f_to = params["from"], params["to"]
            except KeyError:
                raise search.QuerySyntaxError(
                    "{!join} needs from= and to= local params"
                ) from None
            inner = inner.strip()
            if not inner:
                raise search.QuerySyntaxError("{!join} needs an inner query")
            # Solr's fromIndex= cross-core join: the inner query runs
            # against ANOTHER collection (an attach_collection()-
            # registered handle, or an artifact path opened on the
            # spot) UNDER THAT collection's analyzers/default field,
            # and only its distinct from= keys come back — at scale a
            # bounded key set AQE broadcasts into this side's semi-join
            src = self
            from_index = params.get("fromIndex")
            if from_index:
                src = self._collections.get(from_index)
                if src is None and self.allow_path_from_index:
                    # explicit opt-in only: query text is often
                    # caller-supplied, and opening arbitrary readable
                    # paths would bypass the attach registry (and make
                    # a typo'd name silently join the wrong data)
                    try:
                        src = SearchIndex.open(self.spark, from_index)
                    except Exception:
                        src = None
                if src is None:
                    raise search.QuerySyntaxError(
                        f"{{!join}} fromIndex {from_index!r} is not an "
                        "attached collection "
                        f"({sorted(self._collections)}) — register it "
                        "with attach_collection()/--attach (Solr errors "
                        "on an unknown core the same way); set "
                        "allow_path_from_index=True to let names open "
                        "as artifact paths"
                    )
            scan = (
                src._query_scan(inner, field, synonyms, op)
                if src is self
                else src._query_scan(inner)
            )
            keys = (
                scan.filter(F.col(f_from).isNotNull())
                .select(F.col(f_from).alias(f_to))
                .distinct()
            )
            return self.df().join(keys, on=f_to, how="left_semi")
        if qtype in ("parent", "child"):
            inner = inner.strip()  # body is a query string, not a raw value
            root = params.get("root", self.ROOT_COL)
            anchor = "which" if qtype == "parent" else "of"
            pf = params.get(anchor)
            if not pf:
                raise search.QuerySyntaxError(
                    f"{{!{qtype}}} needs the {anchor}= parent-filter param"
                )
            parents_pred, _info, _f = self._compile_predicate(
                pf, field, synonyms, op
            )
            base = self.df()
            if qtype == "parent":
                matched = base.filter(~parents_pred)
                if inner:
                    child_pred, _i, _f2 = self._compile_predicate(
                        inner, field, synonyms, op
                    )
                    matched = matched.filter(child_pred)
                roots = (
                    matched.filter(F.col(root).isNotNull())
                    .select(F.col(root).alias(self.unique_key))
                    .distinct()
                )
                return base.filter(parents_pred).join(
                    roots, on=self.unique_key, how="left_semi"
                )
            matched = base.filter(parents_pred)
            if inner:
                parent_pred, _i, _f2 = self._compile_predicate(
                    inner, field, synonyms, op
                )
                matched = matched.filter(parent_pred)
            roots = matched.select(
                F.col(self.unique_key).alias(root)
            ).distinct()
            return base.filter(~parents_pred).join(
                roots, on=root, how="left_semi"
            )
        if qtype == "knn":
            # KnnQParser (Solr 9): {!knn f=vector topK=10}[v1, v2, ...]
            # — the topK rows by vector similarity to the literal query
            # vector.  similarity= picks cosine (default) or dot
            # (Solr's field-declared similarityFunction, made explicit
            # as a param since our schema stores plain arrays).
            # Serving: when the artifact has a generation-current ANN
            # sidecar on the field (build_ann), topK routes through
            # partition-pruned IVF probes — the sublinear contract Solr
            # 9 meets with HNSW — with ``exact=true`` as the opt-out.
            # preFilter= routes too (Solr 9.1 applies it DURING graph
            # traversal): the filter compiles to a column-pruned
            # key-set scan (predicate pushed down, vectors never read)
            # semi-joined onto the probed rows BEFORE the top-k, with
            # nprobe widening when the filtered pool underfills — at
            # full probe the page is provably the exact filtered topK.
            # similarity=dot routes on BOTH corpus shapes: a unit-norm
            # corpus (meta unit_norms — cosine bucket ranking IS dot's,
            # either sidecar kind) and a NON-unit ivf corpus whose meta
            # carries the MIPS stats (dot_route — norm-augmented
            # centroid probe ranking, true dot scored over probed raw
            # vectors).  Exact fallback remains for ivfpq non-unit
            # (codes are unit-encoded, norms lost) and legacy ivf
            # sidecars without dot_route — never stale-wrong.
            # Fallback (no sidecar / stale / exact= / the above):
            # ONE scan + TakeOrderedAndProject (k rows per partition),
            # the brute-force exact plan.  Composed fq filters apply
            # AFTER (Solr's default post-filtering for {!knn} as the
            # main query).
            from solr_map_reduce_spark.extensions import similarity as sim

            f = params.get("f")
            if not f:
                raise search.QuerySyntaxError("{!knn} needs the f= param")
            topk = _int_local_param(params, "topK", 10)
            body = inner.strip()
            if not (body.startswith("[") and body.endswith("]")):
                raise search.QuerySyntaxError(
                    "{!knn} takes a bracketed vector literal, e.g. "
                    "{!knn f=emb topK=10}[0.1, 0.2]"
                )
            try:
                qvec = [float(x) for x in body[1:-1].split(",") if x.strip()]
            except ValueError:
                raise search.QuerySyntaxError(
                    f"{{!knn}} vector literal {body!r} has non-numeric "
                    "components"
                ) from None
            if not qvec:
                raise search.QuerySyntaxError("{!knn} vector is empty")
            if not all(math.isfinite(x) for x in qvec):
                # Lucene rejects non-finite query vectors; a NaN/Inf
                # component would NaN every score (NaN sorts GREATEST,
                # so the page would be arbitrary rows, not an error)
                raise search.QuerySyntaxError(
                    "{!knn} vector has non-finite components"
                )
            metric = params.get("similarity", "cosine")
            if metric == "cosine":
                if all(x == 0.0 for x in qvec):
                    # Lucene raises on a zero-magnitude cosine query;
                    # serving it would yield NULL scores everywhere —
                    # a silently empty page instead of an error
                    raise search.QuerySyntaxError(
                        "{!knn} cosine is undefined for a "
                        "zero-magnitude query vector"
                    )
            elif metric not in ("dot", "dot_product"):
                raise search.QuerySyntaxError(
                    f"{{!knn}} similarity {metric!r} unsupported "
                    "(cosine, dot)"
                )
            prefilter = params.get("preFilter")
            exact = str(params.get("exact", "")).lower() in (
                "true", "1", "yes", "on",
            )
            pre_pred = None
            if prefilter:
                # Solr 9.1 preFilter: restrict the candidate set BEFORE
                # the topK selection (vs composed fq's post-filtering) —
                # a selective prefilter SHRINKS the ranked set instead
                # of starving the page
                pre_pred, _info, _f2 = self._compile_predicate(
                    prefilter, field, synonyms, op
                )
            if not exact:
                filter_keys = None
                if pre_pred is not None:
                    # column-pruned key-set scan: the predicate pushes
                    # down to parquet and only the key column returns —
                    # the vector column (the scan's dominant bytes)
                    # never reads on this side
                    filter_keys = (
                        self.df().filter(pre_pred).select(self.unique_key)
                    )
                routed = self._knn_via_ann(
                    f, qvec, topk, params, filter_keys=filter_keys,
                    metric="dot" if metric in ("dot", "dot_product")
                    else "cosine",
                )
                if routed is not None:
                    return routed
            base = self.df()
            if pre_pred is not None:
                # exact path: the predicate rides the same scan
                base = base.filter(pre_pred)
            # NULL-score shape: unusable vectors (zero-norm/NaN/Inf)
            # score NULL, which sorts LAST under desc, and the O(topk)
            # post-limit isNotNull filter strips underfill padding — a
            # pre-limit finite filter gets the array folds substituted
            # into its pushed-down predicate and pays the scan twice
            attach = (
                sim.attach_cosine_score if metric == "cosine"
                else sim.attach_dot_score
            )
            scored = attach(
                base, qvec, score_col="_knn_score", vec_col=f,
                nonfinite="null",
            )
            return (
                scored
                .orderBy(F.desc("_knn_score"), F.asc(self.unique_key))
                .limit(topk)
                .filter(F.col("_knn_score").isNotNull())
                .drop("_knn_score")
            )
        if qtype == "mlt":
            # Solr MLTQParser ({!mlt qf=f mintf=N mindf=N maxdftopk=K}id):
            # documents similar to the given doc — the engine's
            # more_like_this (tf·idf interesting-term selection from the
            # dictionary sidecar, BM25 over them, source excluded), a
            # per-document operation that never scans the corpus.  The
            # matched keys semi-join back to full rows so {!mlt}
            # composes like every other local-params query.
            key = inner.strip()
            if not key:
                raise search.QuerySyntaxError("{!mlt} needs a document id")
            # each Solr MLT param maps independently (the old wiring
            # used mintf only as a gate for reading maxqt — maxqt
            # without mintf was silently ignored and mintf itself never
            # applied)
            k, mlt_kw = _parse_mlt_local_params(params)
            hits = self.more_like_this(key, k=k, **mlt_kw)
            return self.df().join(
                F.broadcast(hits.select(self.unique_key)),
                on=self.unique_key, how="left_semi",
            )
        if qtype == "bool":
            # Solr BoolQParser ({!bool must='q' must_not='q' should='q'
            # filter='q'}, each repeatable as a list): Lucene
            # BooleanQuery match semantics — every must/filter clause
            # holds, no must_not holds, and when NO must/filter exists
            # at least one should must hold (with musts present,
            # shoulds are scoring-only and do not restrict matching).
            # Every clause compiles through the SAME predicate compiler
            # onto one scan lineage — {!bool} adds zero scans.
            def _clauses(name: str) -> list:
                v = params.get(name)
                if v is None:
                    return []
                return v if isinstance(v, list) else [v]

            musts = _clauses("must") + _clauses("filter")
            shoulds = _clauses("should")
            nots = _clauses("must_not")
            if not (musts or shoulds or nots):
                raise search.QuerySyntaxError(
                    "{!bool} needs at least one must=/should=/"
                    "must_not=/filter= clause"
                )
            pred = None

            def _and(p, c):
                return c if p is None else p & c

            for c_ in musts:
                cp_, _i, _f = self._compile_predicate(
                    c_, field, synonyms, op
                )
                pred = _and(pred, cp_)
            for c_ in nots:
                cp_, _i, _f = self._compile_predicate(
                    c_, field, synonyms, op
                )
                pred = _and(pred, ~F.coalesce(cp_, F.lit(False)))
            if shoulds and not musts:
                sp = None
                for c_ in shoulds:
                    cp_, _i, _f = self._compile_predicate(
                        c_, field, synonyms, op
                    )
                    sp = cp_ if sp is None else (sp | cp_)
                pred = _and(pred, sp)
            return self.df().filter(pred)
        if qtype == "surround":
            # Lucene SurroundQueryParser, the ordered-W subset:
            # {!surround}[field:]Nw(a, b*, c) and the binary infix
            # {!surround}[field:]a Nw b — terms in order with total
            # slack <= N-1 over the stored positions (N=1/w = adjacent;
            # our pinned mapping of surround's "within N words, in
            # order"), wildcard operands as anchored-regex position
            # filters.  Surround does NOT analyze its operands
            # (Lucene's raw parser) — lowercase-only normalization.
            # The unordered N operator matches DISTINCT positions in any
            # order within the same width bound (unordered_near_match's
            # permutation-OR over the ordered greedy chase).
            import re as _re

            body = inner.strip()
            if not body:
                raise search.QuerySyntaxError("{!surround} needs a query")
            m = _re.match(
                r"^(?:([\w.]+):)?(\d*)([wWnN])\(([^)]*)\)$", body
            )
            if m:
                fname, n_raw, op_, arglist = m.groups()
                args = [a.strip() for a in arglist.split(",") if a.strip()]
            else:
                m = _re.match(
                    r"^(?:([\w.]+):)?(\S+)\s+(\d*)([wWnN])\s+(\S+)$", body
                )
                if not m:
                    raise search.QuerySyntaxError(
                        "{!surround} supports Nw(a, b, ...) and the "
                        f"binary infix 'a Nw b'; got {body!r}"
                    )
                fname, lhs, n_raw, op_, rhs = m.groups()
                args = [lhs, rhs]
            if len(args) < 2:
                raise search.QuerySyntaxError(
                    "{!surround} W/N takes at least two operands"
                )
            n_ = int(n_raw) if n_raw else 1
            if n_ < 1:
                raise search.QuerySyntaxError(
                    "{!surround} distance must be >= 1"
                )
            fname = fname or field
            tc = self._tokens_col(fname)
            patterns = [
                ("glob" if ("*" in a or "?" in a) else "term", a.lower())
                for a in args
            ]
            matcher = (
                search.unordered_near_match
                if op_ in ("n", "N")
                else search.complex_phrase_match
            )
            pred = matcher(F.col(tc), patterns, slop=n_ - 1)
            return self.df().filter(pred)
        if qtype == "complexphrase":
            # Lucene ComplexPhraseQueryParser ({!complexphrase
            # inOrder=true}field:"jo* smyth*"~N): a phrase whose terms
            # may be wildcards — matched as an ordered positional window
            # over the stored token array (complex_phrase_match's greedy
            # earliest-witness chase over per-term position sets;
            # wildcards become anchored regex position filters, never a
            # dictionary expansion).  inOrder=false (Lucene's unordered
            # window) matches distinct positions in any order within
            # the same width bound via unordered_near_match.
            import re as _re

            in_order = params.get("inOrder", "true").lower() != "false"
            m = _re.match(
                r'^\s*(?:([\w.]+):)?"([^"]+)"(?:~(\d+))?\s*$', inner
            )
            if not m:
                raise search.QuerySyntaxError(
                    '{!complexphrase} body must be [field:]"terms..."'
                    f"[~slop], got {inner!r}"
                )
            fname = m.group(1) or field
            phrase, slop = m.group(2), int(m.group(3) or 0)
            tc = self._tokens_col(fname)
            patterns: list = []
            for w in phrase.split():
                if "*" in w or "?" in w:
                    # Lucene: wildcard terms are NOT analyzed (lowercase
                    # only — the multiterm normalization)
                    patterns.append(("glob", w.lower()))
                else:
                    for tok in self.analyze_terms([w], field=fname) or []:
                        patterns.append(("term", tok))
            if not patterns:
                raise search.QuerySyntaxError(
                    f"{{!complexphrase}} phrase {phrase!r} has no "
                    "matchable terms after analysis"
                )
            matcher = (
                search.complex_phrase_match
                if in_order
                else search.unordered_near_match
            )
            pred = matcher(F.col(tc), patterns, slop=slop)
            return self.df().filter(pred)
        if qtype == "graph":
            # GraphQParser {!graph from=f to=t maxDepth=N returnRoot=
            # true|false returnOnlyLeaf=true|false traversalFilter='q'}
            # rootQuery — breadth-first cyclic-aware reachability: root
            # docs match the wrapped query; each hop matches docs whose
            # ``to`` field holds any ``from`` value of the current set.
            # Plan per hop: ONE equi semi-join of the (once-normalized)
            # edge projection against the frontier's distinct values —
            # AQE broadcasts small frontiers, the visited set grows by
            # anti-join (cycle-safe), lineage is cut per level
            # (localCheckpoint) exactly like shortestPath's BFS.  Hop
            # cost scales with the frontier's matches, never the
            # collection; unbounded maxDepth terminates at the fixpoint
            # (visited is monotone and finite).
            frm = params.get("from", "edge_ids")
            to = params.get("to", "node_id")
            max_depth = _int_local_param(params, "maxDepth", -1)
            return_root = params.get("returnRoot", "true").lower() != "false"
            only_leaf = (
                params.get("returnOnlyLeaf", "false").lower() == "true"
            )
            inner = inner.strip()
            if not inner:
                raise search.QuerySyntaxError(
                    "{!graph} needs a root query body"
                )
            base = self.df()
            key = self.unique_key
            dtypes = dict(base.dtypes)
            for f in (frm, to):
                if f not in dtypes:
                    raise search.QuerySyntaxError(
                        f"{{!graph}} field {f!r} not in the artifact "
                        f"(have {sorted(dtypes)})"
                    )
            cand = base
            trav = params.get("traversalFilter")
            if trav:
                tpred, _i, _f2 = self._compile_predicate(
                    trav, field, synonyms, op
                )
                cand = cand.filter(tpred)

            def _edge_vals(df: DataFrame) -> DataFrame:
                # outgoing edge values of a doc set (multivalued from
                # explodes; term matching is string-typed, Solr-style)
                c = F.col(frm)
                if dtypes.get(frm, "").startswith("array"):
                    out = df.select(F.explode(c).alias("_gv"))
                else:
                    out = df.select(c.alias("_gv"))
                return (
                    out.filter(F.col("_gv").isNotNull())
                    .select(F.col("_gv").cast("string").alias("_gv"))
                    .distinct()
                )

            # normalize incoming edges ONCE: (key, _to) — multivalued
            # ``to`` explodes here instead of re-exploding every hop
            if dtypes.get(to, "").startswith("array"):
                edges = cand.select(key, F.explode(F.col(to)).alias("_to"))
            else:
                edges = cand.select(key, F.col(to).alias("_to"))
            edges = edges.filter(F.col("_to").isNotNull()).select(
                key, F.col("_to").cast("string").alias("_to")
            )

            root = self._query_scan(inner, field, synonyms, op)
            visited = root.select(key).distinct().localCheckpoint(
                eager=False
            )
            frontier_docs = root
            depth = 0
            while max_depth < 0 or depth < max_depth:
                vals = _edge_vals(frontier_docs)
                stepped = (
                    edges.join(vals, edges["_to"] == vals["_gv"], "inner")
                    .select(key)
                    .distinct()
                )
                new_keys = stepped.join(
                    visited, on=key, how="left_anti"
                ).localCheckpoint(eager=False)
                if not new_keys.limit(1).count():
                    break
                visited = visited.union(new_keys).localCheckpoint(
                    eager=False
                )
                frontier_docs = cand.join(new_keys, on=key, how="left_semi")
                depth += 1
            reached = visited
            if not return_root:
                reached = reached.join(
                    root.select(key).distinct(), on=key, how="left_anti"
                )
            out = base.join(reached, on=key, how="left_semi")
            if only_leaf:
                leaf = F.col(frm).isNull()
                if dtypes.get(frm, "").startswith("array"):
                    leaf = leaf | (F.size(F.col(frm)) == 0)
                out = out.filter(leaf)
            return out
        if qtype == "func":
            # Lucene FunctionQParser ({!func}recip(ms(NOW,ts),...)): a
            # FunctionQuery MATCHES ALL documents — the function only
            # contributes score.  In the match-composition context the
            # correct result is every row; the expression still parses
            # eagerly so a bad function fails loudly, and scoring uses
            # the same parser via dismax's boost=/rerank/sort paths.
            if not inner.strip():
                raise search.QuerySyntaxError("{!func} needs a function")
            search.parse_function_query(inner.strip(), context=self._fn_ctx())
            return self.df()
        if qtype == "boost":
            # BoostQParser ({!boost b=func}query): multiplies the wrapped
            # query's score by the function — matching is the WRAPPED
            # query's matching, so in match composition it compiles to
            # the inner query; b= parses eagerly (loud on bad syntax).
            b_expr = params.get("b")
            if b_expr:
                search.parse_function_query(b_expr, context=self._fn_ctx())
            if not inner.strip():
                raise search.QuerySyntaxError(
                    "{!boost} needs a wrapped query"
                )
            pred, _info, _f2 = self._compile_predicate(
                inner, field, synonyms, op
            )
            return self.df().filter(pred)
        raise search.QuerySyntaxError(
            f"unsupported local-params query type {{!{qtype}}}; "
            "supported: join, parent, child, terms, term, raw, prefix, "
            "field, frange, knn, collapse, graph, complexphrase, mlt, "
            "surround, bool, func, boost"
        )

    def query(
        self, q: str, field: str | None = None,
        synonyms: "Mapping[str, Sequence[str]] | None" = None,
        op: str = "OR",
    ) -> DataFrame:
        """Boolean query over the analyzed field — the Solr/Lucene syntax
        subset its users write: terms, ``"quoted phrases"``, AND / OR /
        NOT (also ``&&`` / ``||`` / ``-``), parentheses; default operator
        OR (``op="AND"`` is Solr's q.op=AND: juxtaposed clauses conjoin,
        and the conjunctive spine then Bloom-prunes in 'all' mode).  Query text is analyzed with the FIELD'S analyzer driver-side
        (stopword-only clauses drop, Solr-style), the tree compiles to a
        single Column predicate (one scan regardless of query shape), and
        shard Bloom pruning applies automatically: 'all'-mode on the
        query's conjunctive spine when it has one, else 'any'-mode over
        the positive tokens when no term-free document can match.

        ``synonyms={"surface": ["alt", ...]}`` applies Solr query-time
        synonym expansion (SynonymFilterFactory, expand=true): a TERM
        whose surface form is in the map becomes an OR over its group,
        every member analyzed like any query term (multi-word synonyms
        match as PHRASES — SynonymGraphFilter's positional-run contract;
        stemming applies after expansion — the declared filter-chain
        order)."""
        return self._query_scan(q, field, synonyms, op).select(self.unique_key)

    def contains_all(self, terms: Sequence[str], field: str | None = None) -> DataFrame:
        from solr_map_reduce_spark.extensions import search

        return search.contains_all(
            self._bloom_pruned(terms, field, "all"), terms, id_col=self.unique_key,
            tokens_col=self._tokens_col(field),
        )

    def contains_any(self, terms: Sequence[str], field: str | None = None) -> DataFrame:
        from solr_map_reduce_spark.extensions import search

        return search.contains_any(
            self._bloom_pruned(terms, field, "any"), terms, id_col=self.unique_key,
            tokens_col=self._tokens_col(field),
        )

    def contains_none(self, terms: Sequence[str], field: str | None = None) -> DataFrame:
        from solr_map_reduce_spark.extensions import search

        return search.contains_none(
            self.df(), terms, id_col=self.unique_key,
            tokens_col=self._tokens_col(field),
        )

    def prefix(self, prefix: str, field: str | None = None) -> DataFrame:
        from solr_map_reduce_spark.extensions import search

        return search.prefix_match(
            self.df(), prefix, id_col=self.unique_key,
            tokens_col=self._tokens_col(field),
        )

    def phrase(
        self, phrase: str, field: str | None = None, slop: int = 0
    ) -> DataFrame:
        """Analyzed phrase query; ``slop=N`` is Solr's ``"a b"~N`` (tokens
        in order within N extra positions).  Bloom pruning stays safe
        under slop: every phrase token is still necessary for a match."""
        import re

        from solr_map_reduce_spark.extensions import search

        # the SAME normalization match_phrase applies: presence of every
        # phrase token is necessary for a match, so pruning on them can
        # never change the result
        terms = re.findall(r"[^\W_]+", phrase.lower(), flags=re.UNICODE)
        return search.match_phrase(
            self._bloom_pruned(terms, field, "all"), phrase, id_col=self.unique_key,
            tokens_col=self._tokens_col(field), slop=slop,
        )

    def bm25(
        self,
        terms: Sequence[str],
        k: int = 10,
        field: str | None = None,
        fq: str | None = None,
        **kw,
    ) -> DataFrame:
        """BM25 top-k.  With a ``_SEARCH_STATS.json`` sidecar (built via
        ``IndexJobConfig.search_stats``), corpus statistics and the query
        terms' document frequencies come from stored structures and the
        plan is one scan + TakeOrdered — scores identical either way (all
        stored quantities are integers, exact in doubles).  Stored stats
        also make Bloom shard-pruning safe (only docs containing a query
        term score, and statistics no longer derive from the scan); the
        computed-stats fallback never prunes, since its statistics are
        defined over the whole collection.

        ``fq`` is Solr's filter query: a boolean query string (the
        :meth:`query` syntax) that restricts CANDIDATES without touching
        statistics — n_docs/avgdl/df stay collection-wide, so a document's
        score is identical with or without the filter (exact Solr
        semantics).  Without a stats sidecar, collection statistics are
        derived inline before the filter applies, preserving the same
        invariance."""
        from solr_map_reduce_spark.extensions import search

        if isinstance(kw.get("boost_col"), str):
            # Solr function-query SYNTAX for boost= (edismax boost=recip(...)):
            # parsed driver-side to the same Column expression a caller
            # could pass directly
            kw = dict(kw)
            kw["boost_col"] = search.parse_function_query(
                kw["boost_col"], context=self._fn_ctx()
            )
        analyzed: dict = self.manifest.get("analyzed", {})
        fname = field or (next(iter(analyzed)) if len(analyzed) == 1 else None)
        stats = self._sidecar("stats")
        scan = self.df()
        if stats and fname in stats:
            s = stats[fname]
            norm_terms = [t.lower() for t in terms]
            kw = dict(kw)
            kw["stored_stats"] = (s["n_docs"], s["sum_dl"], s["n_dl"])
            kw["stored_dfs"] = self._dfs_for(fname, norm_terms)
            scan = self._bloom_pruned(norm_terms, fname, "any")
        elif fq is not None:
            # no sidecar: derive collection-wide stats BEFORE filtering so
            # fq can't skew scores.  ONE aggregation job over one
            # tokenization pass: n_docs/sum_dl/n_dl plus per-term df
            # (array_contains presence sums) in the same agg — the same
            # single stats pass the computed path pays.  At scale that is
            # a silent corpus pass PER QUERY — warn once per handle
            if not self._warned_no_stats_fq:
                self._warned_no_stats_fq = True
                import logging

                logging.getLogger(__name__).warning(
                    "bm25(fq=...) without a _SEARCH_STATS.json sidecar "
                    "computes collection-wide statistics with a full "
                    "corpus aggregate on EVERY query (Solr's fq-invariant "
                    "score contract requires collection stats); build the "
                    "artifact with IndexJobConfig(search_stats=True) or "
                    "run write_search_stats() to serve stats from the "
                    "stored sidecar instead"
                )
            tc = self._tokens_col(fname)
            norm_terms = [t.lower() for t in terms]
            toks = self._real_toks(tc)  # rev copies must not inflate dl
            row = self.df().agg(
                F.count(F.lit(1)).alias("_n_docs"),
                F.sum(F.size(toks)).alias("_sum_dl"),
                F.count(F.size(toks)).alias("_n_dl"),
                *[
                    F.sum(F.array_contains(toks, t).cast("long")).alias(f"_df_{i}")
                    for i, t in enumerate(norm_terms)
                ],
            ).collect()[0]
            kw = dict(kw)
            kw["stored_stats"] = (
                int(row["_n_docs"]), int(row["_sum_dl"] or 0), int(row["_n_dl"]),
            )
            kw["stored_dfs"] = {
                t: int(row[f"_df_{i}"] or 0) for i, t in enumerate(norm_terms)
            }
        if fq is not None:
            analyze = lambda text: self.analyze_terms([text], field=fname)  # noqa: E731
            pred, _info = search.boolean_predicate(
                fq, analyze, F.col(self._tokens_col(fname)),
                resolver=self._field_resolver(),
                fuzzy_expand=self._fuzzy_expander(fname),
                default_field=fname,
            )
            scan = scan.filter(pred)
        tc = self._tokens_col(field)
        if analyzed.get(fname, {}).get("type") == "text_general_rev":
            # rev-marker copies must not inflate dl / match terms
            tc = self._real_toks(tc)
        return search.bm25_search(
            scan, terms, k=k, id_col=self.unique_key,
            tokens_col=tc, **kw,
        )

    def elevated(
        self,
        terms: Sequence[str],
        elevate: Sequence[object],
        exclude: Sequence[object] = (),
        k: int = 10,
        **bm25_kwargs,
    ) -> DataFrame:
        """Solr QueryElevationComponent (elevate.xml): pin ``elevate`` docs
        to the top IN THE GIVEN ORDER — included even when they don't match
        the query (Solr's forceElevation/inclusion contract) — drop
        ``exclude`` docs entirely, and fill the rest organically by BM25.
        Returns ``(unique_key, elevated)`` top-``k``.

        Plan shape: the organic side is the one-scan BM25 TakeOrdered with
        the pool widened by ``len(elevate) + len(exclude)`` (so pins and
        drops can't starve the page); the elevated side is a segment-pruned
        ``get_many`` point lookup — both bounded, corpus scanned once."""
        elevate = list(elevate)
        exclude = list(exclude)
        if not elevate:
            raise ValueError("elevated() needs at least one doc to elevate")
        key = self.unique_key
        pool_k = k + len(elevate) + len(exclude)
        pool = self.bm25(list(terms), k=pool_k, **bm25_kwargs)
        organic = pool.filter(~F.col(key).isin(elevate + exclude)).select(
            F.col(key),
            F.lit(False).alias("elevated"),
            F.lit(None).cast("int").alias("_pos"),
            F.col("score").alias("_score"),
        )
        pos_map = F.create_map(
            *[x for i, e in enumerate(elevate) for x in (F.lit(e), F.lit(i))]
        )
        pinned = self.get_many([str(e) for e in elevate]).select(
            F.col(key),
            F.lit(True).alias("elevated"),
            pos_map[F.col(key)].alias("_pos"),
            F.lit(None).cast("double").alias("_score"),
        )
        return (
            pinned.unionByName(organic)
            .orderBy(
                F.desc("elevated"),
                F.asc_nulls_last("_pos"),
                F.desc_nulls_last("_score"),
                F.col(key),
            )
            .limit(k)
            .select(key, "elevated")
        )

    def rerank(
        self,
        terms: Sequence[str],
        rerank_terms: Sequence[str],
        k: int = 10,
        rerank_docs: int = 50,
        rerank_weight: float = 2.0,
        **bm25_kwargs,
    ) -> DataFrame:
        """Solr ReRankQParser (``rq={!rerank reRankQuery=... reRankDocs=N
        reRankWeight=W}``): the main query's top-``rerank_docs`` candidates
        are re-scored as ``main + W * rerank_score`` (a candidate not
        matching the rerank query keeps its main score — Solr's additive
        contract) and the page is cut from the re-sorted candidates.

        Plan shape: main pass is the one-scan BM25 TakeOrdered; the rerank
        pass scores the rerank query's matching docs in one more scan and
        left-joins against the ``rerank_docs``-row candidate side (AQE
        broadcasts it).  Both scores stay decimal-exact under
        ``exact_sum=True``, so the combined ranking is engine-reproducible."""
        if k > rerank_docs:
            raise ValueError(
                f"k ({k}) cannot exceed reRankDocs ({rerank_docs}): only the "
                "top reRankDocs candidates are reranked (Solr contract)"
            )
        key = self.unique_key
        main = self.bm25(list(terms), k=rerank_docs, **bm25_kwargs)
        second = self.bm25(list(rerank_terms), k=None, **bm25_kwargs)
        m = main.select(F.col(key), F.col("score").alias("_main"))
        r = second.select(F.col(key), F.col("score").alias("_rr"))
        combined = (
            F.col("_main")
            + F.lit(float(rerank_weight)) * F.coalesce(F.col("_rr"), F.lit(0.0))
        )
        return (
            m.join(r, on=key, how="left")
            .select(F.col(key), combined.alias("score"))
            .orderBy(F.desc("score"), F.col(key))
            .limit(k)
        )

    def dismax(
        self,
        words: Sequence[str],
        qf: Mapping[str, float],
        k: int = 10,
        tie: float = 0.0,
        **kw,
    ) -> DataFrame:
        """Solr (e)dismax multi-field ranking: ``qf={"title": 2.0,
        "body": 1.0}`` scores each query WORD in every listed analyzed
        field (each field's OWN analyzer and OWN BM25 statistics —
        Lucene's per-field docCount/norms), takes the max-plus-``tie``
        combination per word (DisjunctionMaxQuery), and sums over words.

        With a stats sidecar covering every qf field, statistics and
        term dfs come from stored structures — ONE scan + TakeOrdered;
        otherwise one extra aggregate over the shared compact projection
        derives all fields' statistics simultaneously.

        ``mm=`` (via ``**kw``) takes Solr's minimum-should-match specs:
        int / -int / P% / -P% and conditional ``"2<-25% 9<-3"`` forms;
        an mm above the countable word count matches NOTHING (Lucene's
        contract — never silently clamped down to all-words).

        ``boost=`` (via ``**kw``) is Solr's edismax MULTIPLICATIVE
        function-query boost ({!boost b=...} / boost=recip(...)): a
        function-query string (or prepared Column) multiplied into the
        final dismax score — recency/popularity boosting without
        touching matching or the per-field statistics."""
        from solr_map_reduce_spark.extensions import search

        if "boost" in kw:
            kw = dict(kw)
            b_ = kw.pop("boost")
            kw["boost_col"] = (
                search.parse_function_query(b_, context=self._fn_ctx())
                if isinstance(b_, str) else b_
            )
        if "pf" in kw or "pf2" in kw or "pf3" in kw:
            # Solr edismax pf=/pf2=/pf3= ({"field": weight}): additive
            # bonuses when the whole query (pf) / consecutive word
            # pairs (pf2) / triples (pf3) appear as adjacent phrases in
            # the field (each word analyzed with the pf field's own
            # analyzer).  Our pinned bonus is weight × matched-shingle
            # count — see bm25_dismax's pf_specs note.
            kw = dict(kw)
            analyzed_pf: dict = self.manifest.get("analyzed", {})
            pf_specs: dict = {}
            for pkey, size in (("pf", None), ("pf2", 2), ("pf3", 3)):
                for pfname, pweight in (kw.pop(pkey, None) or {}).items():
                    if pfname not in analyzed_pf:
                        raise ValueError(
                            f"dismax {pkey} field {pfname!r} is not an "
                            f"analyzed field "
                            f"(analyzed={sorted(analyzed_pf)})"
                        )
                    ptoks: list[str] = []
                    for w in words:
                        ptoks.extend(
                            self.analyze_terms([w], field=pfname) or []
                        )
                    need = 2 if size is None else size
                    if len(ptoks) < need:
                        raise ValueError(
                            f"dismax {pkey}= needs at least {need} "
                            "analyzed query words"
                        )
                    shingles = (
                        [ptoks] if size is None else
                        [ptoks[i:i + size]
                         for i in range(len(ptoks) - size + 1)]
                    )
                    pf_specs[f"{pkey}:{pfname}"] = {
                        "weight": float(pweight),
                        "tokens_col": analyzed_pf[pfname]["tokens_col"],
                        "phrase_tokens": ptoks,
                        "shingles": shingles,
                        # ps/ps2/ps3: Solr's per-tier pf phrase slop
                        "slop": int(kw.get(
                            "ps" if pkey == "pf" else f"ps{size}", 0
                        )),
                    }
            for psk in ("ps", "ps2", "ps3"):
                kw.pop(psk, None)
            kw["pf_specs"] = pf_specs

        analyzed: dict = self.manifest.get("analyzed", {})
        stats = self._sidecar("stats")
        specs: dict = {}
        for fname, weight in qf.items():
            if fname not in analyzed:
                raise ValueError(
                    f"dismax qf field {fname!r} is not an analyzed field "
                    f"(analyzed={sorted(analyzed)})"
                )
            word_tokens = [
                self.analyze_terms([w], field=fname) or [] for w in words
            ]
            tc = analyzed[fname]["tokens_col"]
            spec = {
                "weight": float(weight),
                # rev fields hand bm25_dismax a CLEANED column view
                "tokens_col": (
                    self._real_toks(tc)
                    if analyzed[fname].get("type") == "text_general_rev"
                    else tc
                ),
                "word_tokens": word_tokens,
            }
            if stats and fname in stats:
                s = stats[fname]
                toks = sorted({t for wt in word_tokens for t in wt})
                spec["stored_stats"] = (s["n_docs"], s["sum_dl"], s["n_dl"])
                spec["stored_dfs"] = self._dfs_for(fname, toks)
            specs[fname] = spec
        return search.bm25_dismax(
            self.df(), specs, k=k, id_col=self.unique_key, tie=tie, **kw
        )

    def _term_dictionary(self, field: str | None) -> tuple[str | None, DataFrame]:
        """``(resolved_field, (term, df) DataFrame)`` — the stored term
        dictionary (``_vocab/`` sidecar, a KB-scale parquet read) when the
        field has one, else one explode/groupBy pass over the stored token
        column.  Every dictionary-shaped component (term_facet, suggest,
        spellcheck, terms) serves from this."""
        analyzed: dict = self.manifest.get("analyzed", {})
        fname = field or (next(iter(analyzed)) if len(analyzed) == 1 else None)
        stats = self._sidecar("stats")
        if stats and fname in stats:
            return fname, search_stats.read_vocab(self.spark, self.path, fname)
        tokens_col = self._tokens_col(fname)
        return fname, (
            self.df()
            .select(F.explode(F.array_distinct(self._real_toks(tokens_col))).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
        )

    def term_facet(self, field: str | None = None, top: int = 20) -> DataFrame:
        """Top terms by document frequency — served straight from the stored
        term dictionary (``_vocab/``) when present: zero corpus scan, a
        KB-scale parquet read + TakeOrdered.  Falls back to one
        explode/groupBy pass over the stored token column."""
        _fname, vocab = self._term_dictionary(field)
        return vocab.orderBy(F.desc("df"), F.asc("term")).limit(top)

    def terms(
        self,
        field: str | None = None,
        prefix: str | None = None,
        lower: str | None = None,
        upper: str | None = None,
        lower_incl: bool = True,
        upper_incl: bool = False,
        regex: str | None = None,
        mincount: int = 1,
        maxcount: int | None = None,
        limit: int = 10,
        sort: str = "count",
    ) -> DataFrame:
        """Solr TermsComponent (``terms.fl/prefix/lower/upper/regex/
        mincount/maxcount/limit/sort``): enumerate indexed terms with their
        document frequencies straight from the term dictionary — the raw
        field-value inspection endpoint (no query, no corpus scan when the
        ``_vocab/`` sidecar exists).  ``sort`` is ``count`` (df desc, the
        Solr default) or ``index`` (term order).  Bound inclusivity matches
        Solr: ``terms.lower.incl`` defaults true, ``terms.upper.incl``
        defaults false."""
        if sort not in ("count", "index"):
            raise ValueError(f"terms.sort must be 'count' or 'index', got {sort!r}")
        _fname, vocab = self._term_dictionary(field)
        t = F.col("term")
        if prefix is not None:
            vocab = vocab.filter(t.startswith(prefix))
        if lower is not None:
            vocab = vocab.filter(t >= lower if lower_incl else t > lower)
        if upper is not None:
            vocab = vocab.filter(t <= upper if upper_incl else t < upper)
        if regex is not None:
            # Lucene TermsComponent applies Pattern.matches() — the WHOLE
            # term must match, not a substring (rlike alone is 'contains')
            vocab = vocab.filter(t.rlike(f"^(?:{regex})$"))
        if mincount > 1:
            vocab = vocab.filter(F.col("df") >= mincount)
        if maxcount is not None:
            vocab = vocab.filter(F.col("df") <= maxcount)
        order = (
            [F.desc("df"), F.asc("term")] if sort == "count" else [F.asc("term")]
        )
        return vocab.orderBy(*order).limit(limit)

    def suggest(
        self, prefix: str, field: str | None = None, top: int = 10,
        infix: bool = False,
    ) -> DataFrame:
        """Autocomplete — the Solr suggester analog, served from the
        stored term dictionary (``_vocab/``) when present: a predicate-
        pushdown scan of a KB-scale parquet + TakeOrdered, ranked by
        document frequency.  Falls back to one explode/groupBy pass over
        the stored token column.

        ``infix=False`` (default) is the prefix lookup (Solr's
        FuzzyLookup family); ``infix=True`` matches the needle ANYWHERE
        in the term — Solr's default AnalyzingInfixSuggester contract —
        with prefix hits ranked ABOVE pure-infix hits at equal df (the
        infix suggester's own prefix preference)."""
        _fname, vocab = self._term_dictionary(field)
        if not infix:
            return (
                vocab.filter(F.col("term").startswith(prefix))
                .orderBy(F.desc("df"), F.asc("term"))
                .limit(top)
            )
        return (
            vocab.filter(F.col("term").contains(prefix))
            .orderBy(
                F.col("term").startswith(prefix).desc(),
                F.desc("df"), F.asc("term"),
            )
            .limit(top)
        )

    def term_vectors(
        self, keys: Sequence[str], field: str | None = None
    ) -> DataFrame:
        """Solr TermVectorComponent: per-document term frequencies
        ``(key, term, tf)`` for the requested docs — served from the
        STORED token arrays of the shard/segment-pruned point lookups
        (tf.tv=true's per-doc view; document count stays bounded by the
        request, so the explode is request-sized, never corpus-sized)."""
        if not keys:
            raise ValueError("term_vectors needs at least one key")
        tokens_col = self._tokens_col(field)
        return (
            self.get_many([str(k) for k in keys])
            .select(self.unique_key, F.explode(self._real_toks(tokens_col)).alias("term"))
            .groupBy(self.unique_key, "term")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        )

    def spellcheck(
        self,
        term: str,
        field: str | None = None,
        top: int = 5,
        max_edits: int = 2,
    ) -> DataFrame:
        """Solr spellcheck component (did-you-mean): correction candidates
        from the stored term dictionary, ranked by (edit distance asc,
        document frequency desc, term) — Lucene's DirectSpellChecker cost
        model.  Served from the ``_vocab/`` sidecar when present: a length
        band (``|len(t) - len(needle)| <= max_edits``, a Levenshtein lower
        bound) prunes before the edit-distance evaluation, all over the
        KB-scale dictionary — the corpus is never scanned.  Falls back to
        one explode/groupBy vocabulary pass.  The needle is analyzed with
        the field's analyzer first (query terms meet stored tokens under
        the same analysis)."""
        if max_edits > 2:
            raise ValueError("max edit distance is 2 (Lucene FuzzyQuery limit)")
        fname, vocab = self._term_dictionary(field)
        toks = self.analyze_terms([term], fname)
        needle = toks[0] if toks else term.lower()
        n = len(needle)
        dist = F.levenshtein(F.col("term"), F.lit(needle))
        return (
            vocab.filter(F.col("term") != needle)
            .filter(F.length("term").between(n - max_edits, n + max_edits))
            .withColumn("dist", dist.cast("int"))
            .filter(F.col("dist") <= max_edits)
            .select(F.col("term").alias("suggestion"), "df", "dist")
            .orderBy(F.asc("dist"), F.desc("df"), F.asc("suggestion"))
            .limit(top)
        )

    def spellcheck_collate(
        self,
        words: "Sequence[str]",
        field: str | None = None,
        max_collations: int = 5,
        top: int = 3,
        max_edits: int = 2,
        max_tries: int = 10,
    ) -> DataFrame:
        """Solr ``spellcheck.collate`` (+ collateExtendedResults): whole-
        query corrections with verified hit counts.  Words found in the
        term dictionary stand; each misspelled word contributes its
        ``top`` correction candidates (the :meth:`spellcheck` ranking);
        candidate combinations (capped at ``max_tries`` — Solr's
        maxCollationTries cost knob) are counted in ONE pass as
        conditional aggregates over the Bloom-pruned scan, and
        collations with hits are returned ranked hits desc.

        Cost model: dictionary membership is a sidecar lookup (the
        memoized ``_dfs_for``), candidate generation reads the KB-scale
        vocabulary, and ALL collations share one scan whose per-doc work
        is ``array_contains`` per distinct term — never a query per
        collation.  Returns (collation, hits); empty when every word is
        already in the dictionary (Solr collates only misspelled
        input)."""
        import itertools

        if not words:
            raise ValueError("spellcheck_collate needs at least one word")
        analyzed: dict = self.manifest.get("analyzed", {})
        fname = field or (
            next(iter(analyzed)) if len(analyzed) == 1 else None
        )
        needles = []
        for w in words:
            toks = self.analyze_terms([w], fname)
            needles.append(toks[0] if toks else w.lower())
        stats = self._sidecar("stats")
        if stats and fname in stats:
            dfs = self._dfs_for(fname, sorted(set(needles)))
        else:
            # no vocab sidecar: one bounded dictionary probe (same
            # fallback the spellcheck ranking itself uses)
            _f, vocab = self._term_dictionary(fname)
            probe = sorted(set(needles))
            dfs = {
                r["term"]: r["df"]
                for r in vocab.filter(F.col("term").isin(probe)).collect()
            }
        candidates: list[list[str]] = []
        any_misspelled = False
        for nd in needles:
            if dfs.get(nd, 0) > 0:
                candidates.append([nd])
                continue
            any_misspelled = True
            sugg = [
                r["suggestion"]
                for r in self.spellcheck(
                    nd, field=fname, top=top, max_edits=max_edits
                ).collect()
            ]
            candidates.append(sugg)
        empty = local_frame(self.spark, [], "collation string, hits long")
        if not any_misspelled:
            return empty
        combos = list(itertools.islice(
            itertools.product(*candidates), max_tries
        ))
        if not combos:
            return empty
        tc = self._tokens_col(fname)
        all_terms = sorted({t for c in combos for t in c})
        # union-pruning is safe for per-collation ALL-terms counts: a
        # doc matching every term of some collation carries at least
        # one union term, so "any" never prunes a counted doc
        scan = self._bloom_pruned(all_terms, fname, "any")
        toks = F.col(tc)
        aggs = []
        for i, combo in enumerate(combos):
            cond = None
            for t in sorted(set(combo)):
                c = F.array_contains(toks, t)
                cond = c if cond is None else (cond & c)
            aggs.append(
                F.sum(cond.cast("long")).alias(f"_c{i}")
            )
        row = scan.agg(*aggs).collect()[0]
        out = [
            (" ".join(combo), int(row[f"_c{i}"] or 0))
            for i, combo in enumerate(combos)
        ]
        out = [x for x in out if x[1] > 0]
        out.sort(key=lambda x: (-x[1], x[0]))
        return local_frame(
            self.spark, out[:max_collations], "collation string, hits long"
        )

    def highlight(
        self,
        terms: "Sequence[str]",
        field: str | None = None,
        window: int = 6,
        mode: str = "all",
    ) -> DataFrame:
        """Matching docs with a snippet: ``window`` stored tokens around the
        first occurrence of the first matching term, the hit wrapped in
        ``<em>`` (the Solr highlighting shape).  Pure array expressions over
        the stored token column — codegen, shard-pruned like the underlying
        term query, no Python."""
        if not terms:
            raise ValueError("highlight needs at least one term")
        analyzed: dict = self.manifest.get("analyzed", {})
        fname = field or (next(iter(analyzed)) if len(analyzed) == 1 else None)
        tokens_col = self._tokens_col(fname)
        scan = self._bloom_pruned(list(terms), fname, mode)
        # snippets show REAL tokens only (rev-marker copies would garble
        # the window and distort positions)
        toks = self._real_toks(tokens_col)
        cond = None
        for t in terms:
            c = F.array_contains(toks, t)
            cond = c if cond is None else (cond & c if mode == "all" else cond | c)
        hits = scan.filter(cond)
        # first matching term's first position (array_position is 1-based)
        pos = F.least(
            *[
                F.nullif(F.array_position(toks, t), F.lit(0))
                for t in terms
            ]
        ) if len(terms) > 1 else F.nullif(F.array_position(toks, terms[0]), F.lit(0))
        start = F.greatest(pos - window // 2, F.lit(1))
        snippet_toks = F.slice(toks, start, window + 1)
        term_set = F.array(*[F.lit(t) for t in terms])
        marked = F.transform(
            snippet_toks,
            lambda x: F.when(
                F.array_contains(term_set, x), F.concat(F.lit("<em>"), x, F.lit("</em>"))
            ).otherwise(x),
        )
        return hits.select(
            F.col(self.unique_key),
            F.array_join(marked, " ").alias("snippet"),
        )

    def more_like_this(
        self,
        key: str,
        k: int = 10,
        field: str | None = None,
        max_terms: int = 10,
        min_df: int = 1,
        min_tf: int = 1,
        **kw,
    ) -> DataFrame:
        """Solr's MoreLikeThis: find documents similar to the one with
        unique key ``key``.  The source doc's most distinctive terms are
        selected by tf·idf — idf from the stored term dictionary when the
        artifact carries one (KB-scale lookup), tf-only otherwise — and fed
        to :meth:`bm25`; the source doc itself is excluded.

        The point-lookup fetch is shard-pruned (C2) and the interesting-term
        selection touches |doc| terms driver-side — MLT is a per-document
        operation, not a corpus scan."""
        terms, fname = self._mlt_terms(key, field, max_terms, min_df, min_tf)
        hits = self.bm25(terms, k=k + 1, field=fname, **kw)
        return hits.filter(F.col(self.unique_key) != key).limit(k)

    def _mlt_terms(
        self,
        key: str,
        field: str | None = None,
        max_terms: int = 10,
        min_df: int = 1,
        min_tf: int = 1,
    ) -> "tuple[list[str], str | None]":
        """MoreLikeThis interesting-term selection for the document with
        unique key ``key``: (terms, resolved field).  Shared by
        :meth:`more_like_this` and the alias's {!mlt} (which selects
        terms from the member HOLDING the doc, then matches across every
        member)."""
        import math

        analyzed: dict = self.manifest.get("analyzed", {})
        fname = field or (next(iter(analyzed)) if len(analyzed) == 1 else None)
        tokens_col = self._tokens_col(fname)
        rows = self.get(key).select(tokens_col).collect()
        if not rows or not rows[0][0]:
            raise KeyError(f"no document with {self.unique_key}={key!r} (or empty)")
        from solr_map_reduce_spark.extensions.search import REV_MARK

        toks = [t for t in rows[0][0] if not t.startswith(REV_MARK)]
        tf: dict[str, int] = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        if min_tf > 1:
            # Solr MLT mintf: terms below the in-document frequency
            # threshold never become interesting terms
            tf = {t: c for t, c in tf.items() if c >= min_tf}
        stats = self._sidecar("stats")
        if stats and fname in stats:
            n_docs = stats[fname]["n_docs"]
            dfs = self._dfs_for(fname, sorted(tf))
            scored = [
                (t, tf[t] * math.log(1 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5)))
                for t in tf
                if dfs[t] >= min_df
            ]
        else:
            scored = [(t, float(c)) for t, c in tf.items()]
        scored.sort(key=lambda x: (-x[1], x[0]))
        return [t for t, _ in scored[:max_terms]], fname

    def attach_collection(self, name: str, index: "SearchIndex") -> None:
        """Register another artifact's handle under ``name`` for
        {!join fromIndex=name} cross-collection joins (Solr's
        cross-core join; the inner query compiles under the attached
        collection's own analyzers and default field)."""
        self._collections[name] = index
        # belt-and-braces with _query_scan's no-memoize rule for
        # fromIndex plans: a re-attach under an existing name must never
        # serve a plan compiled against the previous collection
        self._plan_memo.clear()

    # -- ANN serving sidecar (sublinear {!knn}) -------------------------
    ANN_DIR = "_ann"
    ANN_META = "_ANN_META.json"

    def build_ann(
        self,
        field: str,
        kind: str = "ivf",
        n_centroids: int = 16,
        nprobe: "int | str" = 2,
        **fit_kw,
    ) -> str:
        """Build the ANN serving sidecar for a vector ``field`` — after
        this, ``{!knn f=<field> ...}`` serves topK from partition-pruned
        IVF probes (Solr 9's KnnQParser serves from an HNSW graph; the
        partitioned-storage analog of that sublinear contract is IVF
        bucket pruning) instead of a per-query corpus scan.

        ``kind``: ``ivf`` stores raw vectors partitioned by coarse
        bucket (exact distances within probed buckets); ``ivfpq``
        stores m-byte PQ codes instead (~32x smaller probes, ADC
        distances).  ``nprobe`` is the serving default, overridable
        per-query via the ``nprobe=`` local param — or ``"auto"`` to
        pick the smallest nprobe whose estimated recall@10 meets
        ``target_recall`` (default 0.9) on a bounded held-out sample,
        or ``"adaptive"`` to calibrate a PER-QUERY closure ratio
        instead: each query probes the buckets within ``tau ×`` its
        own nearest-centroid distance (SPANN's ε-ball rule), so easy
        queries probe 1–2 buckets and only boundary queries pay more
        (estimates recorded in the sidecar meta either way).

        Mutation contract (extensions/ann_sidecar.py): the sidecar is
        generation-pinned and DELTA-MAINTAINED — deletes tombstone the
        deleted keys (O(deleted)), upserts (merge_into / vector-field
        update_fields) tombstone the batch keys and append the
        post-resolution vectors at a fresh epoch (O(batch)), and
        non-vector update_fields just re-pins — so {!knn} stays on the
        sublinear routed path across every engine mutation.  The
        two-phase meta write makes any crashed maintenance read as
        stale (exact fallback): approximate serving is never
        stale-wrong."""
        from solr_map_reduce_spark.extensions import ann_sidecar

        self._check_generation()
        side = ann_sidecar.build(
            self.spark, self.path,
            self.df().select(self.unique_key, field),
            key=self.unique_key, field=field, kind=kind,
            n_centroids=n_centroids, nprobe=nprobe, **fit_kw,
        )
        self._cache.pop(("ann", field), None)
        # {!knn} plans served BEFORE this build were memoized as exact
        # corpus scans (build_ann does not bump the artifact
        # generation): drop them so the identical query text routes
        # through the sidecar the caller just built
        self._plan_memo.clear()
        return side

    def compact_ann(self, field: str) -> dict:
        """Fold the ANN sidecar's upsert delta + tombstones back into
        the base (extensions/ann_sidecar.compact): only affected bucket
        directories rewrite, runs under the artifact mutation lock, and
        the meta is staled during the fold so queries fall back to the
        exact scan rather than see a half-folded state.  The ANN analog
        of segment optimize — bounds serve-time liveness overhead under
        continuous mutation."""
        from solr_map_reduce_spark.extensions import ann_sidecar

        out = ann_sidecar.compact(self.spark, self.path, field)
        self._cache.pop(("ann", field), None)
        self._plan_memo.clear()  # routed plans pin pre-fold bucket files
        return out

    def _ann_sidecar(self, field: str):
        """(kind, loaded index, sidecar path, meta) when a
        generation-current ANN sidecar exists for ``field``, else None
        (missing, unreadable, an older layout ``ann_sidecar.load``
        refuses, or built against a mutated-away generation)."""
        from solr_map_reduce_spark.extensions import ann_sidecar
        from solr_map_reduce_spark.fs import get_fs

        self._check_generation()
        key = ("ann", field)
        if key in self._cache:
            return self._cache[key]
        side = ann_sidecar.side_path(self.path, field)
        meta = ann_sidecar.load_meta(get_fs(self.path, self.spark), side)
        if meta is not None and meta.get("built_generation") != self._generation:
            # stale sidecar: the artifact mutated since the build — don't
            # memoize the miss (a rebuild under the same handle must be
            # picked up), just decline to route
            return None
        loaded = None if meta is None else ann_sidecar.load(self.spark, side, meta)
        handle = None if loaded is None else (loaded[0], loaded[1], side, meta)
        self._cache[key] = handle
        return handle

    def _knn_via_ann(
        self,
        field: str,
        qvec: list,
        k: int,
        params: dict,
        filter_keys: DataFrame | None = None,
        metric: str = "cosine",
    ) -> DataFrame | None:
        """Serve {!knn} from the field's ANN sidecar: driver-side reads
        of the nprobe probed bucket dirs -> bounded (id, score) topK ->
        file-pruned key lookups for the full rows.  None when no
        current sidecar exists (caller falls back to the exact scan).
        Total IO: nprobe/n_centroids of the vector table (base ∪
        upsert delta, tombstone liveness applied pre-top-k — see
        extensions/ann_sidecar.py) + the O(k) segment files holding
        the hit keys — never the corpus.

        ``filter_keys`` is the routed {!knn preFilter=} candidate set
        (semi-joined onto probed rows before the top-k).  Underfilled
        pages WIDEN: when the probed (∩ filtered) pool returns fewer
        than k rows, nprobe doubles and the probe reruns until the page
        fills or every bucket has been read — at full probe the result
        is provably the exact filtered top-k, so the guaranteed-k
        fallback and the exactness fallback are the same loop end."""
        handle = self._ann_sidecar(field)
        if handle is None:
            return None
        kind, idx, side, meta = handle
        if metric == "dot" and not meta.get("unit_norms"):
            # non-unit corpus: dot routes via MIPS probe ranking
            # (norm-augmented centroids, ivf-kind only — raw stored
            # vectors score true dot over probed candidates; full
            # probe stays provably exact).  ivfpq can't serve non-unit
            # dot (codes are unit-encoded, norms lost) and legacy ivf
            # sidecars without the dot_route stats fall back to the
            # exact scan — never stale-wrong.
            if not (kind == "ivf" and meta.get("dot_route")):
                return None
        hits = self._ann_probe_hits(
            handle, qvec, k, params, filter_keys, metric
        )
        if not hits:
            return self.df().limit(0)
        ids = [r[self.unique_key] for r in hits]
        rows = self.get_many(ids)
        # search_stored already ordered desc(score), asc(key): replay
        # that order over the fetched rows via a k-entry literal rank map
        rank = F.create_map(
            *[
                lit
                for i, r in enumerate(hits)
                for lit in (F.lit(r[self.unique_key]), F.lit(i))
            ]
        )
        return (
            rows.withColumn("_knn_rank", rank[F.col(self.unique_key)])
            # limit(len(ids)) is a semantic no-op under the serving
            # contract (unique_key is unique in a served artifact — the
            # same invariant the key-range bisect and the ANN sidecar's
            # key->vector map already rely on, so get_many returns at
            # most one row per id) but turns the global Sort into a
            # TakeOrderedAndProject: a bare orderBy plans a range
            # Exchange whose boundary-sampling pass EXECUTES the pruned
            # lookup scan twice (r13 plan audit: 2 jobs -> 1)
            .orderBy(F.asc("_knn_rank"))
            .limit(len(ids))
            .drop("_knn_rank")
        )

    def _ann_probe_hits(
        self, handle, qvec: list, k: int, params: dict,
        filter_keys: DataFrame | None, metric: str,
    ) -> list:
        """The sidecar probe + widening loop shared by the {!knn}
        qparser and the DSL :meth:`knn`: (key, score) Rows, best first,
        <= k of them — re-probing with doubled nprobe while the probed
        (∩ filtered) pool underfills, so a page is never short while k
        matches exist (full probe == provably exact)."""
        from solr_map_reduce_spark.extensions import ann_sidecar

        kind, idx, side, meta = handle
        n_centroids = len((idx if kind == "ivf" else idx.ivf).centroids)
        # per-query ADAPTIVE nprobe (SPANN ε-ball closure): on when the
        # query asks for nprobe=adaptive explicitly, or when the
        # sidecar was calibrated with build_ann(nprobe="adaptive") and
        # the query passes no explicit nprobe.  Non-unit dot uses its
        # OWN τ (meta adaptive_dot), calibrated on the MIPS-augmented
        # angular profile its probe ranking ranks by — the L2 τ would
        # count the wrong ball; a sidecar calibrated before that field
        # existed keeps the integer fallback (never silently wrong).
        raw_np = params.get("nprobe")
        explicit_adaptive = (
            isinstance(raw_np, str) and raw_np.strip().lower() == "adaptive"
        )
        mips_dot = metric == "dot" and not meta.get("unit_norms")
        adaptive_key = "adaptive_dot" if mips_dot else "adaptive"
        if explicit_adaptive and not meta.get(adaptive_key):
            from solr_map_reduce_spark.extensions import search

            raise search.QuerySyntaxError(
                "nprobe=adaptive needs a sidecar calibrated with "
                "build_ann(nprobe='adaptive')"
                + (" (this sidecar predates MIPS-dot calibration — "
                   "rebuild it)" if mips_dot and meta.get("adaptive")
                   else "")
            )
        if (
            (explicit_adaptive or (raw_np is None and meta.get("adaptive")))
            and meta.get(adaptive_key)
        ):
            nprobe = (
                ann_sidecar.adaptive_nprobe_dot if mips_dot
                else ann_sidecar.adaptive_nprobe
            )(meta, idx, qvec)
        else:
            # clamp to [1, n_centroids]: nprobe=0 would probe nothing
            # AND never grow under doubling (an infinite loop on a
            # malformed query param)
            nprobe = max(
                1,
                min(
                    _int_local_param(
                        params, "nprobe", int(meta.get("nprobe", 2))
                    ) if not explicit_adaptive else int(meta.get("nprobe", 2)),
                    n_centroids,
                ),
            )
        if filter_keys is not None:
            # the widening loop re-executes the probe plan per round:
            # persist the filter's key-set scan so a selective filter
            # over a large corpus is paid ONCE, not once per widening
            filter_keys = filter_keys.persist()
        try:
            while True:
                top = ann_sidecar.probe_topk(
                    self.spark, side, meta, idx, qvec, k=k, nprobe=nprobe,
                    filter_keys=filter_keys, metric=metric,
                )
                hits = top.collect()  # bounded: <= topK rows, probed buckets
                if len(hits) >= k or nprobe >= n_centroids:
                    return hits
                # short page (deletes tombstoned the probed buckets, or
                # the preFilter thinned them): widen — Solr's HNSW never
                # short-pages while matches exist, and neither do we
                nprobe = min(nprobe * 2, n_centroids)
        finally:
            if filter_keys is not None:
                filter_keys.unpersist(blocking=False)

    # -- similarity search over an embedding column --------------------
    def knn(
        self,
        query: "Sequence[float]",
        k: int = 10,
        vec_col: str = "embedding",
        filters: dict | None = None,
        exact: bool = False,
    ) -> DataFrame:
        """Cosine top-k over the artifact's embedding column, with
        optional metadata pre-filters applied BEFORE the top-k
        (filtered ANN).  Serves from the generation-current ANN sidecar
        when one exists on ``vec_col`` (the same probe + widening loop
        as the {!knn} qparser; equality filters become a column-pruned
        key-set semi-join on the probed rows); ``exact=True`` opts out
        — the {!knn} ``exact=true`` equivalent — forcing the exact
        single-narrow-pass + TakeOrdered scan.  Identical (id, score)
        output shape either way."""
        from solr_map_reduce_spark.extensions.similarity import cosine_topk

        qvec = [float(x) for x in query]
        if not all(math.isfinite(x) for x in qvec):
            raise ValueError("knn query vector has non-finite components")
        if all(x == 0.0 for x in qvec):
            # Lucene raises on a zero-magnitude cosine query; serving
            # it would NULL every score — a silently empty page
            raise ValueError(
                "cosine knn is undefined for a zero-magnitude query "
                "vector"
            )
        handle = None if exact else self._ann_sidecar(vec_col)
        if handle is not None:
            filter_keys = None
            if filters:
                fdf = self.df()
                for col_name, value in filters.items():
                    fdf = fdf.filter(F.col(col_name) == value)
                filter_keys = fdf.select(self.unique_key)
            hits = self._ann_probe_hits(
                handle, qvec, k, {}, filter_keys, "cosine"
            )
            key_field = self._read_schema()[self.unique_key]
            from pyspark.sql.types import DoubleType, StructField, StructType

            return local_frame(
                self.spark,
                [(r[self.unique_key], float(r["score"])) for r in hits],
                StructType([key_field, StructField("score", DoubleType())]),
            )
        df = self.df()
        if filters:
            for col_name, value in filters.items():
                df = df.filter(F.col(col_name) == value)
        return cosine_topk(df, query, k=k, id_col=self.unique_key, vec_col=vec_col)

    # -- C3: delete-by-query as filtered rewrite -----------------------
    def delete_where(self, condition: F.Column, out_path: str) -> "SearchIndex":
        """A copy of the artifact at ``out_path`` without rows matching
        ``condition`` (the reference's build-time semantics: deletes are
        rebuild/merge-time rewrites, SURVEY §2 C3/§7 hard-part 5): the
        lock-consistent copy ``backup`` makes, then the in-place
        ``IndexJob.delete_where`` on it — so the result keeps the layout,
        the untouched shards' files and every serving sidecar, maintained
        exactly as an in-place delete maintains them.

        SQL DELETE NULL semantics (same as ``IndexJob.delete_where``): a row
        where the predicate is NULL does NOT match and is kept."""
        from solr_map_reduce_spark.indexing import _copy_artifact, _job_for

        manifest, _meta = _copy_artifact(
            self.path, out_path, self.spark, "delete_where"
        )
        _job_for(manifest).delete_where(self.spark, out_path, condition)
        return SearchIndex.open(self.spark, out_path)

    # -- C7 ------------------------------------------------------------
    def segment_counts(self) -> dict[str, int]:
        from solr_map_reduce_spark.indexing import segment_counts

        return segment_counts(self.path)

    def luke(self, top_terms: int = 0) -> dict:
        """Solr Luke handler analog (``/admin/luke``): index + per-field
        introspection.  Returns ``{"num_docs", "shards", "unique_key",
        "fields": {name: {"type", "docs" (non-null count),
        "distinct" (HLL++ estimate), "multi_valued"}}, "top_terms"}``.

        Cost model: num_docs is the O(1) sidecar count; the per-field
        report is ONE map-side-combined aggregate pass (count +
        approx_count_distinct per column — sketches, constant memory);
        ``top_terms > 0`` adds the analyzed fields' highest-df terms
        from the ``_vocab`` dictionary sidecar when present (KB-scale,
        no corpus scan) and is skipped silently otherwise."""
        from pyspark.sql.types import ArrayType

        df = self.df()
        internal = {SHARD_COL, self.ROOT_COL}
        analyzed: dict = self.manifest.get("analyzed", {})
        tok_cols = {v["tokens_col"] for v in analyzed.values()}
        names = [
            c for c in df.columns
            if c not in internal and c not in tok_cols
        ]
        aggs = []
        for c in names:
            aggs.append(F.count(F.col(c)).alias(f"__c_{c}"))
            aggs.append(F.approx_count_distinct(F.col(c)).alias(f"__d_{c}"))
        row = df.agg(*aggs).collect()[0]
        by_name = {f.name: f.dataType for f in df.schema.fields}
        fields = {
            c: {
                "type": by_name[c].simpleString(),
                "docs": row[f"__c_{c}"],
                "distinct": row[f"__d_{c}"],
                "multi_valued": isinstance(by_name[c], ArrayType),
            }
            for c in names
        }
        out = {
            "num_docs": self.count(),
            "shards": self.shards,
            "unique_key": self.unique_key,
            "fields": fields,
        }
        if top_terms > 0:
            tops: dict = {}
            for fname in analyzed:
                try:
                    tops[fname] = [
                        (r["term"], r["df"])
                        for r in self.terms(
                            field=fname, limit=top_terms
                        ).collect()
                    ]
                except Exception:
                    continue  # no dictionary sidecar for this field
            out["top_terms"] = tops
        return out


def _parse_collapse_local_params(params: "Mapping[str, str]") -> dict:
    """{!collapse} local params -> :meth:`SearchIndex._collapse_frame`
    kwargs — shared by the single-artifact parser and the alias facade
    (whose collapse must run over the member UNION)."""
    from solr_map_reduce_spark.extensions import search

    f = params.get("field")
    if not f:
        raise search.QuerySyntaxError("{!collapse} needs the field= param")
    sort_p = params.get("sort")
    sort_spec = None
    if sort_p:
        sort_spec = []
        for part in sort_p.split(","):
            toks = part.split()
            if not 1 <= len(toks) <= 2:
                raise search.QuerySyntaxError(
                    f"{{!collapse}} sort clause {part!r} is not "
                    "'field [asc|desc]'"
                )
            sort_spec.append((toks[0], toks[1] if len(toks) == 2 else "asc"))
    return {
        "field": f,
        "max": params.get("max"),
        "min": params.get("min"),
        "sort": sort_spec,
        "null_policy": params.get("nullPolicy", "ignore"),
    }


class _FnQueryContext:
    """Adapter the function-query grammar's relevance functions resolve
    through (``parse_function_query(context=)``): per-row term counts
    over the analyze-once token columns; docfreq/idf as PLAN-TIME
    literals from the ``_vocab`` dictionary sidecar (a KB-scale,
    LRU-memoized driver lookup — the Lucene term-dictionary cost model,
    never a corpus aggregation inside the expression)."""

    def __init__(self, idx: "SearchIndex"):
        self._idx = idx

    def relevance_col(self, fn: str, field: str, term: str) -> F.Column:
        from solr_map_reduce_spark.extensions import search

        idx = self._idx
        if fn == "termfreq":
            # occurrences of the indexed-form term in this doc's field —
            # a filtered size over the stored token array (one codegen
            # expression; null token arrays count 0)
            try:
                tok = idx._tokens_col(field)
            except ValueError as exc:
                raise search.QuerySyntaxError(
                    f"termfreq({field!r}, ...): {exc}"
                ) from None
            cnt = F.size(F.filter(F.col(tok), lambda x: x == F.lit(term)))
            return F.coalesce(cnt.cast("double"), F.lit(0.0))
        stats = idx._sidecar("stats")
        if not stats or field not in stats:
            raise search.QuerySyntaxError(
                f"{fn}({field!r}, ...) needs the search-stats sidecar "
                "(build with search_stats=True)"
            )
        df_ = float(idx._dfs_for(field, [term]).get(term, 0))
        if fn == "docfreq":
            return F.lit(df_)
        import math

        # Lucene BM25 idf (the default similarity) — same formula as
        # the bm25() scoring path
        n_docs = float(stats[field]["n_docs"])
        return F.lit(math.log(1.0 + (n_docs - df_ + 0.5) / (df_ + 0.5)))


class MultiIndex:
    """Solr COLLECTION-ALIAS analog: one read facade over several
    artifacts — the time-partitioned-collections pattern (daily/monthly
    artifacts behind one query alias, Solr's time-routed aliases).

    Every member keeps its OWN serving structures, and the facade
    composes them instead of flattening: ``count()`` sums the members'
    O(1) sidecar counts, ``get`` unions the members' shard/segment-pruned
    point lookups, and ``query`` unions each member's Bloom-pruned scan —
    a term missing from an entire day's artifact skips that artifact's
    data files completely.  At 100 TB split across N time slices that is
    the alias's whole point: queries touch the slices that can match.

    Members must share the unique-key name (the alias contract); schemas
    may differ by ADDED columns (unionByName with missing-column nulls —
    Solr's schema-evolution-across-collections reality)."""

    def __init__(self, members: "Sequence[SearchIndex]"):
        if not members:
            raise ValueError("MultiIndex needs at least one member artifact")
        keys = {m.unique_key for m in members}
        if len(keys) > 1:
            raise ValueError(
                f"alias members disagree on the unique key: {sorted(keys)}"
            )
        self.members = list(members)
        self.unique_key = members[0].unique_key
        self.spark = members[0].spark
        # {!join fromIndex=name} targets for the alias (attach_collection)
        self._collections: dict = {}

    @classmethod
    def open(cls, spark: SparkSession, paths: "Sequence[str]") -> "MultiIndex":
        return cls([SearchIndex.open(spark, p) for p in paths])

    def attach_collection(self, name: str, index) -> None:
        """Register a {!join fromIndex=name} target for the alias (the
        same contract as :meth:`SearchIndex.attach_collection`; the
        target may itself be a SearchIndex or another alias)."""
        self._collections[name] = index

    def _union(self, frames: "Sequence[DataFrame]") -> DataFrame:
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    def df(self) -> DataFrame:
        return self._union([m.df() for m in self.members])

    def count(self) -> int:
        """Sum of the members' counts — O(1) per member with sidecars."""
        return sum(m.count() for m in self.members)

    def get(self, key: str) -> DataFrame:
        """Point lookup across the alias: each member's shard/segment
        pruning applies before the union."""
        return self._union([m.get(key) for m in self.members])

    def query(
        self, q: str, field: str | None = None,
        synonyms: "Mapping[str, Sequence[str]] | None" = None,
        op: str = "OR",
    ) -> DataFrame:
        """Boolean query across the alias: each member compiles and
        Bloom-prunes INDEPENDENTLY (per-member dictionaries/bitmaps), so
        an artifact whose Blooms reject the query contributes a
        zero-file scan.  Relational local-params queries ({!join},
        {!parent}, {!child}) match across the WHOLE alias (see
        :meth:`_relational_scan`)."""
        return self._alias_scan(q, field, synonyms, op).select(self.unique_key)

    def _alias_scan(
        self, q: str, field: str | None, synonyms, op: str = "OR",
    ) -> DataFrame:
        """Full-row result of ``q`` across the alias.  Non-relational
        queries stay per-member (each member's Bloom pruning applies,
        then union); relational local-params types route to
        :meth:`_relational_scan` so cross-member keys are honored."""
        from solr_map_reduce_spark.extensions import search

        lp = search.parse_local_params(q)
        if lp is not None and lp[0] in ("join", "parent", "child"):
            return self._relational_scan(
                *lp, field=field, synonyms=synonyms, op=op
            )
        if lp is not None and lp[0] == "knn":
            # {!knn} is globally RANKED: per-member topK unioned would
            # return up to members x topK rows.  The distributed top-k
            # merge: each member serves its LOCAL topK (exact or
            # ANN-routed, preFilter applied inside the member), and the
            # global topK provably lives inside that bounded union —
            # re-rank the <= members x k rows and cut to k ("results
            # identical to the unpartitioned collection").
            from solr_map_reduce_spark.extensions import similarity as sim

            qtype_, params, inner = lp
            fld = params.get("f")
            if not fld:
                raise search.QuerySyntaxError("{!knn} needs the f= param")
            body = inner.strip()
            try:
                qvec = [
                    float(x) for x in body.strip("[]").split(",") if x.strip()
                ]
            except ValueError:
                raise search.QuerySyntaxError(
                    f"{{!knn}} vector literal {body!r} has non-numeric "
                    "components"
                ) from None
            if not all(math.isfinite(x) for x in qvec):
                raise search.QuerySyntaxError(
                    "{!knn} vector has non-finite components"
                )
            topk = _int_local_param(params, "topK", 10)
            metric = params.get("similarity", "cosine")
            pool = self._union(
                [m._query_scan(q, field, synonyms, op)
                 for m in self.members]
            )
            if metric in ("dot", "dot_product"):
                scored = sim.attach_dot_score(
                    pool, qvec, score_col="_knn_score", vec_col=fld,
                    nonfinite="null",
                )
            else:
                if all(x == 0.0 for x in qvec):
                    raise search.QuerySyntaxError(
                        "{!knn} cosine is undefined for a "
                        "zero-magnitude query vector"
                    )
                # NULL-score shape + post-limit filter — see the
                # single-index {!knn} exact path
                scored = sim.attach_cosine_score(
                    pool, qvec, score_col="_knn_score", vec_col=fld,
                    nonfinite="null",
                )
            return (
                scored
                .orderBy(F.desc("_knn_score"), F.asc(self.unique_key))
                .limit(topk)
                .filter(F.col("_knn_score").isNotNull())
                .drop("_knn_score")
            )
        if lp is not None and lp[0] == "mlt":
            # {!mlt} over the alias: term selection happens on the
            # member HOLDING the source doc, matching spans EVERY
            # member (per-member BM25 statistics, exactly Solr's
            # default non-distributed-idf behavior), and the bounded
            # members×k pool re-ranks globally — the same distributed
            # merge shape as {!knn}.  The old per-member union fallback
            # raised KeyError from every member NOT holding the doc.
            qtype_, params, inner = lp
            key = inner.strip()
            if not key:
                raise search.QuerySyntaxError("{!mlt} needs a document id")
            k, mlt_kw = _parse_mlt_local_params(params)
            holder = None
            for m in self.members:
                if m.get(key).limit(1).count():
                    holder = m
                    break
            if holder is None:
                raise search.QuerySyntaxError(
                    f"{{!mlt}}: no alias member holds document "
                    f"{self.unique_key}={key!r}"
                )
            terms, fname = holder._mlt_terms(
                key,
                mlt_kw.get("field"),
                mlt_kw.get("max_terms", 10),
                mlt_kw.get("min_df", 1),
                mlt_kw.get("min_tf", 1),
            )
            pool = self._union(
                [m.bm25(terms, k=k + 1, field=fname) for m in self.members]
            )
            top = (
                pool.filter(F.col(self.unique_key) != key)
                .orderBy(F.desc("score"), F.asc(self.unique_key))
                .limit(k)
            )
            return self.df().join(
                F.broadcast(top.select(self.unique_key)),
                on=self.unique_key, how="left_semi",
            )
        if lp is not None and lp[0] == "graph":
            # Solr's GraphQParser is SINGLE-shard/-core only (its
            # traversal cannot follow edges across shards); a per-member
            # union here would silently drop every cross-member hop, so
            # the alias refuses loudly — the reference-faithful contract
            raise search.QuerySyntaxError(
                "{!graph} is not supported across a collection alias "
                "(Solr's graph query parser is single-shard only): open "
                "the member artifact holding the graph, or materialize "
                "the union into one artifact"
            )
        if lp is not None and lp[0] == "collapse":
            # {!collapse} is RELATIONAL across the alias: per-member
            # collapse unioned would emit one head per member for a
            # group spanning time slices — collapse the UNION instead
            # (each member's inner-query Bloom pruning still applies)
            qtype_, params, inner = lp
            ckw = _parse_collapse_local_params(params)
            inner = inner.strip()
            base = (
                self._union(
                    [m._query_scan(inner, field, synonyms, op)
                     for m in self.members]
                )
                if inner else self.df()
            )
            try:
                return self.members[0]._collapse_frame(
                    base, filters=None, select=None, **ckw
                )
            except ValueError as exc:
                raise search.QuerySyntaxError(
                    f"{{!collapse}}: {exc}"
                ) from None
        return self._union(
            [m._query_scan(q, field, synonyms, op) for m in self.members]
        )

    def _relational_scan(
        self, qtype: str, params: "Mapping[str, str]", inner: str,
        field: str | None, synonyms, op: str = "OR",
    ) -> DataFrame:
        """{!join}/{!parent}/{!child} over the ALIAS.  Compiling these
        per member and unioning would silently drop cross-member matches
        (a join key produced in one time slice must select docs in EVERY
        slice) — so the inner query still compiles and Bloom-prunes per
        member, but the key/root semi-join runs across the union: the
        'results identical to the unpartitioned collection' contract."""
        from solr_map_reduce_spark.extensions import search

        inner = inner.strip()
        if qtype == "join":
            try:
                f_from, f_to = params["from"], params["to"]
            except KeyError:
                raise search.QuerySyntaxError(
                    "{!join} needs from= and to= local params"
                ) from None
            if not inner:
                raise search.QuerySyntaxError("{!join} needs an inner query")
            from_index = params.get("fromIndex")
            if from_index:
                # cross-collection join from the ALIAS: the inner query
                # runs against the ATTACHED collection (silently
                # self-joining the alias would return wrong rows)
                src = self._collections.get(from_index)
                if src is None:
                    raise search.QuerySyntaxError(
                        f"{{!join}} fromIndex {from_index!r} is not an "
                        "attached collection on this alias "
                        f"({sorted(self._collections)}) — register it "
                        "with attach_collection()"
                    )
                src_scan = (
                    src._alias_scan(inner, None, None)
                    if isinstance(src, MultiIndex)
                    else src._query_scan(inner)
                )
            else:
                src_scan = self._alias_scan(inner, field, synonyms, op)
            keys = (
                src_scan
                .filter(F.col(f_from).isNotNull())
                .select(F.col(f_from).alias(f_to))
                .distinct()
            )
            return self.df().join(keys, on=f_to, how="left_semi")
        root = params.get("root", SearchIndex.ROOT_COL)
        anchor = "which" if qtype == "parent" else "of"
        pf = params.get(anchor)
        if not pf:
            raise search.QuerySyntaxError(
                f"{{!{qtype}}} needs the {anchor}= parent-filter param"
            )
        # per-member compiled predicates (members may analyze differently)
        parts = [
            (m, m.df(), m._compile_predicate(pf, field, synonyms, op)[0])
            for m in self.members
        ]
        if qtype == "parent":
            matched = []
            for m, base, ppred in parts:
                mdf = base.filter(~ppred)
                if inner:
                    mdf = mdf.filter(
                        m._compile_predicate(inner, field, synonyms, op)[0]
                    )
                matched.append(
                    mdf.filter(F.col(root).isNotNull())
                    .select(F.col(root).alias(self.unique_key))
                )
            roots = self._union(matched).distinct()
            parents = self._union([b.filter(p) for _m, b, p in parts])
            return parents.join(roots, on=self.unique_key, how="left_semi")
        matched = []
        for m, base, ppred in parts:
            mdf = base.filter(ppred)
            if inner:
                mdf = mdf.filter(
                    m._compile_predicate(inner, field, synonyms, op)[0]
                )
            matched.append(mdf.select(F.col(self.unique_key).alias(root)))
        roots = self._union(matched).distinct()
        children = self._union([b.filter(~p) for _m, b, p in parts])
        return children.join(roots, on=root, how="left_semi")

    def search(
        self,
        filters: "Mapping[str, object] | None" = None,
        where: F.Column | None = None,
        select: "Sequence[str] | None" = None,
        sort: "Sequence[tuple[str, str]] | None" = None,
        limit: int | None = None,
        q: str | None = None,
        field: str | None = None,
        start: int = 0,
        synonyms: "Mapping[str, Sequence[str]] | None" = None,
        op: str = "OR",
    ) -> DataFrame:
        """The full request shape over the alias: per-member pruned scans
        union FIRST, then global sort/paging (one TakeOrdered over the
        union — exactly how a distributed Solr alias merges per-shard
        top-k)."""
        if start and not sort:
            raise ValueError("start= needs sort= (deterministic paging)")
        out = (
            self._alias_scan(q, field, synonyms, op)
            if q is not None
            else self.df()
        )
        for col, val in (filters or {}).items():
            out = out.filter(F.col(col) == val)
        if where is not None:
            out = out.filter(where)
        if sort:
            # function-query sort keys compile exactly like the
            # single-artifact search (sort=[('div(a,b)','desc')])
            from solr_map_reduce_spark.extensions.search import (
                parse_function_query,
            )

            def key_col(c: str) -> F.Column:
                if "(" in c:
                    return parse_function_query(
                        c, context=self.members[0]._fn_ctx()
                    )
                return F.col(c)

            out = out.orderBy(
                *[
                    key_col(c).desc() if d.lower().startswith("desc")
                    else key_col(c).asc()
                    for c, d in sort
                ],
                F.asc(self.unique_key),
            )
        if start:
            out = out.offset(start)
        if limit is not None:
            out = out.limit(limit)
        if select:
            out = out.select(*select)
        return out

    def facet(
        self, field: str, top: int | None = None,
        q: str | None = None, query_field: str | None = None,
        missing: bool = False, sort: str = "count",
    ) -> DataFrame:
        """Value counts across the alias — per-member pruned scans, one
        global map-side-combined aggregate over the union.  Same Solr
        contract as the single-artifact facet (results identical to the
        unpartitioned collection): the NULL bucket is excluded unless
        ``missing=True``; ``sort="index"`` orders by value."""
        if sort not in ("count", "index"):
            raise ValueError(f"facet sort must be count|index, got {sort!r}")
        scans = [
            m._query_scan(q, query_field) if q is not None else m.df()
            for m in self.members
        ]
        unioned = self._union([s.select(field) for s in scans])
        # multivalued fields facet per VALUE exactly like the
        # single-artifact path (a doc with ['a','b'] counts in both
        # buckets) — grouping by the raw array column would bucket by
        # whole-array identity, diverging from the unpartitioned result
        unioned = self.members[0]._explode_if_multivalued(unioned, field)
        if not missing:
            unioned = unioned.filter(F.col(field).isNotNull())
        order = (
            [F.asc(field)] if sort == "index"
            else [F.desc("cnt"), F.asc(field)]
        )
        out = (
            unioned
            .groupBy(field)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(*order)
        )
        return out.limit(top) if top is not None else out

    def json_facet(
        self,
        spec: "Mapping[str, object]",
        q: str | None = None,
        query_field: str | None = None,
        filters: "Mapping[str, object] | None" = None,
    ) -> DataFrame:
        """JSON Facet API over the ALIAS: the domain is the member
        UNION (each member's own Bloom-pruned q scan) and the block-
        join universe spans every member, so results match the
        unpartitioned collection — the same cross-member contract as
        the alias's {!join}/{!parent}/{!collapse} handling.  Spec
        surface identical to :meth:`SearchIndex.json_facet`."""
        scan = (
            self._union(
                [m._query_scan(q, query_field) for m in self.members]
            )
            if q is not None else self.df()
        )
        return self.members[0]._jf_over(
            scan, spec, query_field, filters, self.df()
        )


class Topic:
    """Solr TopicStream analog: CHECKPOINTED incremental pull of
    (query-matching) documents from a versioned artifact — subscribe-like
    consumption without rescanning: each ``pull()`` returns only docs
    whose ``_version_`` exceeds the checkpoint, and ``commit()`` advances
    it after the caller has processed the batch (at-least-once delivery,
    Solr's topic contract).

    Requires the artifact be built with ``doc_versions=True``
    (``_version_`` = the generation that wrote each doc; merges stamp
    only their batch, atomic updates bump matched docs, compaction
    preserves values — so a rewrite never re-delivers untouched docs).

    Scale: the version filter is a plain pushed parquet predicate over
    the (Bloom-pruned, when ``q`` is given) scan — a pull after a small
    merge reads row groups whose ``_version_`` max admits the watermark,
    not the corpus.  The checkpoint is one tiny JSON the consumer owns.
    """

    def __init__(
        self, spark: SparkSession, path: str, checkpoint: str,
        q: str | None = None, field: str | None = None,
    ):
        from solr_map_reduce_spark.indexing import VERSION_COL

        self.spark, self.path, self.checkpoint = spark, path, checkpoint
        self.q, self.field = q, field
        self._vcol = VERSION_COL

    def _last(self) -> int:
        from solr_map_reduce_spark.fs import get_fs

        fs = get_fs(self.checkpoint, self.spark)
        if fs.exists(self.checkpoint):
            return int(json.loads(fs.read_text(self.checkpoint))["version"])
        return 0

    def pull(self) -> tuple[DataFrame, int]:
        """``(batch, watermark)``: docs newer than the checkpoint, and
        the version watermark to :meth:`commit` once they're processed.
        An empty batch returns the current watermark unchanged-safe:
        committing it is a no-op advance."""
        idx = SearchIndex.open(self.spark, self.path)
        scan = (
            idx._query_scan(self.q, self.field)
            if self.q is not None
            else idx.df()
        )
        if self._vcol not in scan.columns:
            raise ValueError(
                f"artifact {self.path!r} has no {self._vcol} column — "
                "build it with IndexJobConfig(doc_versions=True)"
            )
        last = self._last()
        high = int(idx.manifest.get("generation", 0))
        return scan.filter(F.col(self._vcol) > last), high

    def commit(self, watermark: int) -> None:
        """Advance the checkpoint (call AFTER processing the batch —
        crashing before commit re-delivers, never loses)."""
        from solr_map_reduce_spark.fs import get_fs

        fs = get_fs(self.checkpoint, self.spark)
        fs.write_text(self.checkpoint, json.dumps({"version": int(watermark)}))
