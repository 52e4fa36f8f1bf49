"""The end-to-end index build pipeline (SURVEY §2 A5-A21, §3.1, §7 M1).

Reference shape (MapReduceIndexerTool.java:116-149): randomize → extract →
route/shuffle on unique key → dedup-resolve → per-reducer sorted Lucene index
→ iterative tree-merge down to S shards → publish.

Spark-first re-expression: the artifact is a **sharded, key-sorted, typed
columnar table** partitioned by routing shard:

    out/shard=00000/part-*.parquet   (rows sorted by unique key)
    ...
    out/shard=0000S/
    out/_INDEX_MANIFEST.json

- Routing is a column (A8 parity UDF), so the write is
  ``repartition(shard).sortWithinPartitions(key)`` + ``partitionBy(shard)`` —
  ONE shuffle for route+dedup+sort, and partition pruning serves point
  lookups.
- The mtree merge phase (A19/A20) is unnecessary as a *phase*: Spark writes S
  shard directories directly regardless of upstream parallelism.  Its
  surviving concern — segment count per shard (C7, ``--max-segments``) — maps
  to file count per shard directory, controlled here via ``max_segments`` /
  ``maxRecordsPerFile`` and the ``compact`` op (small-files compaction).
- Go-live (A22) is a pluggable ``publish`` hook.

Scale notes: dedup and sort share the shuffle on the routing key; with
``micro_shards > shards`` parallelism exceeds shard count exactly like the
reference's reducer oversubscription (A8's micro-shard math), then AQE
coalescing keeps the writer from producing a small-files mess.
"""

from __future__ import annotations

import json
import uuid
from dataclasses import dataclass
from typing import Callable, NamedTuple

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from solr_map_reduce_spark import key_ranges, search_stats, term_blooms
from solr_map_reduce_spark.extensions import ann_sidecar
from solr_map_reduce_spark.fs import get_fs
from solr_map_reduce_spark.fs import join as fs_join
from solr_map_reduce_spark.operators import dedup as dedup_ops
from solr_map_reduce_spark.operators.keys import generate_sequence_key, require_unique_key
from solr_map_reduce_spark.operators.routing import with_shard_id
from solr_map_reduce_spark.schema import Field, IndexSchema

SHARD_COL = "shard"
MICRO_COL = "_micro_shard"
VERSION_COL = "_version_"  # Solr's per-doc version (the writing generation)
MANIFEST = "_INDEX_MANIFEST.json"
TOKENS_SUFFIX = "__tokens"
# Solr fieldTypes whose values are analyzed at index time (schema.xml
# text_en/text_general/lowercase; TokenizeTextBuilder.java:83-107) — the
# artifact stores the token array alongside the raw value so queries read
# stored structures instead of re-analyzing the corpus per query.
ANALYZED_TYPES = (
    "text_en", "text_general", "lowercase", "text_fr", "text_de",
    "text_es", "text_it", "text_pt", "text_sv", "text_no", "text_da",
    "text_nl", "text_fi", "text_ru", "text_ro", "text_hu", "text_tr",
    # round 8: the remainder of the reference's declared text_* types
    "text_ar", "text_bg", "text_ca", "text_cz", "text_el", "text_greek",
    "text_eu", "text_fa", "text_ga", "text_gl", "text_hi", "text_hy",
    "text_id", "text_lv", "text_th", "text_ws", "text_char_norm",
    "text_cjk", "text_en_splitting", "text_en_splitting_tight",
    "text_general_rev",
)




@dataclass
class IndexJobConfig:
    """The ``Options`` analog (MapReduceIndexerTool.java:539-561), reduced to
    what the Spark engine needs."""

    schema: IndexSchema
    shards: int = 1
    micro_shards: int | None = None  # reducers analog; must be multiple of shards
    dedup: str = "retain_most_recent"  # A10-A14 strategy
    order_field: str = dedup_ops.DEFAULT_ORDER_FIELD
    tiebreak: tuple[str, ...] = ()
    # C7 segment contract TARGET, enforced by the separate compact()/
    # merge_driver() pass (the reference's forceMerge/mtree step) — build()
    # itself writes micro_shards/shards files per shard (its write
    # parallelism); run compact(path, max_segments) to reach the target
    max_segments: int = 1
    max_records_per_file: int | None = None
    sanitize_rename_prefix: str | None = None
    # "solr": bit-exact SolrCloud CompositeIdRouter placement (A8/C8 parity;
    #   vectorized murmur3 UDF).  "native": Spark's builtin murmur3 (seed 42)
    #   — same distribution properties, fully JVM-side (~25% cheaper routing
    #   projection), for artifacts that never co-exist with a live SolrCloud.
    routing: str = "solr"
    # Analyze-at-index-time (the reference's contract: text_en fields are
    # analyzed when the index is BUILT, schema.xml:119 +
    # TokenizeTextBuilder.java:83-107; queries then hit stored structures).
    # For every schema field of an ANALYZED_TYPES fieldType, the artifact
    # stores `<field>__tokens` (array<string>) next to the raw value, and
    # SearchIndex term/BM25 queries read it instead of re-tokenizing.
    store_tokens: bool = True
    # Per-shard term Bloom bitmaps (_TERM_BLOOMS.json sidecar): term/phrase
    # queries prune to candidate shards before the scan — the Lucene
    # touch-only-the-postings cost model approximated at the shard level.
    # One extra pass over the stored token column at build time.
    term_blooms: bool = False
    # Stored BM25 statistics + term dictionary (_SEARCH_STATS.json +
    # _vocab/): bm25 queries serve from build-time structures instead of a
    # per-query stats pass (search_stats.py); delta-maintained on mutation.
    search_stats: bool = False
    # Per-segment key-range sidecar (_key_ranges/): point lookups read
    # only the segment files whose [min, max] admits the key — the Lucene
    # per-segment term-dictionary cost model (key_ranges.py).  One extra
    # column-pruned pass over the key column at build time.
    key_ranges: bool = False
    # Parquet codec for artifact files.  None = session default (snappy).
    # At 100 TB prefer "zstd": ~30-40% smaller files for a few % CPU — the
    # scan is I/O-bound at scale, so smaller wins.
    codec: str | None = None
    # Stamp every document with `_version_` = the artifact generation that
    # (re)wrote it — Solr's _version_ field.  merge_into stamps only the
    # batch (replaced docs take the new version), update_fields bumps
    # matched docs, compaction preserves values.  Enables Topic
    # (checkpointed incremental pull): consumers read docs with
    # _version_ > checkpoint — CDC-style downstream processing without
    # rescanning the artifact.
    doc_versions: bool = False

    def __post_init__(self) -> None:
        micro = self.micro_shards or self.shards
        if micro % self.shards != 0:
            raise ValueError(
                f"micro_shards ({micro}) must be a multiple of shards ({self.shards})"
            )
        if self.routing not in ("solr", "native"):
            raise ValueError(f"routing must be 'solr' or 'native', got {self.routing!r}")


class IndexJob:
    """Builds the sharded index artifact from an input DataFrame."""

    def __init__(self, config: IndexJobConfig):
        self.config = config

    # -- logical plan ------------------------------------------------------
    def route(self, df: DataFrame, generate_keys_from: str | None = None) -> DataFrame:
        """extract→key→sanitize→route: adds the root ``shard`` column (the
        artifact partition) and ``_micro_shard`` (the reference's reducer
        number — write-path parallelism beyond shard count, A8)."""
        cfg = self.config
        key = cfg.schema.unique_key
        if generate_keys_from is not None:
            df = generate_sequence_key(df, base_id_col=generate_keys_from, key=key)
        df = require_unique_key(df, key)
        df = cfg.schema.sanitize(df, rename_prefix=cfg.sanitize_rename_prefix)
        df = cfg.schema.apply_types(df)
        df = self._with_tokens(df)
        return self._with_shard(df)

    def _with_tokens(self, df: DataFrame) -> DataFrame:
        """Index-time analysis (B4 at build time): store the token array for
        every analyzed-text schema field so the query side never re-runs the
        analyzer over the corpus."""
        cfg = self.config
        if not cfg.store_tokens:
            return df
        from solr_map_reduce_spark.functions.analyzers import ANALYZERS

        for f in cfg.schema.fields:
            type_name = f.type if isinstance(f.type, str) else None
            if type_name in ANALYZED_TYPES and f.name in df.columns:
                df = df.withColumn(
                    f.name + TOKENS_SUFFIX, ANALYZERS[type_name](F.col(f.name))
                )
        return df

    def _analyzed_manifest(self, written_columns) -> dict:
        cfg = self.config
        out = {}
        for f in cfg.schema.fields:
            type_name = f.type if isinstance(f.type, str) else None
            tokens_col = f.name + TOKENS_SUFFIX
            if type_name in ANALYZED_TYPES and tokens_col in written_columns:
                out[f.name] = {"type": type_name, "tokens_col": tokens_col}
        return out

    def _with_shard(self, df: DataFrame) -> DataFrame:
        """Attach MICRO_COL + SHARD_COL from the unique key (also used to
        re-derive the shard after a resolver that collapses columns, e.g.
        sort_updates' (key, updates) shape)."""
        cfg = self.config
        key = cfg.schema.unique_key
        micro = cfg.micro_shards or cfg.shards
        if cfg.routing == "native":
            df = df.withColumn(
                MICRO_COL, F.pmod(F.hash(F.col(key)), F.lit(micro)).cast("int")
            )
        else:
            df = with_shard_id(df, key, cfg.shards, cfg.micro_shards, out_col=MICRO_COL)
        per_shard = micro // cfg.shards
        return df.withColumn(SHARD_COL, (F.col(MICRO_COL) / per_shard).cast("int"))

    def resolve(self, df: DataFrame) -> DataFrame:
        """Aggregation-based conflict resolution (A10-A14) — used by the slow
        path and by streaming merge-upserts."""
        cfg = self.config
        key = cfg.schema.unique_key
        if cfg.dedup != "none":
            order = cfg.order_field if cfg.order_field in df.columns else None
            if order is None and cfg.dedup in ("retain_most_recent", "sort_updates"):
                # no order column present → degenerate to any-one-wins dedup
                df = df.withColumn("_ord", F.lit(0))
                df = dedup_ops.resolve(
                    df, key, cfg.dedup, "_ord", tiebreak=cfg.tiebreak or None
                ).drop("_ord")
            else:
                df = dedup_ops.resolve(
                    df, key, cfg.dedup, order, tiebreak=cfg.tiebreak or None
                )
        return df

    def prepare(self, df: DataFrame, generate_keys_from: str | None = None) -> DataFrame:
        """route + resolve as one plan (the two-shuffle slow path; ``build``
        prefers the single-shuffle write for retain_most_recent/none)."""
        return self.resolve(self.route(df, generate_keys_from)).drop(MICRO_COL)

    # -- physical write ----------------------------------------------------
    def _manifest_body(self, written: DataFrame) -> dict:
        """``written`` is the DataFrame as it went to the writer (shard col
        included); its full schema is persisted so an empty artifact — zero
        input rows write no parquet files — stays openable."""
        cfg = self.config
        return {
            "shards": cfg.shards,
            "unique_key": cfg.schema.unique_key,
            "dedup": cfg.dedup,
            "order_field": cfg.order_field,
            "routing": cfg.routing,
            "columns": [c for c in written.columns if c not in (SHARD_COL, MICRO_COL)],
            "analyzed": self._analyzed_manifest(written.columns),
            "schema_json": written.schema.json(),
        }

    def _manifest(self, written: DataFrame, path: str) -> dict:
        return _commit_manifest(
            get_fs(path, written.sparkSession), path, self._manifest_body(written)
        )

    def _write_shards(
        self, df: DataFrame, path: str, partitions: int | None = None,
        mode: str = "overwrite",
    ) -> None:
        """The one artifact writer: every build and every shard rewrite
        goes through here, so no path drifts off the artifact's codec or
        file-size bound.  ``partitions`` hash-partitions on the shard and
        key-sorts each task first (``_write_sorted_dedup`` arrives
        already partitioned and sorted); ``partitionBy(shard)`` then gives
        each output task whole shard directories of key-sorted row groups,
        whose parquet min/max stats act like the term index for point
        lookups."""
        cfg = self.config
        if partitions is not None:
            df = df.repartition(partitions, F.col(SHARD_COL)).sortWithinPartitions(
                SHARD_COL, cfg.schema.unique_key
            )
        writer = df.write.mode(mode).partitionBy(SHARD_COL)
        if cfg.max_records_per_file:
            writer = writer.option("maxRecordsPerFile", cfg.max_records_per_file)
        if cfg.codec:
            writer = writer.option("compression", cfg.codec)
        writer.parquet(path)

    def write(self, df: DataFrame, path: str, mode: str = "overwrite") -> dict:
        """Write an already-resolved DataFrame as the sharded, key-sorted
        artifact (A17/A18/A21): one task per shard."""
        if MICRO_COL in df.columns:
            df = df.drop(MICRO_COL)
        self._write_shards(df, path, partitions=self.config.shards, mode=mode)
        return self._manifest(df, path)

    def _write_sorted_dedup(
        self, routed: DataFrame, path: str, mode: str = "overwrite"
    ) -> dict:
        """Single-shuffle fast path (reference reducer semantics, A9+A10+A17
        in one exchange): hash-shuffle on the micro shard; dedup is a
        ``lag(key)`` window over that SAME distribution (the window's
        ClusteredDistribution(micro) is satisfied by the repartition, so
        Catalyst inserts only a local sort, no second exchange), keeping the
        first row per key in (key, order DESC) order — all JVM-side, no
        Arrow round-trip.  Parallelism = micro_shards, exactly the
        reference's reducers-beyond-shard-count design."""
        from pyspark.sql import Window

        cfg = self.config
        key = cfg.schema.unique_key
        partitioned = routed.repartition(
            cfg.micro_shards or cfg.shards, F.col(MICRO_COL)
        )
        if cfg.dedup == "retain_most_recent":
            order_cols = [F.col(key).asc()]
            if cfg.order_field in routed.columns:
                order_cols.append(F.desc(cfg.order_field))
            order_cols.extend(
                F.desc(c) for c in cfg.tiebreak if c in routed.columns and c != key
            )
            w = Window.partitionBy(MICRO_COL).orderBy(*order_cols)
            partitioned = (
                partitioned.withColumn("_prev_key", F.lag(key).over(w))
                .filter(F.col("_prev_key").isNull() | (F.col("_prev_key") != F.col(key)))
                .drop("_prev_key")
            )
        out = partitioned.drop(MICRO_COL).sortWithinPartitions(SHARD_COL, key)
        self._write_shards(out, path, mode=mode)
        return self._manifest(out, path)

    def _next_generation(self, path: str, mode: str = "append") -> int:
        """The generation number the NEXT write to ``path`` will record —
        ``_manifest``'s increment, computed up front so doc versions can
        be stamped into the data before the manifest exists.  An
        overwrite build wipes the directory (manifest included), so its
        generation restarts at 1; append/merge continue the lineage."""
        if mode == "overwrite":
            return 1
        # a read/parse failure RAISES: silently falling back to 1 would
        # stamp new docs below any existing Topic checkpoint (data loss)
        fs = get_fs(path, None)
        if fs.exists(fs_join(path, MANIFEST)):
            return 1 + int(
                json.loads(fs.read_text(fs_join(path, MANIFEST))).get(
                    "generation", 0
                )
            )
        return 1

    def build(
        self,
        df: DataFrame,
        path: str,
        generate_keys_from: str | None = None,
        mode: str = "overwrite",
    ) -> dict:
        if mode == "append":
            # appending MUTATES an existing artifact: enforce the same
            # two guards every other mutation path has.  (1) placement
            # parity — new rows routed with a different shard count /
            # routing mode would land in wrong directories AND the
            # manifest rewrite below would re-describe the old rows'
            # placement, silently breaking every pruned lookup;
            # (2) the mutation lock — an unlocked append can interleave
            # with a concurrent merge_into's shard-directory swap.
            fs = get_fs(path, df.sparkSession)
            if fs.exists(fs_join(path, MANIFEST)):
                existing = json.loads(fs.read_text(fs_join(path, MANIFEST)))
                _require_placement_parity(
                    self.config, existing, "build(mode='append')"
                )
                with _mutation_lock(fs, path, "build_append"):
                    return self._build_inner(df, path, generate_keys_from, mode)
        return self._build_inner(df, path, generate_keys_from, mode)

    def _build_inner(
        self,
        df: DataFrame,
        path: str,
        generate_keys_from: str | None,
        mode: str,
    ) -> dict:
        routed = self.route(df, generate_keys_from)
        if self.config.doc_versions:
            # stamp AFTER route (the stamp is not a schema field); the
            # value mirrors the generation this write will produce:
            # overwrite restarts at 1, append continues the lineage
            routed = routed.withColumn(
                VERSION_COL, F.lit(self._next_generation(path, mode))
            )
        if self.config.dedup in ("retain_most_recent", "none") and (
            self.config.dedup == "none" or self.config.order_field in routed.columns
        ):
            manifest = self._write_sorted_dedup(routed, path, mode=mode)
        else:
            resolved = self.resolve(routed.drop(MICRO_COL))
            if SHARD_COL not in resolved.columns:
                # resolver collapsed columns (sort_updates) — re-derive placement
                resolved = self._with_shard(resolved).drop(MICRO_COL)
            manifest = self.write(resolved, path, mode=mode)
        _build_sidecars(df.sparkSession, path, manifest, self.config)
        return manifest

    def go_live(
        self, spark: SparkSession, staged_path: str, live_path: str
    ) -> dict:
        """A22 go-live: merge a STAGED artifact's documents into a LIVE
        serving artifact — the engine-native analog of the reference's
        GoLive step (mr/GoLive.java:46-168 merges freshly built shard
        indexes into a running SolrCloud collection).

        - No live artifact yet: the staged one is PROMOTED wholesale
          (atomic rename publish; NOTE the staged directory MOVES to the
          live path and no longer exists afterwards — the cheapest
          possible go-live; a copy would be O(artifact) for nothing).
        - Live artifact present: every staged document flows through
          ``merge_into``'s resolver against the live artifact (same-key
          docs replaced per the dedup policy, new keys appended, only the
          touched live shards rewrite, every serving sidecar
          delta-maintains) and the STAGED artifact is left intact, like
          the reference leaves its HDFS shard dirs after the SolrCloud
          merge.  Placement parity against the live manifest is enforced
          (a mismatched shard count/routing is refused loudly).

        Internal columns (shard id, stored ``__tokens``) are stripped from
        the staged rows; the merge re-routes and re-analyzes them under
        the LIVE artifact's configuration."""
        fs = get_fs(live_path, spark)
        if not fs.exists(fs_join(live_path, MANIFEST)):
            publish(staged_path, live_path, spark)
            return json.loads(fs.read_text(fs_join(live_path, MANIFEST)))
        staged = read_index(spark, staged_path)
        drop = [SHARD_COL] + [c for c in staged.columns if c.endswith("__tokens")]
        return self.merge_into(staged.drop(*drop), live_path)

    def merge_into(
        self,
        df: DataFrame,
        path: str,
        generate_keys_from: str | None = None,
    ) -> dict:
        """Incremental re-index (MorphlineBasicMiniMRTest.java:418-423: run
        the tool again over new inputs against an existing output; same-key
        docs replaced per the resolver, new keys appended).

        Only the shards the batch routes to are rewritten: routing is
        key-deterministic, so a key collision can only live in the shard its
        key hashes to.  The batch's touched-shard set (≤ ``shards`` values —
        a tiny driver-side list) filters the current artifact via partition
        pruning; union + re-resolve + rewrite happens per touched shard dir
        through a staging dir + per-dir atomic swap.  Untouched shard
        directories are never read or written — at 100 TB a small batch
        costs O(touched shards), not O(artifact).

        Artifact mutations go through the control-plane FS abstraction
        (``fs.get_fs``), so the same code serves local paths and any
        Hadoop-supported scheme — the reference mutates HDFS directly
        (SolrRecordWriter.java:124-191)."""
        fs = get_fs(path, df.sparkSession)
        if not fs.exists(fs_join(path, MANIFEST)):
            return self.build(df, path, generate_keys_from=generate_keys_from)
        _require_placement_parity(
            self.config,
            json.loads(fs.read_text(fs_join(path, MANIFEST))),
            "merge_into",
        )
        prepared = self.route(df, generate_keys_from).drop(MICRO_COL)
        plan_gen = self._next_generation(path)
        if self.config.doc_versions:
            # only the BATCH takes the new version; pre-existing rows keep
            # theirs (replaced docs resolve to the batch row, so a replace
            # bumps — Solr's _version_ contract)
            prepared = prepared.withColumn(VERSION_COL, F.lit(plan_gen))
        touched = sorted(
            r[0] for r in prepared.select(SHARD_COL).distinct().collect()
        )
        if not touched:
            return json.loads(fs.read_text(fs_join(path, MANIFEST)))
        current = read_index(df.sparkSession, path).filter(
            F.col(SHARD_COL).isin(touched)
        )
        # the batch must carry the artifact's full column set: silently
        # selecting the intersection would DROP columns from every
        # pre-existing row in the touched shards (and leave untouched
        # shards on the old schema)
        missing = set(current.columns) - set(prepared.columns)
        extra = set(prepared.columns) - set(current.columns)
        if missing or extra:
            raise ValueError(
                "merge_into batch schema mismatch vs artifact: "
                f"missing {sorted(missing)}, unexpected {sorted(extra)} — "
                "run the same IndexJob config over inputs with the "
                "artifact's columns (the reference reruns the same job)"
            )
        merged = current.select(prepared.columns).unionByName(prepared)
        cfg = self.config
        if (
            cfg.dedup in ("retain_most_recent", "sort_updates")
            and cfg.order_field not in merged.columns
        ):
            # no order column: without one the resolver is any-one-wins and
            # could nondeterministically keep the STALE artifact row — give
            # the batch priority explicitly (upsert semantics, C6)
            merged = current.select(prepared.columns).withColumn(
                "_upsert_ord", F.lit(0)
            ).unionByName(prepared.withColumn("_upsert_ord", F.lit(1)))
            resolved = dedup_ops.resolve(
                merged, cfg.schema.unique_key, cfg.dedup, "_upsert_ord",
                tiebreak=cfg.tiebreak or None,
            )
            if "_upsert_ord" in resolved.columns:
                resolved = resolved.drop("_upsert_ord")
        else:
            resolved = self.resolve(merged)
        if SHARD_COL not in resolved.columns:
            # resolver collapsed columns (sort_updates) — re-derive placement
            resolved = self._with_shard(resolved).drop(MICRO_COL)
        return self._rewrite(
            df.sparkSession, path, "merge_into", resolved, touched, plan_gen,
            "upsert", old=current,
            keys=prepared.select(cfg.schema.unique_key).distinct(),
            changed=resolved.columns, body=self._manifest_body(resolved),
        )

    def update_fields(
        self,
        updates: DataFrame,
        path: str,
        missing: str = "error",
        ops: "dict[str, str] | None" = None,
    ) -> dict:
        """Atomic field updates (the Solr ``{"set": ...}`` atomic-update
        semantics): ``updates`` carries the unique key plus a SUBSET of the
        artifact's data columns; matched documents get those fields SET to
        the update's values (including explicit NULLs — Solr's
        set-to-null), all other fields keep their stored values.  Analyzed
        fields that were updated get their stored token arrays re-analyzed.
        ``missing`` controls keys with no stored document: ``"error"``
        (default), ``"skip"``, or ``"insert"`` (create the doc with NULLs
        in the untouched fields — Solr creates on atomic update too).

        ``ops`` selects Solr's OTHER atomic-update operations per column
        (default ``"set"``): ``"inc"`` adds the update value to the stored
        numeric (a missing/NULL stored value counts as 0, Solr's inc-on-
        absent contract); ``"add"`` appends the update's elements to a
        multiValued (array) column; ``"add-distinct"`` appends only absent
        elements; ``"remove"`` deletes every occurrence of the update's
        elements; ``"removeregex"`` deletes every element FULLY matching
        any of the update's regex patterns (Java ``matches()``
        anchoring, Solr's contract).  Array ops take an ARRAY-typed
        update column (wrap a scalar in ``F.array``); a NULL update
        value leaves the stored value unchanged for
        inc/add/remove/removeregex (no-op), unlike set's explicit
        set-to-null.

        Scale shape: identical to :meth:`merge_into` — only the shards the
        update keys route to are read and rewritten (partition-pruned join
        against a broadcast-size batch), the stats sidecar delta-maintains,
        and term-bloom/key-range refreshes touch only those shards."""
        if missing not in ("error", "skip", "insert"):
            raise ValueError(f"missing must be error|skip|insert, got {missing!r}")
        spark = updates.sparkSession
        cfg = self.config
        key = cfg.schema.unique_key
        fs = get_fs(path, spark)
        if not fs.exists(fs_join(path, MANIFEST)):
            raise FileNotFoundError(f"no index artifact at {path}")
        manifest = json.loads(fs.read_text(fs_join(path, MANIFEST)))
        _require_placement_parity(self.config, manifest, "update_fields")
        data_cols = [c for c in manifest["columns"]]
        if key not in updates.columns:
            raise ValueError(f"updates must carry the unique key {key!r}")
        upd_cols = [c for c in updates.columns if c != key]
        unknown = [c for c in upd_cols if c not in data_cols]
        if unknown:
            raise ValueError(
                f"updates carry columns not in the artifact: {sorted(unknown)}"
            )
        analyzed: dict = manifest.get("analyzed", {})
        if any(c in {i["tokens_col"] for i in analyzed.values()} for c in upd_cols):
            raise ValueError(
                "update the raw analyzed field, not its stored __tokens "
                "column — tokens are recomputed from the new value"
            )
        ops = dict(ops or {})
        _OPS = ("set", "inc", "add", "add-distinct", "remove",
                "removeregex")
        for c, op in ops.items():
            if c not in upd_cols:
                raise ValueError(
                    f"ops names column {c!r} absent from the update batch"
                )
            if op not in _OPS:
                raise ValueError(f"unknown atomic op {op!r}; one of {_OPS}")
            if op != "set" and c in analyzed:
                raise ValueError(
                    f"atomic op {op!r} on analyzed field {c!r} is not "
                    "supported — set the full text (tokens re-analyze)"
                )
        updates = require_unique_key(updates, key)
        # duplicate keys in one batch would fan the set-join out into
        # duplicated documents — reject loudly (the batch is update-sized,
        # so this check is one tiny aggregate)
        dup = (
            updates.groupBy(key).count().filter(F.col("count") > 1)
            .select(key).limit(3).collect()
        )
        if dup:
            raise ValueError(
                f"duplicate update rows for key(s) {[r[0] for r in dup]} — "
                "collapse the batch to one row per key first"
            )
        routed = self._with_shard(updates).drop(MICRO_COL)
        touched = sorted(
            r[0] for r in routed.select(SHARD_COL).distinct().collect()
        )
        if not touched:
            return manifest
        current = read_index(spark, path).filter(F.col(SHARD_COL).isin(touched))

        # unknown-key policy (the batch is update-sized: broadcast anti-join)
        missing_keys = routed.join(
            current.select(F.col(key).alias("_k")),
            routed[key] == F.col("_k"),
            "left_anti",
        )
        inserts = None
        if missing == "error":
            sample = [r[0] for r in missing_keys.select(key).limit(3).collect()]
            if sample:
                raise KeyError(
                    f"atomic update for absent key(s) {sample} (and possibly "
                    "more) — use missing='insert' or 'skip'"
                )
        elif missing == "insert":
            inserts = missing_keys
        # matched updates: set-if-matched per updated column
        u = routed.select(
            F.col(key).alias("_uk"),
            F.lit(True).alias("_matched"),
            *[F.col(c).alias(f"_u_{c}") for c in upd_cols],
        )
        joined = current.join(F.broadcast(u), current[key] == F.col("_uk"), "left")
        # one generation read for BOTH stamp sites (bump + insert)
        plan_gen = self._next_generation(path)
        out_cols = []
        for c in current.columns:
            if c in upd_cols:
                op = ops.get(c, "set")
                uv, sv = F.col(f"_u_{c}"), current[c]
                if op == "set":
                    new = uv
                elif op == "inc":
                    # inc on an absent/NULL stored value starts from 0
                    # (Solr); a NULL delta is a no-op
                    new = F.when(
                        uv.isNotNull(), F.coalesce(sv, F.lit(0)) + uv
                    ).otherwise(sv)
                elif op == "add":
                    empty = F.array().cast(dict(current.dtypes)[c])
                    new = F.when(
                        uv.isNotNull(), F.concat(F.coalesce(sv, empty), uv)
                    ).otherwise(sv)
                elif op == "add-distinct":
                    # append only the elements not already present —
                    # array_union would ALSO dedupe the stored list
                    # (Solr's add-distinct leaves existing dups alone)
                    empty = F.array().cast(dict(current.dtypes)[c])
                    base = F.coalesce(sv, empty)
                    new = F.when(
                        uv.isNotNull(),
                        F.concat(base, F.array_except(uv, base)),
                    ).otherwise(sv)
                elif op == "remove":
                    # array_except would ALSO dedupe the survivors
                    # (Solr's remove keeps existing dups that aren't in
                    # the removal list) — filter preserves multiplicity
                    new = F.when(
                        uv.isNotNull() & sv.isNotNull(),
                        F.filter(sv, lambda x: ~F.array_contains(uv, x)),
                    ).otherwise(sv)
                else:  # removeregex
                    # drop elements FULLY matching any update pattern
                    # (Java matches() anchoring); survivors keep
                    # multiplicity.  Non-foldable regex is fine —
                    # regexp_like compiles per row only for the
                    # (bounded) pattern list of a matched doc.
                    def _any_rx(x, patterns=uv):
                        return F.exists(
                            patterns,
                            lambda rx: F.regexp_like(
                                x,
                                F.concat(
                                    F.lit("^(?:"), rx, F.lit(")$")
                                ),
                            ),
                        )

                    new = F.when(
                        uv.isNotNull() & sv.isNotNull(),
                        F.filter(sv, lambda x: ~_any_rx(x)),
                    ).otherwise(sv)
                out_cols.append(
                    F.when(F.col("_matched"), new).otherwise(sv).alias(c)
                )
            elif c == VERSION_COL:
                # a versioned artifact: an atomic update BUMPS the matched
                # doc's _version_ (Solr's contract) so Topic consumers
                # re-deliver it
                out_cols.append(
                    F.when(F.col("_matched"), F.lit(plan_gen))
                    .otherwise(current[c])
                    .alias(c)
                )
            else:
                out_cols.append(current[c])
        updated = joined.select(*out_cols)
        if inserts is not None:
            # absent keys become new docs: typed NULL for every
            # un-supplied column
            cur_schema = {f.name: f.dataType for f in current.schema.fields}
            full = inserts.select(
                *[
                    (
                        # remove/removeregex-on-absent creates the doc
                        # with the field EMPTY (there is nothing to
                        # remove from), never with the removal
                        # list/patterns as the value
                        F.lit(None).cast(cur_schema[c])
                        if ops.get(c) in ("remove", "removeregex")
                        else F.lit(plan_gen).cast(cur_schema[c])
                        if c == VERSION_COL
                        else F.col(c)
                        if c in inserts.columns
                        else F.lit(None).cast(cur_schema[c])
                    ).alias(c)
                    for c in [x for x in current.columns if x != SHARD_COL]
                ],
                F.col(SHARD_COL),
            )
            updated = updated.unionByName(full)
        # re-analyze stored token arrays for updated analyzed fields (the
        # analyzer is deterministic, so recomputing unmatched rows too is a
        # no-op — keeps the plan one narrow projection over touched shards)
        from solr_map_reduce_spark.functions.analyzers import ANALYZERS

        for field, info in analyzed.items():
            if field in upd_cols or inserts is not None:
                updated = updated.withColumn(
                    info["tokens_col"], ANALYZERS[info["type"]](F.col(field))
                )
        return self._rewrite(
            spark, path, "update_fields", updated, touched, plan_gen,
            "update", old=current, keys=updates.select(key).distinct(),
            changed=upd_cols,
        )

    def delete_where(self, spark: SparkSession, path: str, condition) -> int:
        """Delete-by-query against the artifact (C3 as a MUTATION, the
        GoLive test's delete round-trip: MorphlineGoLiveMiniMRTest.java:439,
        500-502) — rewrite only the shard directories that contain matches.

        ``condition`` is a Column predicate (or SQL string).  Returns the
        number of rows deleted.  Deleting by unique key is the deleteById
        analog: ``delete_where(spark, path, F.col(key) == value)``."""
        if isinstance(condition, str):
            condition = F.expr(condition)
        plan_gen = self._next_generation(path)
        # NULL-safe: a row where the predicate is NULL does NOT match the
        # delete (SQL DELETE semantics) and must be kept
        matches = F.coalesce(condition, F.lit(False))
        current = read_index(spark, path)
        # matches per shard, from the pass that finds the touched shards;
        # the commit's generation re-check keeps the count exact
        hits = current.filter(matches).groupBy(SHARD_COL).count().collect()
        if not hits:
            return 0
        touched = sorted(r[SHARD_COL] for r in hits)
        subset = current.filter(F.col(SHARD_COL).isin(touched))
        self._rewrite(
            spark, path, "delete_where", subset.filter(~matches), touched,
            plan_gen, "delete", old=subset,
            keys=subset.filter(matches).select(self.config.schema.unique_key),
        )
        return sum(r["count"] for r in hits)

    def _rewrite(
        self,
        spark: SparkSession,
        path: str,
        op: str,
        rows: DataFrame,
        touched: list[int],
        plan_gen: int,
        effect: str,
        old: DataFrame | None = None,
        keys: DataFrame | None = None,
        changed=(),
        body: dict | None = None,
        defer_deletion: bool = False,
    ) -> dict:
        """The one commit path of every shard rewrite (merge, update,
        delete, compaction) — the analog of the reference's job output
        commit followed by the GoLive merge (mr/GoLive.java:46-168).

        ``rows`` is the new content of the ``touched`` shards; ``effect``
        names what the rewrite did to them (see ``_SIDECARS``), with
        ``keys`` the batch or deleted keys, ``old`` the touched shards as
        they were, and ``changed`` the columns whose values may differ.
        Under the mutation lock, in this order: re-check that no other
        mutation committed since the caller planned against ``plan_gen``
        (the next generation, also the doc-version stamp); write the
        staging dir; let every present sidecar prepare while the old
        files are still readable; swap the shard dirs; commit Blooms,
        stats and key ranges; advance the generation (``body`` replaces
        the manifest's content when given); delta or re-pin the ANN
        sidecars, which pin themselves to that generation.  Sidecars
        commit BEFORE the generation moves, so a live handle that reloads
        on the new generation never caches a pre-rewrite sidecar under
        it.  Returns the committed manifest."""
        fs = get_fs(path, spark)
        with _mutation_lock(fs, path, op):
            if self._next_generation(path) != plan_gen:
                # committing now would lose the other mutation's view (and
                # strand a stamped batch below Topic checkpoints): abort
                # loudly, retry-safe
                raise RuntimeError(
                    f"concurrent mutation of {path!r} detected (planned "
                    f"against generation {plan_gen - 1}); retry"
                )
            tmp = f"{path.rstrip('/')}._{op}_tmp"
            self._write_shards(rows, tmp, partitions=len(touched))
            rw = _Rewrite(
                spark, fs, path, effect,
                json.loads(fs.read_text(fs_join(path, MANIFEST))).get("analyzed", {}),
                touched, self.config.schema.unique_key, old, rows, tmp, keys,
                frozenset(changed),
            )
            due = [s for s in _SIDECARS if effect in s.cells and s.present(rw, False)]
            states = [s.cells[effect][0](rw) if s.cells[effect][0] else None for s in due]
            _swap_shard_dirs(
                fs, path, tmp, [f"{SHARD_COL}={s}" for s in touched], defer_deletion
            )
            fs.delete(tmp)
            commits = [(s.cells[effect][1], st, s.after_generation)
                       for s, st in zip(due, states)]
            for commit, state, late in commits:
                if not late:
                    commit(rw, state)
            manifest = _commit_manifest(fs, path, body)
            for commit, state, late in commits:
                if late:
                    commit(rw, state)
            return manifest

    def dry_run(self, df: DataFrame, generate_keys_from: str | None = None, n: int = 20):
        """A24 dry-run: run the full logical pipeline client-side and return
        the first ``n`` prepared documents without writing
        (MapReduceIndexerTool --dry-run, MRIT:1105-1120)."""
        return self.prepare(df, generate_keys_from).limit(n).collect()

    def observed(self, df: DataFrame, name: str = "indexing"):
        """A27 metrics: attach counters (docs seen / null keys) as an
        Observation; returns (df, observation) — read ``observation.get``
        after an action."""
        from pyspark.sql import Observation

        key = self.config.schema.unique_key
        obs = Observation(name)
        out = df.observe(
            obs,
            F.count(F.lit(1)).alias("docs_in"),
            F.sum(F.when(F.col(key).isNull(), 1).otherwise(0)).alias("null_keys"),
        )
        return out, obs


def _require_placement_parity(cfg: IndexJobConfig, manifest: dict, op: str) -> None:
    """Incremental mutations route new/updated keys with the CALLER's
    config; if its shard count or routing mode differs from what the
    artifact was built with, keys land in the wrong shard directories and
    documents silently duplicate instead of replacing.  The manifest
    records the build-time truth — enforce it."""
    want_shards = int(manifest.get("shards", cfg.shards))
    want_routing = manifest.get("routing", "solr")
    if cfg.shards != want_shards or cfg.routing != want_routing:
        raise ValueError(
            f"{op} config places keys differently than the artifact was "
            f"built: config (shards={cfg.shards}, routing={cfg.routing!r}) "
            f"vs manifest (shards={want_shards}, routing={want_routing!r}) "
            "— run the same IndexJob configuration the artifact was built "
            "with (the reference reruns the same job)"
        )


def _job_for(manifest: dict, **overrides) -> IndexJob:
    """An IndexJob that places and sorts rows exactly as ``manifest``
    says — for the rewrites that are not given a job (compaction, the
    reader's delete)."""
    key = manifest["unique_key"]
    return IndexJob(IndexJobConfig(
        schema=IndexSchema(fields=(Field(key, "string"),), unique_key=key),
        shards=int(manifest["shards"]),
        routing=manifest.get("routing", "solr"),
        **overrides,
    ))


# -- the sidecar lifecycle --------------------------------------------------
#
# One table drives the four serving sidecars through every artifact
# mutation.  A rewrite names its EFFECT on the touched shards:
#
#   "upsert"  rows replaced or added (the batch keys)          merge_into
#   "update"  columns set on matched rows (the batch keys)     update_fields
#   "delete"  rows removed (the deleted keys)                  delete_where
#   "same"    content unchanged, every segment file renamed    compact
#
# and "build" is the full refresh after a build in either mode.  A cell is
# ``(prepare, commit)``: ``prepare(rw)`` runs before the shard swap, while
# the old files are still readable, and returns a state that
# ``commit(rw, state)`` finishes after the swap.  An effect with no cell
# keeps that sidecar as it is.  README "Sidecar lifecycle" writes the table
# out.  Sidecar functions are looked up on their modules at call time, so
# wrappers installed on those attributes (tracing spans) see every call.


@dataclass
class _Rewrite:
    """What one commit did to the artifact, as the sidecar table reads it."""

    spark: SparkSession
    fs: object
    path: str
    effect: str
    analyzed: dict
    touched: list[int] | None = None  # None: every shard (a build)
    key: str | None = None
    old: DataFrame | None = None  # the touched shards before the rewrite
    rows: DataFrame | None = None  # their new content, as staged
    tmp: str | None = None  # the staging dir
    keys: DataFrame | None = None  # batch or deleted keys
    changed: frozenset = frozenset()  # columns whose values may differ

    def staged(self) -> DataFrame:
        # a delete's kept rows are a pure filter over old files still on
        # disk, so they are scanned directly (that also covers a delete
        # that emptied every touched shard and so staged no file); other
        # rewrites read their staging output back, pinned to the schema
        # they were written with
        if self.effect == "delete":
            return self.rows
        return self.spark.read.schema(self.rows.schema).parquet(self.tmp)


def _blooms_present(rw: _Rewrite, requested: bool) -> bool:
    return bool(rw.analyzed) and (
        requested or rw.fs.exists(fs_join(rw.path, term_blooms.BLOOMS))
    )


def _blooms_write(rw: _Rewrite, _state) -> None:
    # new tokens in a touched shard: a stale bitmap would be a false negative
    term_blooms.write_term_blooms(rw.spark, rw.path, shards=rw.touched)


def _stats_present(rw: _Rewrite, requested: bool) -> bool:
    return bool(rw.analyzed) and (
        requested or rw.fs.exists(fs_join(rw.path, search_stats.STATS))
    )


def _stats_delta(rw: _Rewrite):
    # O(touched): scalar stats and the term dictionary adjust by
    # agg(new) - agg(old); None when the stored sidecar is torn
    return search_stats.prepare_stats_delta(rw.spark, rw.path, rw.old, rw.staged())


def _stats_unchanged(rw: _Rewrite):
    # unchanged content keeps a whole sidecar as it is
    if search_stats._whole_stats(rw.spark, rw.fs, rw.path, rw.analyzed):
        return lambda: None
    return None


def _stats_commit(rw: _Rewrite, finalize) -> None:
    # a torn (or never prepared) sidecar is rebuilt over the whole corpus:
    # stale global statistics would silently skew every score
    if finalize is not None:
        finalize()
    else:
        search_stats.write_search_stats(rw.spark, rw.path)


def _ranges_present(rw: _Rewrite, requested: bool) -> bool:
    return requested or key_ranges.sidecar_exists(rw.fs, rw.path)


def _ranges_write(rw: _Rewrite, _state) -> None:
    # rewritten shards have new segment file names: a stale entry would
    # be a false negative
    key_ranges.write_key_ranges(rw.spark, rw.path, shards=rw.touched)


def _ann_present(rw: _Rewrite, _requested: bool) -> bool:
    return bool(ann_sidecar.sidecars(rw.fs, rw.path))


def _ann_changed_rows(rw: _Rewrite):
    # the pre-rewrite generation gates the maintenance (a sidecar pinned
    # elsewhere missed an earlier mutation and stays stale); the batch
    # keys and their post-rewrite vectors are materialized before the swap
    # renames the files their plans read — O(batch) rows
    pre_gen = ann_sidecar.manifest_generation_hash(rw.fs, rw.path)
    vec = [f for f, _s in ann_sidecar.sidecars(rw.fs, rw.path) if f in rw.changed]
    if not vec:
        return pre_gen, None, None
    keys = rw.keys.localCheckpoint(eager=True)
    rows = (
        rw.staged().select(rw.key, *vec)
        .join(keys, on=rw.key, how="left_semi")
        .localCheckpoint(eager=True)
    )
    return pre_gen, keys, rows


def _ann_upsert(rw: _Rewrite, state) -> None:
    # epoch append + tombstones for the rewritten vectors; every sidecar
    # whose vector column provably did not change just re-pins
    pre_gen, keys, rows = state
    if rows is not None:
        ann_sidecar.delta_upsert(rw.spark, rw.path, rows, keys, rw.key, pre_gen)
    ann_sidecar.repin_only(rw.spark, rw.path, rw.changed, pre_gen)


def _ann_deleted_keys(rw: _Rewrite):
    return (
        ann_sidecar.manifest_generation_hash(rw.fs, rw.path),
        rw.keys.localCheckpoint(eager=True),
    )


def _ann_delete(rw: _Rewrite, state) -> None:
    ann_sidecar.delta_delete(rw.spark, rw.path, state[1], rw.key, state[0])


class _Sidecar(NamedTuple):
    name: str  # the module, and the IndexJobConfig flag requesting it
    present: Callable  # (rw, requested) -> the sidecar is due
    cells: dict  # effect -> (prepare | None, commit)
    after_generation: bool = False  # commits after the generation advance


_SIDECARS = (
    # "delete"/"same": a bitmap over shrunk or unchanged content stays a
    # correct superset
    _Sidecar("term_blooms", _blooms_present, {
        "build": (None, _blooms_write),
        "upsert": (None, _blooms_write),
        "update": (None, _blooms_write),
    }),
    _Sidecar("search_stats", _stats_present, {
        "build": (None, _stats_commit),
        "upsert": (_stats_delta, _stats_commit),
        "update": (_stats_delta, _stats_commit),
        "delete": (_stats_delta, _stats_commit),
        "same": (_stats_unchanged, _stats_commit),
    }),
    _Sidecar("key_ranges", _ranges_present, dict.fromkeys(
        ("build", "upsert", "update", "delete", "same"), (None, _ranges_write)
    )),
    # "build": an appended build leaves the sidecars stale (readers fall
    # back to the exact scan) until build_ann; they store vectors by key,
    # no file names, so the other effects maintain them in O(batch)
    _Sidecar("ann_sidecar", _ann_present, {
        "upsert": (_ann_changed_rows, _ann_upsert),
        "update": (_ann_changed_rows, _ann_upsert),
        "delete": (_ann_deleted_keys, _ann_delete),
        "same": (_ann_changed_rows, _ann_upsert),  # nothing changed: re-pin
    }, after_generation=True),
)


def _build_sidecars(
    spark: SparkSession, path: str, manifest: dict, cfg: IndexJobConfig
) -> None:
    """The "build" column: fully refresh every sidecar the config requests
    or the artifact already carries — an appended build must refresh a
    sidecar an EARLIER config built, or its rows would be invisible to
    pruned lookups (an overwrite wiped the directory, sidecars included)."""
    rw = _Rewrite(spark, get_fs(path, spark), path, "build", manifest.get("analyzed", {}))
    due = [
        s for s in _SIDECARS
        if "build" in s.cells and s.present(rw, getattr(cfg, s.name, False))
    ]
    fused = {"term_blooms", "search_stats"}
    if fused <= {s.name for s in due}:
        # ONE tokenized corpus pass per analyzed field serves both
        search_stats.write_search_sidecars(spark, path)
        due = [s for s in due if s.name not in fused]
    for s in due:
        s.cells["build"][1](rw, None)


MUTATION_LOCK = "_MUTATION_LOCK"


class ArtifactLockedError(RuntimeError):
    """Another mutation holds the artifact's advisory lock."""


from contextlib import contextmanager  # noqa: E402


@contextmanager
def _mutation_lock(fs, path: str, op: str):
    """Advisory exclusivity for artifact mutations (merge/delete/update/
    compact): two concurrent mutators would share staging-dir names and
    interleave shard swaps — silent corruption.  The lock is a marker file
    written before the first byte of staging output and removed after the
    mutation completes (success or Python-level failure); a crash that
    kills the process leaves it behind DELIBERATELY, because a crashed
    mutation needs operator attention (``clear_mutation_lock`` /
    ``smrs unlock --force`` after verifying no mutator is running).  The
    reference gets the same exclusivity implicitly from MapReduce
    job-level output commit.

    Acquisition is ATOMIC (``fs.create_exclusive``: O_EXCL locally,
    ``create(overwrite=false)`` on Hadoop) — the old exists-then-write
    pair let two racing mutators both pass the exists check and
    interleave staging writes.  After creation the written token is read
    back: a DIFFERENT token means another writer overwrote us on a store
    without atomic create semantics, so we lost.  This NARROWS (does not
    fully close) the race window on such stores — two writers can still
    interleave create/read in an order where both see their own token;
    artifact mutation on an object store without atomic create needs an
    external coordinator for hard exclusion.  An unreadable lock after a
    successful exclusive create is treated as held (creation is the
    authoritative signal; a transient read failure must not strand our
    own lock on disk).  The lock body records owner metadata
    (op/pid/host/ts/token) so an operator can tell a live mutator from a
    dead one before forcing."""
    import os
    import socket
    import time

    lock = fs_join(path, MUTATION_LOCK)
    token = uuid.uuid4().hex
    body = json.dumps({
        "op": op,
        "pid": os.getpid(),
        "host": socket.gethostname(),
        "ts": time.time(),
        "token": token,
    })
    if not fs.create_exclusive(lock, body):
        try:
            holder = fs.read_text(lock).strip()
        except Exception:
            holder = "<unreadable — racing mutator mid-write>"
        raise ArtifactLockedError(
            f"artifact at {path} is locked by another mutation ({holder}); "
            "if that process is dead, verify the artifact and "
            "clear_mutation_lock(path) or `smrs unlock --force`"
        )
    # verify we won: on stores without atomic create-exclusive, a racer
    # may have overwritten the body — a foreign token means we lost.  A
    # read FAILURE is not a loss: creation succeeded exclusively, and
    # raising here would strand our own lock file on disk.
    try:
        held = json.loads(fs.read_text(lock)).get("token")
    except Exception:
        held = token
    if held != token:
        raise ArtifactLockedError(
            f"artifact at {path}: lost lock race to another mutation "
            f"(stored token {held!r})"
        )
    try:
        yield
    finally:
        if fs.exists(lock):
            fs.delete(lock)


def inspect_mutation_lock(path: str, spark: SparkSession | None = None) -> dict | None:
    """Owner metadata of the mutation lock at ``path`` (op/pid/host/ts,
    plus ``pid_alive_here`` when the lock's host matches this one), or
    None when unlocked.  Lets an operator distinguish a live mutator from
    a crashed one before forcing the lock."""
    import os
    import socket

    fs = get_fs(path, spark)
    lock = fs_join(path, MUTATION_LOCK)
    if not fs.exists(lock):
        return None
    try:
        info = json.loads(fs.read_text(lock))
        if not isinstance(info, dict):
            info = {"raw": info}
    except Exception:
        info = {"raw": "<unparseable lock body>"}
    if info.get("host") == socket.gethostname() and "pid" in info:
        try:
            os.kill(int(info["pid"]), 0)
            info["pid_alive_here"] = True
        except (OSError, ValueError):
            info["pid_alive_here"] = False
    return info


def clear_mutation_lock(path: str, spark: SparkSession | None = None) -> bool:
    """Remove a stale mutation lock left by a crashed mutator.  Returns
    True when a lock was present."""
    fs = get_fs(path, spark)
    lock = fs_join(path, MUTATION_LOCK)
    if fs.exists(lock):
        fs.delete(lock)
        return True
    return False


_SWAP_TRASH = "_trash_swap"


def _commit_manifest(fs, path: str, body: dict | None = None) -> dict | None:
    """Write ``body`` (default: the current manifest's content) as the
    manifest at ``generation + 1`` with a fresh uuid, and return it.
    Live handles detect a mutated artifact by manifest CONTENT
    (index_reader._check_generation), immune to mtime granularity and to
    identical-content rewrites.  No manifest and no body: nothing to
    advance."""
    mp = fs_join(path, MANIFEST)
    try:
        current = json.loads(fs.read_text(mp)) if fs.exists(mp) else None
    except Exception:
        current = None  # unreadable/torn: the fresh uuid still differs
    if body is None and current is None:
        return None
    manifest = dict(body if body is not None else current)
    manifest["generation"] = int((current or {}).get("generation", 0)) + 1
    manifest["generation_id"] = uuid.uuid4().hex
    fs.write_text(mp, json.dumps(manifest, indent=2))
    return manifest


def bump_generation(fs, path: str) -> None:
    """Advance the manifest generation of an artifact mutated in place
    outside the shard-rewrite commit (e.g. an ANN sidecar compaction):
    live ``SearchIndex`` handles would otherwise keep serving cached
    sidecars — and a memoized DataFrame over renamed segment files."""
    _commit_manifest(fs, path)


def _swap_shard_dirs(
    fs, path: str, tmp: str, shard_names: list[str], keep_old: bool = False
) -> None:
    """Replace shard directories with their rewritten versions via
    rename-aside: old dirs move into ``<path>/_trash_swap/`` (an
    underscore-prefixed dir, invisible to Spark's partition discovery)
    BEFORE the new dir renames in, and the trash is deleted only at the
    end.  A crash mid-swap therefore never leaves a shard deleted with no
    replacement — worst case the aside copy survives for manual recovery.
    A shard the rewrite emptied stages no dir and is retired.
    ``keep_old`` keeps the replaced dirs at ``<path>._old.N`` instead of
    deleting them (SolrMergeDriver --defer-deletion,
    SolrMergeDriver.java:167-182)."""
    trash = fs_join(path, _SWAP_TRASH)
    if fs.exists(trash):
        # leftover trash from an interrupted earlier swap can be the
        # ONLY surviving copy of a shard (the crash window is exactly
        # "old dir renamed aside, new dir not yet renamed in") —
        # deleting it here would void the manual-recovery guarantee
        # below.  Set it aside under a unique name instead; reclaiming
        # the space is the operator's explicit call after inspection.
        fs.rename(trash, f"{trash}_abandoned_{uuid.uuid4().hex[:8]}")
    fs.mkdirs(trash)
    for dirname in shard_names:
        src = fs_join(tmp, dirname)
        dst = fs_join(path, dirname)
        if fs.isdir(dst):
            fs.rename(dst, fs_join(trash, dirname))
        if fs.isdir(src):
            fs.rename(src, dst)
    if not keep_old:
        fs.delete(trash)
        return
    i = 0
    while fs.exists(f"{path.rstrip('/')}._old.{i}"):
        i += 1
    fs.rename(trash, f"{path.rstrip('/')}._old.{i}")


def artifact_schema(manifest: dict) -> T.StructType:
    """The schema the artifact's writer recorded in ``manifest``, in the
    order Spark reads it: the data columns, then ``shard``.  A manifest
    without one is an older layout this engine does not read."""
    schema_json = manifest.get("schema_json")
    if not schema_json:
        raise ValueError(
            "artifact manifest has no 'schema_json': an older layout this "
            "engine does not read; rebuild the artifact"
        )
    st = T.StructType.fromJson(json.loads(schema_json))
    return T.StructType(
        [f for f in st.fields if f.name != SHARD_COL] + [st[SHARD_COL]]
    )


def read_index(spark: SparkSession, path: str) -> DataFrame:
    """Open the artifact; ``shard`` is a partition column → pruning works.

    The engine reads every dataset it writes with the schema its writer
    recorded, never by inferring one from the parquet footers: the read
    plans with no Spark job, and an empty artifact (zero input rows wrote
    no parquet files) opens as an empty DataFrame of the same schema.  A
    manifest without a recorded schema is refused (``artifact_schema``)."""
    manifest = json.loads(get_fs(path, spark).read_text(fs_join(path, MANIFEST)))
    return spark.read.schema(artifact_schema(manifest)).parquet(path)


def compact(
    spark: SparkSession,
    path: str,
    max_segments: int = 1,
    defer_deletion: bool = False,
) -> None:
    """Small-files compaction — the surviving concern of the mtree merge
    (A19): rewrite each shard directory down to ``max_segments`` files,
    preserving key order.  Idempotent per shard dir (A29's resumability:
    rerunning a shard overwrite is safe).

    ``defer_deletion`` keeps the replaced shard directories at
    ``<path>._old.N`` instead of deleting them (SolrMergeDriver
    --defer-deletion, SolrMergeDriver.java:167-182) so an external process
    can archive or verify intermediates before reclaiming space."""
    import math

    fs = get_fs(path, spark)
    manifest = json.loads(fs.read_text(fs_join(path, MANIFEST)))
    df = read_index(spark, path)
    shard_rows = df.groupBy(SHARD_COL).count().collect()
    if not shard_rows:
        return
    # one sorted task per shard (sorted by the manifest's unique key: the
    # key-sorted segment contract point lookups rely on), rolling a new
    # file every per_file rows → exactly ceil(rows/per_file) <=
    # max_segments contiguous-key-range segments per shard (the Lucene
    # forceMerge(maxSegments) contract, A18)
    per_file = max(1, math.ceil(max(r["count"] for r in shard_rows) / max_segments))
    job = _job_for(manifest, max_records_per_file=per_file)
    job._rewrite(
        spark, path, "compact", df, sorted(r[SHARD_COL] for r in shard_rows),
        job._next_generation(path), "same", defer_deletion=defer_deletion,
    )


BACKUP_META = "_BACKUP_META.json"


def _copy_tree(fs, src: str, dst: str, skip: "tuple[str, ...]" = ()) -> int:
    """Recursive artifact copy through the control-plane FS (one code
    path for local and Hadoop schemes).  Returns files copied."""
    fs.mkdirs(dst)
    n = 0
    for name in fs.listdir(src):
        if name in skip:
            continue
        s, d = fs_join(src, name), fs_join(dst, name)
        if fs.isdir(s):
            n += _copy_tree(fs, s, d)
        else:
            fs.copy_file(s, d)
            n += 1
    return n


def backup(path: str, dest: str, spark: SparkSession | None = None) -> dict:
    """Solr ``/replication?command=backup`` analog: a CONSISTENT
    point-in-time copy of the artifact (data + manifest + every serving
    sidecar) at ``dest``.

    Consistency: the copy runs under the artifact's MUTATION LOCK, so a
    concurrent merge/delete/update cannot swap shard directories
    mid-copy (Solr pins the snapshot's file list against commits the
    same way).  Crash-safe: files land in ``dest + '._tmp'`` and the
    finished tree is atomically renamed into place with the backup
    metadata (source generation + id, file count) written last — a
    half-copied backup is never mistaken for a complete one.

    The lock serializes backup against MUTATIONS (and other backups);
    readers are unaffected (parquet files are immutable between swaps).
    At 100 TB prefer filesystem-level snapshots where available; this
    path is the portable contract."""
    return _copy_artifact(path, dest, spark, "backup", BACKUP_META)[1]


def _copy_artifact(
    path: str, dest: str, spark, op: str, meta_name: str | None = None
) -> tuple[dict, dict]:
    """``backup``'s lock-consistent copy of the artifact at ``path`` to a
    new ``dest``; the copy metadata lands in ``meta_name`` (when given)
    before the finished tree renames into place.  Returns the copied
    manifest and the metadata."""
    fs = get_fs(path, spark)
    if type(fs) is not type(get_fs(dest, spark)):
        # LocalFS would treat "s3a://bucket/x" as a literal local dir and
        # "succeed" without producing a copy — same-FS-kind is required
        # (publish's contract); copy across filesystems explicitly
        raise ValueError(
            f"{op} needs source and dest on the same filesystem kind "
            f"({path!r} -> {dest!r}); copy across afterwards"
        )
    if not fs.exists(fs_join(path, MANIFEST)):
        raise ValueError(f"{path!r} is not an index artifact (no manifest)")
    if fs.exists(dest):
        raise ValueError(f"{op} dest {dest!r} already exists")
    with _mutation_lock(fs, path, op):
        manifest = json.loads(fs.read_text(fs_join(path, MANIFEST)))
        tmp = dest.rstrip("/") + "._tmp"
        if fs.exists(tmp):
            fs.delete(tmp)
        # the lock file itself must not be carried into the copy — a
        # restored artifact would look locked by a long-dead mutator
        n = _copy_tree(fs, path, tmp, skip=(MUTATION_LOCK,))
        meta = {
            "source": path,
            "generation": manifest.get("generation"),
            "generation_id": manifest.get("generation_id"),
            "files": n,
        }
        if meta_name:
            fs.write_text(fs_join(tmp, meta_name), json.dumps(meta, indent=2))
        fs.rename(tmp, dest)
    return manifest, meta


def restore(backup_path: str, live_path: str,
            spark: SparkSession | None = None) -> dict:
    """Solr ``/replication?command=restore`` analog: promote a backup to
    the live location via the atomic publish swap, leaving the BACKUP
    intact (it copies to a staging sibling first — a failed restore
    never consumes the backup).  The REPLACED live artifact is dropped
    on success (publish's contract; it survives at ``._prev`` only if
    the swap crashes mid-flight) — back it up first if it matters."""
    fs = get_fs(backup_path, spark)
    if type(fs) is not type(get_fs(live_path, spark)):
        raise ValueError(
            f"restore needs backup and live on the same filesystem kind "
            f"({backup_path!r} -> {live_path!r}); copy across first"
        )
    if not fs.exists(fs_join(backup_path, BACKUP_META)):
        raise ValueError(
            f"{backup_path!r} is not a completed backup (no {BACKUP_META})"
        )
    meta = json.loads(fs.read_text(fs_join(backup_path, BACKUP_META)))
    staging = live_path.rstrip("/") + "._restore_tmp"
    if fs.exists(staging):
        fs.delete(staging)
    _copy_tree(fs, backup_path, staging, skip=(BACKUP_META,))
    if fs.exists(fs_join(live_path, MANIFEST)):
        # serialize against live mutators: a merge mid-shard-swap while
        # we rename the live tree away would corrupt both artifacts.  The
        # lock marker lives INSIDE the live dir and moves/dies with it —
        # the restored tree never carries it (the backup excluded it).
        with _mutation_lock(fs, live_path, "restore"):
            publish(staging, live_path, spark)
    else:
        publish(staging, live_path, spark)
    return meta


def publish(staging_path: str, live_path: str, spark: SparkSession | None = None) -> None:
    """A21/A22 publish: atomically promote a staged artifact to the live
    location (rename-swap + _SUCCESS marker) — the go-live analog.  Merging
    into an external serving system is a pluggable step; the engine's
    contract ends at an atomic table swap, like the reference's
    ``results/`` rename (MRIT:818-836).

    Both paths must live on the same filesystem kind — a rename cannot span
    filesystems (neither can the reference's results/ rename); copy first
    for a cross-FS promote."""
    fs = get_fs(live_path, spark)
    fs_src = get_fs(staging_path, spark)
    if type(fs) is not type(fs_src):
        raise ValueError(
            f"publish needs staging and live on the same filesystem kind; "
            f"got {type(fs_src).__name__} -> {type(fs).__name__} "
            f"({staging_path!r} -> {live_path!r}) — copy across first"
        )
    bak = None
    if fs.exists(live_path):
        bak = live_path.rstrip("/") + "._prev"
        if fs.exists(bak):
            fs.delete(bak)
        fs.rename(live_path, bak)
    fs.rename(staging_path, live_path)
    fs.write_text(fs_join(live_path, "_SUCCESS_PUBLISH"), "ok")
    if bak:
        fs.delete(bak)


ITERATION_FILE = "_ITERATION"


def merge_driver(
    spark: SparkSession,
    path: str,
    max_segments: int = 1,
    fanout: int = 4,
    defer_deletion: bool = False,
) -> int:
    """A29 resumable iterative compaction — the SolrMergeDriver analog.

    Each iteration reduces the per-shard file count by ``fanout`` (rewriting
    shard dirs), checkpointing progress to an ``_ITERATION`` file
    (SolrMergeDriver.java:121-129, 235-264) so a crashed run resumes at the
    last completed iteration instead of restarting.  In Spark a single
    ``compact`` already reaches max_segments in one pass; the iterative form
    exists for parity and for bounding per-task merge width at extreme file
    counts (the reference's mtree rationale, A19).  Returns iterations run.
    """
    fs = get_fs(path, spark)
    ckpt = fs_join(path, ITERATION_FILE)
    iteration = 0
    if fs.exists(ckpt):
        iteration = int(fs.read_text(ckpt).strip() or 0)
    ran = 0
    while True:
        counts = segment_counts(path)
        worst = max(counts.values()) if counts else 0
        if worst <= max_segments:
            break
        target = max(max_segments, worst // fanout)
        compact(spark, path, max_segments=target, defer_deletion=defer_deletion)
        iteration += 1
        ran += 1
        fs.write_text(ckpt, str(iteration))
    if fs.exists(ckpt):
        fs.delete(ckpt)
    return ran


def segment_counts(path: str) -> dict[str, int]:
    """C7 introspection: data files per shard directory."""
    fs = get_fs(path)
    out: dict[str, int] = {}
    for entry in fs.listdir(path):
        full = fs_join(path, entry)
        if entry.startswith(f"{SHARD_COL}=") and fs.isdir(full):
            out[entry] = len(
                [f for f in fs.listdir(full) if f.endswith(".parquet")]
            )
    return out
