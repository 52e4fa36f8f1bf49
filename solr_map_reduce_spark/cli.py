"""Command-line driver — the MapReduceIndexerTool analog (SURVEY §3.1).

The reference's primary interface is a CLI (MapReduceIndexerTool.java:98-501:
argparse4j surface with an exhaustive validation matrix, tested by
MapReduceIndexerToolArgumentParserTest).  This is the Spark-first analog:

    python -m solr_map_reduce_spark.cli index \
        --input /data/docs.parquet --format parquet \
        --output /tmp/idx --schema schema.json \
        --shards 4 --micro-shards 16 --dedup retain_most_recent \
        --order-field n_chars [--dry-run] [--publish-to /serving/idx]

    python -m solr_map_reduce_spark.cli merge \
        --path /tmp/idx --max-segments 1 --fanout 4

Validation rules mirror the reference where they still apply:
micro-shards must be a multiple of shards (SolrCloudPartitioner.java:132),
dedup strategy must be a registered resolver (MRIT:271-284), dry-run skips
the write (MRIT:346-350), merge fanout >= 2 (SolrMergeDriver.java:90-93).

Schema file format (JSON)::

    {"unique_key": "id",
     "fields": [{"name": "id", "type": "string", "required": true},
                {"name": "text", "type": "text_en"}],
     "dynamic_fields": [{"pattern": "extra_*", "type": "string"}]}
"""

from __future__ import annotations

import argparse
import json
import sys

DEDUP_CHOICES = ("retain_most_recent", "sort_updates", "reject", "none")


def _nprobe_arg(value: str):
    """argparse type for --nprobe: an int, 'auto' (build-time pick), or
    'adaptive' (per-query ε-ball closure) — clean argparse error on
    anything else, not a ValueError traceback."""
    if value in ("auto", "adaptive"):
        return value
    try:
        return int(value)
    except ValueError:
        raise argparse.ArgumentTypeError(
            f"expected an integer, 'auto', or 'adaptive', got {value!r}"
        ) from None


def load_schema(path: str):
    from solr_map_reduce_spark.schema import DynamicField, Field, IndexSchema

    with open(path) as f:
        spec = json.load(f)
    fields = tuple(
        Field(
            f["name"],
            f.get("type", "string"),
            required=f.get("required", False),
            multi_valued=f.get("multi_valued", False),
        )
        for f in spec["fields"]
    )
    dynamic = tuple(
        DynamicField(d["pattern"], d.get("type", "string"))
        for d in spec.get("dynamic_fields", [])
    )
    return IndexSchema(
        fields=fields, unique_key=spec["unique_key"], dynamic_fields=dynamic
    )


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="solr_map_reduce_spark", description=__doc__.splitlines()[0]
    )
    sub = p.add_subparsers(dest="command", required=True)

    idx = sub.add_parser("index", help="build a sharded index artifact")
    idx.add_argument("--input", nargs="+", required=True, help="input paths/globs")
    idx.add_argument("--format", default="parquet",
                     help="avro|csv|json|text|binary|parquet")
    idx.add_argument("--output", required=True)
    idx.add_argument("--schema", required=True, help="schema JSON file")
    idx.add_argument("--shards", type=int, default=1)
    idx.add_argument("--micro-shards", type=int, default=None,
                     help="write parallelism; multiple of --shards (reducers analog)")
    idx.add_argument("--dedup", choices=DEDUP_CHOICES, default="retain_most_recent")
    idx.add_argument("--order-field", default="file_last_modified")
    idx.add_argument("--tiebreak", nargs="*", default=())
    idx.add_argument("--max-segments", type=int, default=1)
    idx.add_argument("--max-records-per-file", type=int, default=None)
    idx.add_argument("--generate-keys-from", default=None,
                     help="synthesize base#seq keys from this column (B3)")
    idx.add_argument("--dry-run", action="store_true",
                     help="run the pipeline client-side, print docs, no write (A24)")
    idx.add_argument("--dry-run-rows", type=int, default=20)
    idx.add_argument("--publish-to", default=None,
                     help="atomically promote the artifact here after build (A21/A22)")
    idx.add_argument("--go-live", default=None, metavar="LIVE_PATH",
                     help="after build, merge the staged artifact INTO the "
                     "live serving artifact at LIVE_PATH (same-key docs "
                     "resolved, sidecars delta-maintained; staged left "
                     "intact).  When NO live artifact exists yet the "
                     "staged artifact is promoted wholesale instead — "
                     "it MOVES to LIVE_PATH and --output no longer "
                     "exists afterwards — the reference tool's --go-live "
                     "analog")
    idx.add_argument("--merge", action="store_true",
                     help="merge into an existing artifact at --output "
                     "(same-key docs replaced per the resolver, new keys "
                     "appended, only touched shards rewritten — the "
                     "reference tool's rerun-over-existing-output behavior)")
    idx.add_argument("--morphline-file", default=None,
                     help="HOCON morphline config; its read command sets the "
                          "input format and its commands run as the ETL "
                          "pipeline (the reference's --morphline-file)")
    idx.add_argument("--morphline-id", default=None,
                     help="which morphline in the config (default: first)")
    idx.add_argument("--term-blooms", action="store_true",
                     help="build per-shard term Bloom bitmaps (shard-pruned "
                          "term/phrase queries)")
    idx.add_argument("--search-stats", action="store_true",
                     help="store BM25 collection stats + term dictionary "
                          "(bm25 served from the artifact)")
    idx.add_argument("--codec", default=None,
                     help="parquet codec for artifact files (e.g. zstd)")
    idx.add_argument("--with-file-metadata", action="store_true",
                     help="attach file_* header columns (A6)")

    mrg = sub.add_parser("merge", help="compact an artifact (SolrMergeDriver analog)")
    mrg.add_argument("--path", required=True)
    mrg.add_argument("--max-segments", type=int, default=1)
    mrg.add_argument("--fanout", type=int, default=4)
    mrg.add_argument("--defer-deletion", action="store_true",
                     help="keep replaced intermediates as <path>._old.N "
                     "instead of deleting (SolrMergeDriver --defer-deletion)")

    qry = sub.add_parser("query", help="query a built artifact (C1-C7 surface)")
    qry.add_argument("--path", required=True)
    qry.add_argument("--count", action="store_true", help="C1 match-all count")
    qry.add_argument("--get", default=None, metavar="KEY", help="C2 point lookup")
    qry.add_argument("--q", default=None, metavar="QUERY",
                     help="boolean query (Solr syntax subset: terms, "
                          "\"phrases\", AND/OR/NOT with prohibit '-', "
                          "parens, field:value, ranges n:[lo TO hi], "
                          "wildcards run*; default operator OR)")
    qry.add_argument("--q-op", default="OR", choices=("OR", "AND"),
                     help="default operator for juxtaposed clauses "
                          "(Solr q.op)")
    qry.add_argument("--attach", action="append", metavar="NAME=PATH",
                     help="mount another artifact for {!join "
                          "fromIndex=NAME ...} cross-collection joins "
                          "(repeatable)")
    qry.add_argument("--allow-path-from-index", action="store_true",
                     help="let {!join fromIndex=} open unregistered "
                          "names as artifact paths (off by default: "
                          "query text can read arbitrary directories; "
                          "Solr errors on an unknown core)")
    qry.add_argument("--facet", default=None, metavar="FIELD", help="facet counts")
    qry.add_argument("--range-facet", default=None, nargs=4,
                     metavar=("FIELD", "START", "END", "GAP"),
                     help="Solr facet.range: numeric bucket counts")
    qry.add_argument("--pivot", default=None, nargs=2, metavar=("F1", "F2"),
                     help="Solr facet.pivot=f1,f2 (use --limit for per-level top-k)")
    qry.add_argument("--stats", default=None, metavar="FIELD",
                     help="Solr stats component over a numeric field")
    qry.add_argument("--group", default=None, metavar="FIELD",
                     help="Solr result grouping (with --sort / --limit as "
                          "group.limit)")
    qry.add_argument("--spellcheck", default=None, metavar="TERM",
                     help="did-you-mean suggestions from the term dictionary")
    qry.add_argument("--collate", default=None, metavar="WORDS", nargs="+",
                     help="spellcheck.collate: whole-query corrections "
                          "with verified hit counts (--limit caps "
                          "collations)")
    qry.add_argument("--terms", default=None, metavar="PREFIX", const="",
                     nargs="?",
                     help="TermsComponent: enumerate indexed terms with df "
                          "from the term dictionary (optional prefix; "
                          "--limit caps; sorted by df desc)")
    qry.add_argument("--json-facet", default=None, metavar="JSON",
                     help="Solr JSON Facet API request (json.facet=): a "
                          "JSON spec — terms/range/query facets with "
                          "stat/query/relatedness subfacets, domains, one "
                          "nested level — rendered one row per innermost "
                          "bucket")
    qry.add_argument("--cursor", default=None, metavar="MARK",
                     help="cursorMark deep paging: '*' starts a sweep; pass "
                          "the printed nextCursorMark for the next page "
                          "(needs --sort)")
    qry.add_argument("--filter", nargs="*", default=(), metavar="COL=VALUE")
    qry.add_argument("--sort", default=None, metavar="COL[:desc]")
    qry.add_argument("--limit", type=int, default=10)
    qry.add_argument("--select", nargs="*", default=None)
    qry.add_argument("--write", default=None, metavar="FORMAT:PATH",
                     help="write the result set distributed (parquet:/out, "
                          "csv:/out, json:/out) instead of printing rows — "
                          "the export path never collects to the driver")
    qry.add_argument("--segments", action="store_true", help="C7 layout introspection")
    qry.add_argument("--luke", nargs="?", const=0, default=None, type=int,
                     metavar="TOP_TERMS",
                     help="index + per-field introspection (Solr "
                          "/admin/luke): one aggregate pass; pass a "
                          "number to add each analyzed field's top-df "
                          "terms from the dictionary sidecar")

    upd = sub.add_parser(
        "update",
        help="atomic field updates against a built artifact (Solr set "
        "semantics; O(touched shards))",
    )
    upd.add_argument("--input", nargs="+", required=True,
                     help="update rows: unique key + the columns to set")
    upd.add_argument("--format", default="parquet")
    upd.add_argument("--path", required=True, help="artifact to update")
    upd.add_argument("--schema", required=True, help="schema JSON file")
    upd.add_argument("--shards", type=int, default=1)
    upd.add_argument("--micro-shards", type=int, default=None)
    upd.add_argument("--routing", choices=("solr", "native"), default="solr")
    upd.add_argument("--missing", choices=("error", "skip", "insert"),
                     default="error",
                     help="policy for update keys with no stored document")
    upd.add_argument("--op", nargs="*", default=(), metavar="COL=OP",
                     help="atomic op per column (set|inc|add|add-distinct|"
                          "remove); unlisted columns use set")

    ulk = sub.add_parser(
        "unlock",
        help="inspect / force-clear a stale mutation lock left by a "
        "crashed mutator (prints owner pid/host/ts; refuses without "
        "--force)",
    )
    ulk.add_argument("--path", required=True, help="locked artifact")
    ulk.add_argument("--force", action="store_true",
                     help="actually remove the lock (default: inspect only)")

    ana = sub.add_parser(
        "analyze",
        help="show how text tokenizes under a fieldType (the Solr "
             "/analysis debug endpoint) — runs driver-side, no Spark job",
    )
    ana.add_argument("--type", required=True, help="analyzer fieldType name")
    ana.add_argument("--text", required=True, nargs="+",
                     help="text to analyze (joined with spaces)")

    stm = sub.add_parser(
        "stream",
        help="run a Solr streaming expression (the /stream DSL) over "
             "named collections — rollup/hashJoin/having/... compile to "
             "DataFrame plans",
    )
    stm.add_argument("--expr", required=True,
                     help="the streaming expression string")
    stm.add_argument(
        "--collection", nargs="+", required=True, metavar="NAME=PATH",
        help="collection bindings: an index-artifact path (gets q= "
             "pushdown + Bloom pruning) or a plain parquet path",
    )
    stm.add_argument("--limit", type=int, default=None,
                     help="cap printed rows (the plan is unchanged)")
    stm.add_argument(
        "--checkpoint-dir", default=None,
        help="directory for topic() checkpoints; topics commit after "
             "the rows print (crash before print re-delivers — "
             "at-least-once, Solr's topic contract)",
    )
    stm.add_argument(
        "--now", default=None,
        help="pin date-math NOW (Solr's NOW= request param): epoch "
             "millis or an ISO-8601 instant",
    )

    sq = sub.add_parser(
        "sql",
        help="run a Solr Parallel SQL statement (the /sql handler "
             "dialect) over named collections — SELECT/WHERE/GROUP BY/"
             "HAVING/ORDER BY/LIMIT compile to DataFrame plans; equality "
             "on an analyzed text field is a full-text match",
    )
    sq.add_argument("--stmt", required=True, help="the SQL statement")
    sq.add_argument(
        "--collection", nargs="+", required=True, metavar="NAME=PATH",
        help="collection bindings: an index-artifact path (text "
             "predicates + Bloom pruning) or a plain parquet path",
    )
    sq.add_argument("--limit", type=int, default=None,
                    help="cap printed rows (the plan is unchanged)")

    top = sub.add_parser(
        "topic",
        help="checkpointed incremental pull from a doc_versions artifact "
             "(Solr TopicStream): prints docs newer than the checkpoint; "
             "--commit advances it afterwards",
    )
    top.add_argument("--path", required=True, help="versioned artifact")
    top.add_argument("--checkpoint", required=True,
                     help="checkpoint JSON path (consumer-owned)")
    top.add_argument("--q", default=None, help="optional boolean query scope")
    top.add_argument("--field", default=None, help="default query field")
    top.add_argument("--select", nargs="*", default=None, help="fl projection")
    top.add_argument("--limit", type=int, default=None,
                     help="cap printed rows — inspection only; refuses to "
                          "combine with --commit (the checkpoint would "
                          "skip the unprinted rows)")
    top.add_argument("--commit", action="store_true",
                     help="advance the checkpoint after printing")

    bak = sub.add_parser(
        "backup",
        help="consistent point-in-time artifact copy (runs under the "
             "mutation lock; crash-safe staged rename)",
    )
    bak.add_argument("--path", required=True, help="artifact to back up")
    bak.add_argument("--dest", required=True, help="backup destination dir")

    rst = sub.add_parser(
        "restore",
        help="promote a backup to the live location (atomic publish "
             "swap; the backup stays intact)",
    )
    rst.add_argument("--backup", required=True, help="completed backup dir")
    rst.add_argument("--path", required=True, help="live artifact location")

    ann = sub.add_parser(
        "ann-build",
        help="build the ANN serving sidecar for a vector field — after "
             "this, {!knn f=<field>} serves from partition-pruned IVF "
             "probes instead of a per-query corpus scan",
    )
    ann.add_argument("--path", required=True, help="artifact location")
    ann.add_argument("--field", required=True, help="vector column name")
    ann.add_argument(
        "--kind", choices=("ivf", "ivfpq"), default="ivf",
        help="ivf stores raw vectors per bucket (exact in-probe "
             "distances); ivfpq stores ~32x-smaller PQ codes (ADC)",
    )
    ann.add_argument("--n-centroids", type=int, default=16)
    ann.add_argument(
        "--nprobe", default=2, type=_nprobe_arg,
        help="serving default (int; 'auto' picks the smallest nprobe "
             "meeting --target-recall on a held-out sample; 'adaptive' "
             "calibrates a per-query closure ratio — each query probes "
             "the buckets within tau x its nearest-centroid distance), "
             "overridable per-query via nprobe=",
    )
    ann.add_argument(
        "--target-recall", type=float, default=0.9,
        help="the recall@10 the auto/adaptive nprobe calibration must "
             "meet (only used with --nprobe auto|adaptive)",
    )

    annc = sub.add_parser(
        "ann-compact",
        help="fold an ANN sidecar's upsert delta + tombstones back into "
             "its base buckets (the ANN analog of segment optimize)",
    )
    annc.add_argument("--path", required=True, help="artifact location")
    annc.add_argument("--field", required=True, help="vector column name")

    prof = sub.add_parser(
        "profile", help="per-column stats (nulls, cardinality, ranges) in one pass"
    )
    prof.add_argument("--input", nargs="+", required=True, help="input paths/globs")
    prof.add_argument("--format", default="parquet")
    prof.add_argument("--columns", nargs="*", default=None)
    prof.add_argument("--exact", action="store_true",
                      help="exact distinct counts (default: HLL++ sketch)")
    return p


def validate(args: argparse.Namespace) -> None:
    if args.command == "index":
        if args.shards < 1:
            raise SystemExit("--shards must be >= 1")
        micro = args.micro_shards or args.shards
        if micro % args.shards != 0:
            raise SystemExit(
                f"--micro-shards ({micro}) must be a multiple of --shards "
                f"({args.shards})"
            )
        if args.max_segments < 1:
            raise SystemExit("--max-segments must be >= 1")
        if args.micro_shards is not None and args.micro_shards < 1:
            raise SystemExit("--micro-shards must be >= 1")
        if args.max_records_per_file is not None and args.max_records_per_file < 1:
            raise SystemExit("--max-records-per-file must be >= 1")
        if args.dry_run_rows < 1:
            raise SystemExit("--dry-run-rows must be >= 1")
        # the reference tool rejects dry-run combined with go-live/output
        # mutation modes (MRIT verifyGoLiveArgs / --dry-run semantics):
        # a dry run writes nothing, so there is nothing to publish or merge
        if args.dry_run and args.publish_to:
            raise SystemExit("--dry-run writes nothing; drop --publish-to")
        if args.dry_run and args.merge:
            raise SystemExit("--dry-run writes nothing; drop --merge")
        if args.dry_run and args.go_live:
            raise SystemExit("--dry-run writes nothing; drop --go-live")
        if args.publish_to and args.go_live:
            raise SystemExit(
                "--publish-to (wholesale promote) and --go-live (merge into "
                "live) are different promotion modes; pick one"
            )
    elif args.command == "merge":
        if args.fanout < 2:
            raise SystemExit("--fanout must be >= 2")
        if args.max_segments < 1:
            raise SystemExit("--max-segments must be >= 1")
    elif args.command == "topic":
        if args.limit is not None and args.commit:
            raise SystemExit(
                "--limit with --commit would advance the checkpoint past "
                "rows that were never printed (permanent loss); drop one"
            )
    elif args.command == "query":
        if args.q is not None and args.get is not None:
            raise SystemExit(
                "--get is a point lookup by key; it cannot combine with "
                "--q (use --q with --select/--sort/--limit, or --count)"
            )


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    validate(args)

    if args.command == "analyze":
        # the Solr /analysis debug endpoint: pure driver-side row kernels,
        # no Spark session — instant feedback on tokenization
        from solr_map_reduce_spark.functions.analyzers import (
            ANALYZERS,
            PY_ANALYZERS,
        )

        if args.type not in PY_ANALYZERS and args.type not in ANALYZERS:
            print(
                f"unknown fieldType {args.type!r}; known: "
                f"{', '.join(sorted(set(ANALYZERS) | set(PY_ANALYZERS)))}",
                file=sys.stderr,
            )
            return 2
        text = " ".join(args.text)
        kernel = PY_ANALYZERS.get(args.type)
        if kernel is None:
            print(f"fieldType {args.type!r} has no driver-side kernel",
                  file=sys.stderr)
            return 2
        print(json.dumps({"type": args.type, "text": text,
                          "tokens": kernel(text)}, ensure_ascii=False))
        return 0

    if args.command in ("backup", "restore"):
        # control-plane only: local paths need no Spark session; URI
        # schemes (hdfs://, s3a://) go through the session's Hadoop FS
        from urllib.parse import urlparse

        from solr_map_reduce_spark.indexing import backup, restore

        paths = (
            (args.path, args.dest) if args.command == "backup"
            else (args.backup, args.path)
        )
        sess = None
        if any(urlparse(str(p)).scheme for p in paths):
            from solr_map_reduce_spark.session import get_spark

            sess = get_spark(app_name=f"smrs-cli-{args.command}")
        if args.command == "backup":
            print(json.dumps(backup(args.path, args.dest, sess)))
        else:
            print(json.dumps(restore(args.backup, args.path, sess)))
        return 0

    if args.command == "ann-build":
        from solr_map_reduce_spark.index_reader import SearchIndex
        from solr_map_reduce_spark.session import get_spark

        sess = get_spark(app_name="smrs-cli-ann-build")
        idx = SearchIndex.open(sess, args.path)
        side = idx.build_ann(
            args.field, kind=args.kind, n_centroids=args.n_centroids,
            nprobe=args.nprobe, target_recall=args.target_recall,
        )
        from solr_map_reduce_spark.extensions.ann_sidecar import load_meta
        from solr_map_reduce_spark.fs import get_fs

        meta = load_meta(get_fs(side, sess), side) or {}
        print(json.dumps({
            "sidecar": side, "field": args.field, "kind": args.kind,
            "n_centroids": args.n_centroids, "nprobe": meta.get("nprobe"),
            **({"nprobe_auto": meta["nprobe_auto"]}
               if "nprobe_auto" in meta else {}),
            **({"adaptive": meta["adaptive"]}
               if "adaptive" in meta else {}),
        }))
        return 0

    if args.command == "ann-compact":
        from solr_map_reduce_spark.index_reader import SearchIndex
        from solr_map_reduce_spark.session import get_spark

        sess = get_spark(app_name="smrs-cli-ann-compact")
        out = SearchIndex.open(sess, args.path).compact_ann(args.field)
        print(json.dumps(out))
        return 0

    if args.command == "unlock":
        # driver-side control plane only — no Spark session needed for
        # local paths (URI schemes reuse an active session if one exists)
        from solr_map_reduce_spark.indexing import (
            clear_mutation_lock,
            inspect_mutation_lock,
        )

        info = inspect_mutation_lock(args.path)
        if info is None:
            print(json.dumps({"locked": False}))
            return 0
        if not args.force:
            print(json.dumps({
                "locked": True, "removed": False, "owner": info,
                "hint": "re-run with --force after verifying the owner "
                        "process is dead",
            }, default=str))
            return 1
        removed = clear_mutation_lock(args.path)
        print(json.dumps({"locked": True, "removed": removed, "owner": info},
                         default=str))
        return 0

    from solr_map_reduce_spark.session import get_spark

    spark = get_spark(app_name=f"smrs-cli-{args.command}")

    if args.command == "merge":
        from solr_map_reduce_spark.indexing import merge_driver, segment_counts

        ran = merge_driver(
            spark, args.path, max_segments=args.max_segments, fanout=args.fanout,
            defer_deletion=args.defer_deletion,
        )
        print(json.dumps({"iterations": ran, "segments": segment_counts(args.path)}))
        return 0

    if args.command == "query":
        from solr_map_reduce_spark.index_reader import MultiIndex, SearchIndex

        # a comma-separated --path is a collection ALIAS (MultiIndex):
        # the query fans out to every member's own pruned scan.  The
        # alias serves the core read surface (count/get/q/filter/sort/
        # select/facet); per-artifact components name a single path
        if "," in args.path:
            idx = MultiIndex.open(
                spark, [p for p in args.path.split(",") if p]
            )
            unsupported = [
                flag for flag, val in (
                    ("--segments", args.segments),
                    ("--range-facet", args.range_facet),
                    ("--pivot", args.pivot),
                    ("--stats", args.stats),
                    ("--group", args.group),
                    ("--cursor", args.cursor),
                    ("--spellcheck", args.spellcheck),
                    ("--collate", args.collate),
                    ("--terms", args.terms),
                    ("--json-facet", args.json_facet),
                    ("--luke", args.luke),
                    ("--attach", args.attach),
                ) if val is not None and val is not False
            ]
            if unsupported:
                print(
                    f"{', '.join(unsupported)} need a single artifact "
                    "--path (alias serves count/get/--q/--facet/--filter/"
                    "--sort/--select)",
                    file=sys.stderr,
                )
                return 2
        else:
            idx = SearchIndex.open(spark, args.path)
        for spec in args.attach or []:
            # {!join fromIndex=name} targets: name=path mounts
            if "=" not in spec:
                print(f"--attach wants name=path, got {spec!r}",
                      file=sys.stderr)
                return 2
            cname, cpath = spec.split("=", 1)
            idx.attach_collection(cname, SearchIndex.open(spark, cpath))
        if getattr(args, "allow_path_from_index", False):
            idx.allow_path_from_index = True
        if args.count:
            n = idx.query(args.q).count() if args.q else idx.count()
            print(json.dumps({"count": n}))
        elif args.segments:
            print(json.dumps({"segments": idx.segment_counts()}))
        elif args.luke is not None:
            print(json.dumps(idx.luke(top_terms=args.luke), default=str))
        elif args.get is not None:
            for r in idx.get(args.get).collect():
                print(json.dumps(r.asDict(), default=str))
        elif args.facet is not None:
            for r in idx.facet(args.facet, top=args.limit, q=args.q).collect():
                print(json.dumps(r.asDict(), default=str))
        elif args.range_facet is not None:
            fld, lo, hi, gap = args.range_facet
            rf = idx.range_facet(fld, float(lo), float(hi), float(gap), q=args.q)
            for r in rf.collect():
                print(json.dumps(r.asDict(), default=str))
        elif args.pivot is not None:
            pv = idx.pivot_facet(list(args.pivot), top=args.limit, q=args.q)
            for r in pv.collect():
                print(json.dumps(r.asDict(), default=str))
        elif args.json_facet is not None:
            try:
                spec = json.loads(args.json_facet)
            except json.JSONDecodeError as exc:
                print(f"--json-facet is not valid JSON: {exc}",
                      file=sys.stderr)
                return 2
            jf = idx.json_facet(
                spec, q=args.q,
                filters=dict(kv.split("=", 1) for kv in args.filter)
                or None,
            )
            for r in jf.collect():
                print(json.dumps(r.asDict(), default=str))
        elif args.spellcheck is not None:
            for r in idx.spellcheck(args.spellcheck, top=args.limit).collect():
                print(json.dumps(r.asDict(), default=str))
        elif args.collate is not None:
            rows = idx.spellcheck_collate(
                args.collate, max_collations=args.limit
            ).collect()
            for r in rows:
                print(json.dumps(r.asDict(), default=str))
        elif args.terms is not None:
            rows = idx.terms(
                prefix=args.terms or None, limit=args.limit
            ).collect()
            for r in rows:
                print(json.dumps(r.asDict(), default=str))
        elif args.stats is not None:
            row = idx.stats(args.stats, q=args.q).collect()[0]
            print(json.dumps(row.asDict(), default=str))
        elif args.group is not None:
            g_sort = None
            if args.sort:
                col, _, direction = args.sort.partition(":")
                g_sort = (col, direction or "asc")
            rows = idx.grouped(
                args.group, sort=g_sort, group_limit=args.limit, q=args.q,
                select=args.select,
            ).collect()
            for r in rows:
                print(json.dumps(r.asDict(), default=str))
        elif args.cursor is not None:
            if not args.sort:
                print("--cursor needs --sort", file=sys.stderr)
                return 2
            col, _, direction = args.sort.partition(":")
            rows, nxt = idx.cursor_page(
                sort=[(col, direction or "asc")], limit=args.limit,
                cursor_mark=args.cursor, q=args.q,
                filters=dict(kv.split("=", 1) for kv in args.filter) or None,
                select=args.select,
            )
            for r in rows:
                print(json.dumps(r.asDict(), default=str))
            print(json.dumps({"nextCursorMark": nxt}))
        else:
            filters = dict(kv.split("=", 1) for kv in args.filter)
            sort = None
            if args.sort:
                col, _, direction = args.sort.partition(":")
                sort = [(col, direction or "asc")]
            out = idx.search(
                filters=filters or None, sort=sort,
                limit=None if args.write else args.limit,
                select=args.select, q=args.q, op=args.q_op,
            )
            if args.write:
                fmt, _, dest = args.write.partition(":")
                if fmt not in ("parquet", "csv", "json") or not dest:
                    print("--write takes FORMAT:PATH with format parquet|"
                          "csv|json", file=sys.stderr)
                    return 2
                # distributed export: the FULL result set (no --limit cap)
                # writes executor-side — nothing collects to the driver
                w = out.write.mode("overwrite")
                if fmt == "csv":
                    w = w.option("header", "true")
                w.format(fmt).save(dest)
                print(json.dumps({"written": dest, "format": fmt}))
            else:
                for r in out.collect():
                    print(json.dumps(r.asDict(), default=str))
        return 0

    if args.command == "stream":
        from solr_map_reduce_spark.extensions.stream_expr import StreamCompiler
        from solr_map_reduce_spark.fs import get_fs
        from solr_map_reduce_spark.fs import join as fs_join
        from solr_map_reduce_spark.index_reader import SearchIndex
        from solr_map_reduce_spark.indexing import MANIFEST

        sources = {}
        for binding in args.collection:
            if "=" not in binding:
                raise SystemExit(
                    f"--collection takes NAME=PATH bindings, got {binding!r}"
                )
            name, path = binding.split("=", 1)
            fs = get_fs(path, spark)
            if fs.exists(fs_join(path, MANIFEST)):
                sources[name] = SearchIndex.open(spark, path)
            else:
                sources[name] = spark.read.parquet(path)
        comp = StreamCompiler(sources, checkpoint_dir=args.checkpoint_dir)
        if args.now is not None:
            from solr_map_reduce_spark.functions.datemath import (
                fixed_now,
                parse_now_param,
            )

            with fixed_now(parse_now_param(args.now)):
                out = comp.run(args.expr)
        else:
            out = comp.run(args.expr)
        if args.limit is not None:
            out = out.limit(args.limit)
        for r in out.collect():
            print(json.dumps(r.asDict(), default=str))
        # the rows are printed == consumed: advance topic() checkpoints
        comp.commit_topics()
        return 0

    if args.command == "sql":
        from solr_map_reduce_spark.extensions.sql import SqlEngine
        from solr_map_reduce_spark.fs import get_fs
        from solr_map_reduce_spark.fs import join as fs_join
        from solr_map_reduce_spark.index_reader import SearchIndex
        from solr_map_reduce_spark.indexing import MANIFEST

        sources = {}
        for binding in args.collection:
            if "=" not in binding:
                raise SystemExit(
                    f"--collection takes NAME=PATH bindings, got {binding!r}"
                )
            name, path = binding.split("=", 1)
            fs = get_fs(path, spark)
            if fs.exists(fs_join(path, MANIFEST)):
                sources[name] = SearchIndex.open(spark, path)
            else:
                sources[name] = spark.read.parquet(path)
        out = SqlEngine(sources).sql(args.stmt)
        if args.limit is not None:
            out = out.limit(args.limit)
        for r in out.collect():
            print(json.dumps(r.asDict(), default=str))
        return 0

    if args.command == "topic":
        from solr_map_reduce_spark.index_reader import Topic

        topic = Topic(spark, args.path, args.checkpoint,
                      q=args.q, field=args.field)
        batch, wm = topic.pull()
        if args.select:
            batch = batch.select(*args.select)
        if args.limit is not None:
            batch = batch.limit(args.limit)
        n = 0
        for r in batch.collect():
            print(json.dumps(r.asDict(), default=str))
            n += 1
        if args.commit:
            topic.commit(wm)
        print(json.dumps({"pulled": n, "watermark": wm,
                          "committed": bool(args.commit)}), file=sys.stderr)
        return 0

    if args.command == "profile":
        from solr_map_reduce_spark.operators.stats import profile
        from solr_map_reduce_spark.sources.readers import read_input

        df = read_input(spark, args.input, format=args.format)
        for r in profile(df, cols=args.columns, exact=args.exact).collect():
            print(json.dumps(r.asDict(), default=str))
        return 0

    if args.command == "update":
        from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig
        from solr_map_reduce_spark.sources.readers import read_input

        job = IndexJob(
            IndexJobConfig(
                schema=load_schema(args.schema),
                shards=args.shards,
                micro_shards=args.micro_shards,
                routing=args.routing,
            )
        )
        updates = read_input(spark, args.input, format=args.format)
        ops = dict(kv.split("=", 1) for kv in args.op) or None
        job.update_fields(updates, args.path, missing=args.missing, ops=ops)
        print(json.dumps({"updated_from": args.input, "path": args.path}))
        return 0

    from solr_map_reduce_spark.indexing import IndexJob, IndexJobConfig, publish
    from solr_map_reduce_spark.operators.metadata import enrich_file_metadata
    from solr_map_reduce_spark.sources.readers import read_input

    schema = load_schema(args.schema)
    pipeline = None
    fmt = args.format
    if args.morphline_file:
        from solr_map_reduce_spark.plans.hocon import compile_morphline

        with open(args.morphline_file) as f:
            compiled = compile_morphline(
                f.read(), schema=schema, morphline_id=args.morphline_id
            )
        pipeline = compiled.pipeline
        if compiled.input_format:
            fmt = compiled.input_format
        read_options = compiled.read_options
    else:
        read_options = {}
    df = read_input(spark, args.input, format=fmt, **read_options)
    if args.with_file_metadata:
        df = enrich_file_metadata(df)
    if pipeline is not None:
        df = pipeline.run(df)
    job = IndexJob(
        IndexJobConfig(
            schema=schema,
            shards=args.shards,
            micro_shards=args.micro_shards,
            dedup=args.dedup,
            order_field=args.order_field,
            tiebreak=tuple(args.tiebreak),
            max_segments=args.max_segments,
            max_records_per_file=args.max_records_per_file,
            term_blooms=args.term_blooms,
            search_stats=args.search_stats,
            codec=args.codec,
        )
    )
    if args.dry_run:
        rows = job.dry_run(df, args.generate_keys_from, n=args.dry_run_rows)
        for r in rows:
            print(json.dumps(r.asDict(), default=str))
        return 0
    if args.merge:
        manifest = job.merge_into(
            df, args.output, generate_keys_from=args.generate_keys_from
        )
    else:
        manifest = job.build(df, args.output, generate_keys_from=args.generate_keys_from)
    if args.publish_to:
        publish(args.output, args.publish_to)
        manifest["published_to"] = args.publish_to
    if args.go_live:
        job.go_live(spark, args.output, args.go_live)
        manifest["went_live_to"] = args.go_live
    print(json.dumps(manifest))
    return 0


if __name__ == "__main__":
    sys.exit(main())
