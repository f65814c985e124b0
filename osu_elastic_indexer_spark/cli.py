"""CLI — re-expression of the reference's command surface (SURVEY.md §2.10).

Reference commands (Program.cs:10-13, Commands/IndexCommands.cs,
Commands/QueueCommands.cs) and their analogs here:

  queue watch                         -> queue-watch / build --incremental
  queue pump-all [--from|--switch]    -> build --full [--resume] [--switch]
                 [--where] [--include-unranked]   [--where] [--include-all-langs]
  queue pump-score / pump-file        -> queue-push-doc / queue-push
  queue clear-queue                   -> queue-clear
  (queue length gauge)                -> queue-depth
  index list                          -> index-list (w/ consistency audit)
  (DogStatsd per-batch tags)          -> metrics-tail (U2 event stream)
  index close|open|delete|nuke        -> same names
  index alias {schema} [--close]      -> alias {schema} [--close]
  schema get/set, active-schemas ...  -> schema-get / schema-set / schemas
  search (delegated to ES)            -> search "query text" [-k 10]
  (ES bool query)                     -> search --must ... [--should ...]
                                           [--must-not ...] [--filter ...]
                                           [--minimum-should-match N]
                                           [--filter-url-range LO HI]
                                           [--filter-term FIELD=VALUE]
                                           [--filter-exists FIELD] [--local]
  (ES sort query / doc values)        -> search --sort FIELD [--sort-asc]
                                           [--filter-term ...] [--filter-range ...]
                                           [--after VALUE DOC_ID]  (search_after)
  (ES per-clause boost)               -> search --must "a" --should "b^2.5"
  (ES terms / stats aggregations)     -> search --terms-agg FIELD | --stats-agg FIELD
  (ES prefix query)                   -> search --prefix p [--max-expansions N]
  (ES match_phrase_prefix)            -> search --phrase-prefix "hash jo"
  (ES match_phrase [+slop])           -> search --phrase "..." [--source src.parquet]
                                           (--source optional on --positions builds)

Run with spark-submit (cluster) or plain python (local):
  python -m osu_elastic_indexer_spark.cli build --input docs.parquet \
      --root /tmp/idx --schema v1 --full
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(args):
    from .session import get_spark

    return get_spark("oei-cli", cores=args.cores)


def cmd_build(args) -> int:
    from .operators.build import build_index
    from .sources.catalog import Catalog
    from .streaming.incremental import backfill_with_switch, incremental_update

    spark = _spark(args)
    cat = Catalog(args.root, alias=args.alias)
    docs = spark.read.parquet(args.input)
    if args.incremental:
        m = incremental_update(spark, docs, cat, args.schema)
    elif args.switch:
        m = backfill_with_switch(spark, docs, docs, cat, args.schema)
    else:
        m = build_index(
            spark, docs, cat, args.schema, resume=args.resume,
            where=args.where, include_all_langs=args.include_all_langs,
            positions=args.positions, keyword_fields=args.keyword_fields,
            numeric_fields=tuple(args.numeric_fields or ()),
        )
    print(json.dumps({"index": m["index_name"], "counters": m["counters"],
                      "cursor": m["cursor"], "generations": m["generations"]}))
    return 0


def cmd_queue_push(args) -> int:
    """pump-file analog: enqueue a parquet of document rows."""
    from .streaming.watch import push_batch

    spark = _spark(args)
    push_batch(spark, spark.read.parquet(args.input), args.queue_dir)
    print(json.dumps({"queued": args.input}))
    return 0


def cmd_queue_push_doc(args) -> int:
    """pump-score analog: enqueue ONE document (or a delete when --delete)."""
    from .streaming.watch import push_doc

    spark = _spark(args)
    push_doc(
        spark, args.queue_dir, args.url,
        None if args.delete else args.text, lang=args.lang,
    )
    print(json.dumps({"queued_url": args.url, "delete": args.delete}))
    return 0


def cmd_queue_clear(args) -> int:
    from .streaming.watch import clear_queue

    print(json.dumps({"removed_files": clear_queue(args.queue_dir)}))
    return 0


def cmd_queue_depth(args) -> int:
    from .sources.catalog import Catalog
    from .streaming.watch import queue_depth

    ckpt = None
    if args.schema:
        cat = Catalog(args.root, alias=args.alias)
        ckpt = f"{cat.index_dir(args.schema)}/_stream_checkpoint"
    print(json.dumps(queue_depth(args.queue_dir, ckpt)))
    return 0


def cmd_queue_watch(args) -> int:
    from .sources.catalog import Catalog
    from .streaming.watch import watch

    spark = _spark(args)
    cat = Catalog(args.root, alias=args.alias)
    m = watch(
        spark, args.queue_dir, cat, args.schema,
        available_now=not args.follow,
        max_files_per_trigger=args.max_files or None,
        compact_every=args.compact_every or None,
    )
    print(json.dumps({"counters": m["counters"], "queue": m.get("queue")}))
    return 0


def _parse_boosted(text):
    """Lucene query-string boost syntax for scored CLI clauses: tokens
    suffixed ``^FACTOR`` ("merge^2.5") become boosted clause items
    (boolquery._normalize_spec dict form); everything else passes through
    as plain text."""
    if not text:
        return text
    items: list = []
    plain: list[str] = []
    for tok in str(text).split():
        base, sep, factor = tok.rpartition("^")
        if sep and base:
            try:
                items.append({"query": base, "boost": float(factor)})
                continue
            except ValueError:
                pass  # not a number after ^ -> treat as plain text
        plain.append(tok)
    if not items:
        return text
    if plain:
        items.append(" ".join(plain))
    return items


def _jsonable(v):
    import datetime

    import numpy as np

    if isinstance(v, (np.floating, np.integer)):
        return v.item()
    if isinstance(v, np.datetime64):
        return str(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    return v


def cmd_search(args) -> int:
    from .sources.catalog import Catalog

    cat = Catalog(args.root, alias=args.alias)
    idx = cat.index_dir(args.schema) if args.schema else cat.current_index_dir()
    spec = None
    agg_mode = args.terms_agg or args.stats_agg
    bool_clauses = (
        args.must or args.should or args.must_not or args.filter
        or ((args.filter_url_range or args.filter_term or args.filter_range
             or args.filter_exists)
            and not (args.sort or agg_mode))
    )
    modes = sum(
        1 for v in (args.query, args.prefix, args.phrase,
                    args.phrase_prefix, bool_clauses, args.sort, agg_mode)
        if v
    )
    if modes != 1:
        raise SystemExit(
            "search: give exactly one of free text, --prefix, --phrase, "
            "--phrase-prefix, --sort, --terms-agg, --stats-agg, or bool "
            "clauses"
        )
    if args.phrase_prefix and args.local:
        raise SystemExit(
            "search: --phrase-prefix is a Spark-path query (no serving-"
            "tier implementation yet) — drop --local"
        )
    if args.phrase and not args.source:
        from .operators.boolquery import index_has_positions

        if not index_has_positions(idx):
            raise SystemExit(
                "search: --phrase needs --source (url, html parquet) on a "
                "positions-free index; build with --positions to drop it"
            )
    fr: dict[str, tuple] = {}
    if args.filter_url_range:
        fr["url"] = tuple(args.filter_url_range)
    for field, lo, hi in args.filter_range or ():
        def _bound(v, f=field):
            if v == "null":
                return None
            if f in ("url", "warc_ts"):
                return v  # string-typed structured fields stay strings
            try:
                return float(v)
            except ValueError:
                return v
        fr[field] = (_bound(lo), _bound(hi))
    ft: dict[str, list[str]] = {}
    for kv in args.filter_term or ():
        field, sep, value = kv.partition("=")
        if not sep or not field:
            raise SystemExit(
                f"--filter-term expects FIELD=VALUE, got {kv!r}"
            )
        ft.setdefault(field, []).append(value)
    after = None
    if getattr(args, "after", None):
        av, ad = args.after
        if av == "null":
            av = None
        else:
            # float-coerce the cursor ONLY for declared numeric sort
            # fields: a numeric-looking cursor on a KEYWORD sort must stay
            # a string (float would null-cast the Spark column and
            # str-vs-float compare in the serve path — ADVICE r6)
            from .operators.boolquery import index_numeric_fields

            if args.sort in index_numeric_fields(idx):
                try:
                    av = float(av)
                except ValueError:
                    pass
        after = (av, int(ad))
    if bool_clauses:
        spec = {"must": _parse_boosted(args.must),
                "should": _parse_boosted(args.should),
                "must_not": args.must_not}
        if args.filter:
            spec["filter"] = args.filter
        if fr:
            spec["filter_range"] = fr
        if ft:
            spec["filter_term"] = ft
        if args.filter_exists:
            spec["filter_exists"] = list(args.filter_exists)
        if args.minimum_should_match:
            spec["minimum_should_match"] = args.minimum_should_match
    if args.local:
        # serving path: no Spark session, millisecond latency
        from .operators.serve import LocalSearcher

        searcher = LocalSearcher(idx)
        if args.terms_agg:
            for val, cnt in searcher.agg_terms(
                args.terms_agg, args.k,
                filter_term=ft or None, filter_range=fr or None,
            ):
                print(json.dumps({args.terms_agg: _jsonable(val),
                                  "doc_count": cnt}))
            return 0
        if args.stats_agg:
            print(json.dumps(searcher.agg_stats(
                args.stats_agg,
                filter_term=ft or None, filter_range=fr or None,
            )))
            return 0
        if args.sort:
            res = searcher.search_sort(
                args.sort, args.k, ascending=args.sort_asc,
                filter_term=ft or None, filter_range=fr or None,
                after=after,
            )
            for rank, (doc_id, val) in enumerate(res, 1):
                print(json.dumps({"rank": rank, "doc_id": doc_id,
                                  args.sort: _jsonable(val)}))
            return 0
        if spec is not None:
            res = searcher.search_bool(spec, args.k)
        elif args.prefix:
            res = searcher.search_prefix(
                args.prefix, args.k, args.max_expansions
            )
        elif args.phrase:
            res = searcher.search_phrase(
                args.phrase, args.source, args.k, slop=args.slop
            )
        else:
            res = searcher.search(args.query, args.k)
        for rank, (doc_id, score) in enumerate(res, 1):
            print(json.dumps({"rank": rank, "doc_id": doc_id, "score": score}))
        return 0
    spark = _spark(args)
    if args.phrase_prefix:
        from .operators.boolquery import match_phrase_prefix_topk

        res = match_phrase_prefix_topk(
            spark, idx, [(0, args.phrase_prefix)], args.k,
            max_expansions=args.max_expansions,
        )
        for r in res.orderBy("rank").collect():
            print(json.dumps({"rank": r.rank, "doc_id": r.doc_id,
                              "score": r.score}))
        return 0
    if args.terms_agg:
        from .operators.aggquery import terms_agg

        res = terms_agg(
            spark, idx, args.terms_agg, args.k,
            filter_term=ft or None, filter_range=fr or None,
        )
        for r in res.collect():
            print(json.dumps({args.terms_agg: _jsonable(r[args.terms_agg]),
                              "doc_count": r.doc_count}))
        return 0
    if args.stats_agg:
        from .operators.aggquery import stats_agg

        r = stats_agg(
            spark, idx, args.stats_agg,
            filter_term=ft or None, filter_range=fr or None,
        ).collect()[0]
        print(json.dumps({c: _jsonable(r[c]) for c in
                          ("cnt", "min_v", "max_v", "avg_v", "sum_v")}))
        return 0
    if args.sort:
        from .operators.sortquery import sort_topk

        res = sort_topk(
            spark, idx, args.sort, args.k, ascending=args.sort_asc,
            filter_term=ft or None, filter_range=fr or None,
            after=after,
        )
        for rank, r in enumerate(res.collect(), 1):
            print(json.dumps({"rank": rank, "doc_id": r.doc_id,
                              "url": r.url,
                              args.sort: _jsonable(r[args.sort])}))
        return 0
    if spec is not None or args.prefix or args.phrase:
        from .operators.boolquery import bool_topk, phrase_topk, prefix_topk

        if spec is not None:
            res = bool_topk(spark, idx, [(0, spec)], args.k)
        elif args.prefix:
            res = prefix_topk(
                spark, idx, [(0, args.prefix)], args.k,
                max_expansions=args.max_expansions,
            )
        else:
            res = phrase_topk(
                spark, idx,
                spark.read.parquet(args.source) if args.source else None,
                [(0, args.phrase)], args.k, slop=args.slop,
            )
        for r in res.orderBy("rank").collect():
            print(json.dumps({"rank": r.rank, "doc_id": r.doc_id,
                              "score": r.score}))
        return 0
    from .operators.wand import wand_topk_with_urls

    rows = (
        wand_topk_with_urls(spark, idx, [(0, args.query)], args.k)
        .orderBy("rank")
        .collect()
    )
    for r in rows:
        print(json.dumps({"rank": r.rank, "doc_id": r.doc_id, "url": r.url,
                          "score": r.score}))
    return 0


def cmd_index_list(args) -> int:
    from .sources.catalog import Catalog

    cat = Catalog(args.root, alias=args.alias)
    for m in cat.list_indices():
        c = m.get("counters") or {}
        print(json.dumps({
            "index": m["index_name"], "status": m["status"],
            "docs": c.get("docs"),
            "adds_total": c.get("adds_total"),
            "deletes_total": c.get("deletes_total"),
            "queue_pending": (m.get("queue") or {}).get("rows_pending"),
            "current": m["is_current"], "active": m["is_active"],
            "consistent": m["consistent"],
        }))
    return 0


def cmd_metrics_tail(args) -> int:
    """Tail the per-batch tagged metric event stream (the DogStatsd-tagged
    add/delete counter analog, IndexQueueProcessor.cs:52,57)."""
    from .sources.catalog import Catalog, read_metric_events

    cat = Catalog(args.root, alias=args.alias)
    for ev in read_metric_events(cat.index_dir(args.schema), last=args.n):
        print(json.dumps(ev, sort_keys=True))
    return 0


def cmd_alias(args) -> int:
    from .sources.catalog import Catalog

    cat = Catalog(args.root, alias=args.alias)
    cat.update_alias(args.schema, close_others=args.close)
    print(json.dumps({"current_schema": cat.get_current_schema()}))
    return 0


def cmd_simple(method: str):
    def run(args) -> int:
        from .sources.catalog import Catalog

        cat = Catalog(args.root, alias=args.alias)
        if method == "schema_get":
            print(json.dumps({"current_schema": cat.get_current_schema(),
                              "active_schemas": cat.get_active_schemas()}))
        elif method == "schema_set":
            cat.set_current_schema(args.schema)
        elif method == "close":
            cat.close_index(args.schema)
        elif method == "open":
            cat.open_index(args.schema)
        elif method == "delete":
            cat.delete_index(args.schema)
        elif method == "nuke":
            cat.nuke_all()
        return 0

    return run


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="oei-spark")
    p.add_argument("--root", default="/tmp/oei_indexes", help="index catalog root")
    p.add_argument("--alias", default="documents")
    p.add_argument("--cores", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build or update an index")
    b.add_argument("--input", required=True, help="input parquet path")
    b.add_argument("--schema", required=True)
    b.add_argument("--full", action="store_true", default=True)
    b.add_argument("--resume", action="store_true",
                   help="keep a committed build; rebuild an interrupted one (T8)")
    b.add_argument("--incremental", action="store_true", help="cursor batch (T1/T8)")
    b.add_argument("--switch", action="store_true",
                   help="two-phase cutover: build + catch-up + alias (T9)")
    b.add_argument("--where", default=None,
                   help="SQL predicate narrowing the backfill (pump-all --where)")
    b.add_argument("--positions", action="store_true",
                   help="build the v2 POSITIONAL layout (index-side phrase/"
                        "slop matching, no --source needed at query time)")
    b.add_argument("--include-all-langs", action="store_true",
                   help="lift the lang='en' gate (--include-unranked analog)")
    b.add_argument("--keyword-field", dest="keyword_fields", action="append",
                   metavar="COL", default=None,
                   help="carry input column COL on the docmap as a keyword "
                        "field for search --filter-term (repeatable; "
                        "default: lang when the input has it)")
    b.add_argument("--numeric-field", dest="numeric_fields", action="append",
                   metavar="COL", default=None,
                   help="carry input column COL on the docmap as a NUMERIC "
                        "doc-value field (double) for search --sort / "
                        "--filter-range (repeatable)")
    b.set_defaults(fn=cmd_build)

    qp = sub.add_parser("queue-push", help="enqueue a parquet of docs (pump-file)")
    qp.add_argument("--input", required=True)
    qp.add_argument("--queue-dir", required=True)
    qp.set_defaults(fn=cmd_queue_push)

    qd = sub.add_parser("queue-push-doc", help="enqueue one doc (pump-score)")
    qd.add_argument("--queue-dir", required=True)
    qd.add_argument("--url", required=True)
    qd.add_argument("--text", default=None)
    qd.add_argument("--lang", default="en")
    qd.add_argument("--delete", action="store_true",
                    help="enqueue a delete for this url")
    qd.set_defaults(fn=cmd_queue_push_doc)

    qc = sub.add_parser("queue-clear", help="drop pending queue files")
    qc.add_argument("--queue-dir", required=True)
    qc.set_defaults(fn=cmd_queue_clear)

    qg = sub.add_parser("queue-depth", help="pending files/rows gauge (A2)")
    qg.add_argument("--queue-dir", required=True)
    qg.add_argument("--schema", default=None,
                    help="count only files not yet consumed by this index")
    qg.set_defaults(fn=cmd_queue_depth)

    qw = sub.add_parser("queue-watch", help="consume the queue (queue watch)")
    qw.add_argument("--queue-dir", required=True)
    qw.add_argument("--schema", required=True)
    qw.add_argument("--compact-every", type=int, default=0,
                    help="auto-compact when generations reach N (segment-merge analog)")
    qw.add_argument("--follow", action="store_true",
                    help="keep polling (default: drain available and stop)")
    qw.add_argument("--max-files", type=int, default=None,
                    help="T2 backpressure: max queue files per micro-batch")
    qw.set_defaults(fn=cmd_queue_watch)

    s = sub.add_parser("search", help="BM25 top-k over the current index")
    s.add_argument("query", nargs="?", default=None,
                   help="free-text query (omit when using bool clauses)")
    s.add_argument("-k", type=int, default=10)
    s.add_argument("--schema", default=None)
    s.add_argument("--local", action="store_true",
                   help="serve from parquet directly (no Spark job)")
    s.add_argument("--must", default=None,
                   help="bool query: every term must match (scored)")
    s.add_argument("--should", default=None,
                   help="bool query: optional scored terms")
    s.add_argument("--must-not", dest="must_not", default=None,
                   help="bool query: excluded terms; a must_not-ONLY query "
                        "is rejected (ES would return match_all minus the "
                        "exclusions — a corpus scan, not an index query)")
    s.add_argument("--filter", default=None,
                   help="bool query: required but UNSCORED terms "
                        "(ES filter context)")
    s.add_argument("--minimum-should-match", dest="minimum_should_match",
                   type=int, default=0,
                   help="require >= N distinct --should terms to match "
                        "(ES minimum_should_match)")
    s.add_argument("--filter-url-range", dest="filter_url_range", nargs=2,
                   metavar=("LO", "HI"), default=None,
                   help="structured filter: restrict to docs whose url "
                        "(document key) lies in [LO, HI] inclusive")
    s.add_argument("--filter-term", dest="filter_term", action="append",
                   metavar="FIELD=VALUE", default=None,
                   help="keyword filter: restrict to docs whose docmap "
                        "FIELD equals VALUE (ES term filter over the "
                        "keyword columns declared at build time, e.g. "
                        "lang=de; repeat the flag — same field twice = "
                        "ES terms query, ANY of the values)")
    s.add_argument("--sort", dest="sort", default=None, metavar="FIELD",
                   help="ES sort query: top-k by a stored docmap field "
                        "(keyword/numeric/structured), no scoring; combine "
                        "with --filter-term / --filter-range / "
                        "--filter-url-range")
    s.add_argument("--sort-asc", dest="sort_asc", action="store_true",
                   help="ascending sort (default: descending)")
    s.add_argument("--filter-exists", dest="filter_exists",
                   action="append", metavar="FIELD", default=None,
                   help="ES exists query: restrict to docs whose stored "
                        "FIELD is non-null (repeatable; bool context)")
    s.add_argument("--terms-agg", dest="terms_agg", default=None,
                   metavar="FIELD",
                   help="ES terms aggregation: top-k buckets of a stored "
                        "docmap field by doc count (combinable with "
                        "filter context)")
    s.add_argument("--stats-agg", dest="stats_agg", default=None,
                   metavar="FIELD",
                   help="ES stats aggregation (cnt/min/max/avg/sum) over "
                        "a declared numeric doc-value field")
    s.add_argument("--after", nargs=2, metavar=("VALUE", "DOC_ID"),
                   default=None,
                   help="ES search_after deep paging: the previous page's "
                        "last sort VALUE ('null' once inside the missing-"
                        "value tail) and DOC_ID; the next page starts "
                        "strictly after that key")
    s.add_argument("--filter-range", dest="filter_range", nargs=3,
                   action="append", metavar=("FIELD", "LO", "HI"),
                   help="structured/numeric range filter: docs whose FIELD "
                        "lies in [LO, HI]; pass 'null' for an open bound "
                        "(numeric fields coerce to float)")
    s.add_argument("--prefix", default=None,
                   help="prefix query: expand against the dictionary "
                        "(term-asc, capped) and score the expansion; "
                        "must be a SINGLE token (multi-token input is "
                        "rejected, matching ES prefix semantics)")
    s.add_argument("--max-expansions", type=int, default=50,
                   help="prefix rewrite cap (ES max_expansions analog)")
    s.add_argument("--phrase-prefix", dest="phrase_prefix", default=None,
                   metavar="TEXT",
                   help="ES match_phrase_prefix (autocomplete): last "
                        "token is a prefix, earlier tokens exact phrase "
                        "slots (positional index required; "
                        "--max-expansions caps the rewrite)")
    s.add_argument("--phrase", default=None,
                   help="phrase query (match-then-verify); needs --source")
    s.add_argument("--source", default=None,
                   help="source parquet (url, html) for phrase verification")
    s.add_argument("--slop", type=int, default=0,
                   help="match_phrase slop (ES semantics: span of "
                        "slot-adjusted positions; transposition costs 2)")
    s.set_defaults(fn=cmd_search)

    il = sub.add_parser("index-list", help="list indices + consistency audit")
    il.set_defaults(fn=cmd_index_list)

    mt = sub.add_parser(
        "metrics-tail", help="tail per-batch metric events (U2 stream)"
    )
    mt.add_argument("--schema", required=True)
    mt.add_argument("-n", type=int, default=20)
    mt.set_defaults(fn=cmd_metrics_tail)

    al = sub.add_parser("alias", help="atomically repoint the alias")
    al.add_argument("schema")
    al.add_argument("--close", action="store_true")
    al.set_defaults(fn=cmd_alias)

    for name, method in (
        ("schema-get", "schema_get"), ("schema-set", "schema_set"),
        ("close", "close"), ("open", "open"),
        ("delete", "delete"), ("nuke", "nuke"),
    ):
        sp = sub.add_parser(name)
        if method not in ("schema_get", "nuke"):
            sp.add_argument("schema")
        sp.set_defaults(fn=cmd_simple(method))

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
