"""Boolean, phrase and prefix queries over the compressed index (the query
surface the reference delegates to Elasticsearch — SURVEY.md §3.4).

The reference's consumers query ES with ``bool`` (must / should / must_not
/ filter) and ``match_phrase`` queries against the indexed documents
(osu.ElasticIndexer/SchemaSpecs/scores.json defines the searchable mapping;
the query side lives in ES itself). This module re-expresses them
Spark-first over our own index format.

One kernel, thin drivers: scoring is wand.py's kernel (``decode_term`` ->
``accumulate`` -> ``score_bool``). A spec compiles, via ``_plan_terms``, to
sorted (term, idf·boost, role bits) triples plus the required-term count
and minimum_should_match; the drivers only fetch postings and pick the
docID window:

* ``LocalSearcher.search_bool`` (serve.py) — window = the corpus.
* ``bool_topk`` — the per-query Spark shape, which ships queries, not
  index data (``_searcher_batch``): one ``mapInArrow`` over the batch's
  query rows, each Python worker answering its share with
  ``LocalSearcher`` methods on a searcher pinned to the manifest the
  driver planned from. ``wand_topk``, ``prefix_topk``, positional
  ``phrase_topk`` and ``match_phrase_prefix_topk`` run the same way.
* ``bool_topk_docpart`` — the queries-to-data shape for large batches:
  one ``mapInArrow`` task reads each (generation, salt) docID cell in
  place and scores every query there, so a term decodes once per cell
  regardless of the query count; window = the cell span; the per-cell
  candidates merge on the driver.

Every Spark batch plans from ONE manifest read (``_snapshot``): its
statistics, dictionary lookups, segment files and worker searchers all
come from that snapshot, so a commit landing mid-batch is invisible to it.

Bool semantics (ES): a doc is eligible when it holds every required term
(must ∪ filter), at least minimum_should_match distinct should terms, no
must_not term, and passes the structured filters; it scores the sorted-term
fold over must ∪ should, so surviving docs score bit-identically to a
plain BM25 query over the same terms (per-clause ``boost`` multiplies a
term's idf). ``filter`` terms and the structured filters are filter
context: unscored but required, and a doc that matches them with no scored
term is a hit at 0.0, ranked after every positive doc, doc_id ascending —
including, for specs whose only required clauses are structured filters,
docs carrying none of the query's terms (enumerated from the intersected
filter docIDs; indexed docs only, dl > 0). An explicit minimum_should_match
>= 1 suppresses that tail, as in ES. ``filter_range`` restricts the docmap's
structured (url, warc_ts) and declared numeric fields to an inclusive
[lo, hi]; ``filter_term`` exact-matches them and the declared keyword
fields; ``filter_exists`` keeps docs whose stored field is non-null — each
a pushed pyarrow docmap scan cached per worker (operators/state.py).

Edge semantics: a required term absent from the dictionary empties that
query; absent should / must_not terms are ignored. A spec with no
must/should/filter term raises ValueError — must_not-only would be ES
match_all-minus-excluded and filter-only never touches the inverted index
(both are corpus scans; express them as docmap DataFrame filters). One
documented divergence: a spec whose every term clause is out-of-vocabulary
returns empty even with filter context.

Positional queries compile to a bool plan plus POSITION SLOTS
(``_positional_spec``): one tuple of terms per phrase position, whose
occurrences in a doc are the pooled positions of its terms. A phrase is
``must: its unique tokens`` with one single-term slot per token;
``match_phrase_prefix_topk`` is ``must: full tokens, should: the prefix's
live expansions, msm 1`` with the full-token slots plus one last slot
pooling the expansions. On positional (v2) indexes
(build_index(positions=True) — docs/positional-postings.md) one kernel,
``_positional_topk``, answers both: accumulate -> candidates ->
block-selected position decode (``_decode_positions_selected``) ->
``_verify_positions_cell`` (adjacency or ES slop) -> top-k. Its drivers are
``LocalSearcher.search_phrase`` / ``search_phrase_prefix`` (also the
per-query Spark shape) and the docpart cells of ``_positional_cell``
(``PHRASE_DOCPART_DF_SUM`` routes head-term phrases to cells). A one-slot
query needs no positions. v1 indexes carry no positions: ``phrase_topk``
then joins the conjunctive candidates to docmap and the SOURCE table and
re-tokenizes each candidate's html — verification IO ∝ the candidate
count, which is bounded (``max_candidates``, the ES rewrite-guard analog)
before it is broadcast-pinned into the joins. ``prefix_topk`` expands the prefix by a
dictionary range seek over the pinned snapshot and runs the expansion as a
match query.

All paths honor tombstones and closed-index refusal.
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import codec
from ..functions.textprep import tokenize
from . import wand
from .wand import (
    _MUST,
    _MUST_NOT,
    _SCORED,
    _SHOULD,
    RESULT_SCHEMA,
    _cell_body,
    _index_state,
    _list_cells,
    _merge_on_driver,
    accumulate,
    idf_of,
    score_bool,
)

_CLAUSES = ("must", "should", "must_not", "filter")
_SPEC_KEYS = {
    "must", "should", "must_not", "filter", "filter_range", "filter_term",
    "filter_exists", "minimum_should_match",
}
# structured fields EVERY docmap carries (url = document key — the analog of
# scores.json's range-indexed `id`; warc_ts = the capture timestamp);
# KEYWORD fields declared at build time (build_index(keyword_fields=...),
# recorded in the manifest) extend the filter_term-able set per index
_RANGE_FIELDS = {"url", "warc_ts"}


def _normalize_spec(spec) -> dict:
    """Accept clause values as raw text or token lists; tokenize + dedup.

    ES per-clause ``boost``: items in the SCORED clause lists (must /
    should) may be ``{"query"/"term": text, "boost": factor}`` dicts or
    ``(text, factor)`` pairs. The returned ``"boosts"`` map gives each
    term its effective factor — the PRODUCT of the boosts of every scored
    clause containing it (unboosted clauses contribute 1.0, so unboosted
    specs score exactly as before; the engine dedups a term shared by
    must and should into one scored contribution, and the product rule is
    that dedup's boost analog). Boost on must_not/filter is rejected —
    ES ignores it there (those clauses never score), and silently
    accepting it would hide a spec bug."""
    boosts: dict[str, float] = {}

    def one(item, clause: str) -> set[str]:
        b = None
        if isinstance(item, dict):
            if not {"query", "term"} & set(item) or set(item) - {
                "query", "term", "boost"
            }:
                raise ValueError(
                    f"clause item {item!r} must be "
                    '{"query"/"term": text, "boost": factor}'
                )
            b = item.get("boost")
            item = item.get("query", item.get("term"))
        elif (
            isinstance(item, tuple)
            and len(item) == 2
            and isinstance(item[0], str)
            and isinstance(item[1], (int, float))
            and not isinstance(item[1], bool)
        ):
            item, b = item
        ts = set(tokenize(item))
        if b is not None:
            if clause not in ("must", "should"):
                raise ValueError(
                    f"boost on a {clause} clause has no effect (ES scores "
                    "neither must_not nor filter context) — remove it"
                )
            b = float(b)
            if not b > 0.0:
                raise ValueError("boost must be > 0")
            for t in ts:
                boosts[t] = boosts.get(t, 1.0) * b
        return ts

    def toks(v, clause: str) -> list[str]:
        if v is None:
            return []
        if isinstance(v, (str, dict)) or (
            isinstance(v, tuple) and len(v) == 2
            and isinstance(v[0], str)
            and isinstance(v[1], (int, float))
            and not isinstance(v[1], bool)
        ):
            v = [v]
        out: set[str] = set()
        for item in v:
            out.update(one(item, clause))
        return sorted(out)

    out = {
        "must": toks(spec.get("must"), "must"),
        "should": toks(spec.get("should"), "should"),
        "must_not": toks(spec.get("must_not"), "must_not"),
        "filter": toks(spec.get("filter"), "filter"),
    }
    out["boosts"] = {k: v for k, v in boosts.items() if v != 1.0}
    return out


def index_keyword_fields(index_dir: str) -> tuple[str, ...]:
    """Keyword columns this index's docmap carries (declared at build via
    ``build_index(keyword_fields=...)``, recorded in the manifest) — the
    fields ``filter_term`` may restrict on. Empty for pre-keyword indexes."""
    from ..sources.catalog import read_index_manifest

    m = read_index_manifest(index_dir)
    return tuple((m or {}).get("keyword_fields") or ())


def index_numeric_fields(index_dir: str) -> tuple[str, ...]:
    """NUMERIC doc-value columns this index's docmap carries (declared at
    build via ``build_index(numeric_fields=...)`` — the ES doc_values
    analog of scores.json's numeric sort/range fields). ``filter_range``
    and ``filter_term`` accept them; ``sort_topk`` sorts on them."""
    from ..sources.catalog import read_index_manifest

    m = read_index_manifest(index_dir)
    return tuple((m or {}).get("numeric_fields") or ())


def _check_spec(
    spec: dict, s: dict[str, list[str]], keyword_fields: tuple = (),
    numeric_fields: tuple = (),
) -> tuple[dict[str, tuple], dict[str, tuple], tuple]:
    """Validate a bool spec; -> (normalized {field: (lo, hi)} filter_range,
    normalized {field: (value, ...)} filter_term, (field, ...)
    filter_exists — the ES ``exists`` query, docs whose stored field is
    non-null, e.g. the reference's nullable pp field).

    ``filter_range`` accepts the structured fields every docmap carries
    (url, warc_ts) plus this index's declared NUMERIC doc-value fields
    (the ES numeric-range query over total_score/pp-style fields);
    ``filter_term`` additionally accepts the declared keyword fields.

    Raises ValueError for unusable specs instead of returning empty (the
    silent-empty failure modes users actually hit): unknown keys, bad
    range/term fields or shapes, and specs with NO term clause
    (must_not-only / filter-context-only / empty — see the module doc)."""
    unknown = set(spec) - _SPEC_KEYS
    if unknown:
        raise ValueError(
            f"unknown bool spec key(s) {sorted(unknown)}; "
            f"supported: {sorted(_SPEC_KEYS)}"
        )
    fr_in = spec.get("filter_range") or {}
    if not isinstance(fr_in, dict):
        raise ValueError("filter_range must be {field: (lo, hi)}")
    rangeable = _RANGE_FIELDS | set(numeric_fields)
    fr: dict[str, tuple] = {}
    for field, bounds in fr_in.items():
        if field not in rangeable:
            raise ValueError(
                f"filter_range field {field!r} not a docmap structured/"
                f"numeric field of this index; it carries: "
                f"{sorted(rangeable)} (declare numeric columns at build "
                "time via build_index(numeric_fields=...))"
            )
        try:
            lo, hi = bounds
        except (TypeError, ValueError):
            raise ValueError(
                f"filter_range[{field!r}] must be a (lo, hi) pair "
                "(either bound may be None)"
            ) from None
        fr[field] = (lo, hi)
    ft_in = spec.get("filter_term") or {}
    if not isinstance(ft_in, dict):
        raise ValueError("filter_term must be {field: value-or-list}")
    ft: dict[str, tuple] = {}
    allowed = _RANGE_FIELDS | set(keyword_fields) | set(numeric_fields)
    for field, vals in ft_in.items():
        if field not in allowed:
            raise ValueError(
                f"filter_term field {field!r} not a docmap structured/"
                f"keyword field of this index; it carries: "
                f"{sorted(allowed)} (declare keyword columns at build "
                "time via build_index(keyword_fields=...))"
            )
        if isinstance(vals, (str, bytes)) or not hasattr(vals, "__iter__"):
            vals = (vals,)
        vals = tuple(vals)
        if not vals or any(v is None for v in vals):
            raise ValueError(
                f"filter_term[{field!r}] needs >=1 non-null value (ES "
                "term/terms queries never match null — filter nulls with "
                "a DataFrame predicate over the docmap instead)"
            )
        ft[field] = vals
    fe_in = spec.get("filter_exists") or ()
    if isinstance(fe_in, str):
        fe_in = (fe_in,)
    fe: tuple = ()
    for field in fe_in:
        if field not in allowed:
            raise ValueError(
                f"filter_exists field {field!r} not a docmap structured/"
                f"keyword/numeric field of this index; it carries: "
                f"{sorted(allowed)}"
            )
        fe += (field,)
    fe = tuple(sorted(set(fe)))
    if not (s["must"] or s["should"] or s["filter"]):
        raise ValueError(
            "bool spec has no must/should/filter TERM clause: a "
            "must_not-only query is ES match_all-minus-excluded and a "
            "filter_range/filter_term-only query never touches the "
            "inverted index — both are corpus scans; express them as "
            "plain DataFrame filters over the docmap/source instead"
        )
    return fr, ft, fe


def _get_msm(spec: dict, s: dict[str, list[str]]) -> int:
    """Validated ES ``minimum_should_match``: a doc must match at least
    this many DISTINCT should terms (in addition to must/filter/must_not).
    0 keeps the defaults ES uses — with required clauses should is
    optional; pure-should already demands >=1 match by construction. A
    value above len(should) simply yields empty, like ES."""
    msm = spec.get("minimum_should_match") or 0
    if not isinstance(msm, int) or isinstance(msm, bool) or msm < 0:
        raise ValueError("minimum_should_match must be a non-negative int")
    if msm and not s["should"]:
        raise ValueError(
            "minimum_should_match requires should clauses to count"
        )
    return msm


def index_has_positions(index_dir: str) -> bool:
    """True when the committed manifest records the v2 positional layout
    (build_index(positions=True) — docs/positional-postings.md)."""
    from ..sources.catalog import read_index_manifest

    m = read_index_manifest(index_dir)
    return bool(m and m.get("positions"))


def _snapshot(index_dir: str) -> dict:
    """The manifest a query batch plans from, read ONCE: the closed-index
    check, statistics, field lists, dictionary lookups and every file list
    of the batch come from it, so a commit landing while the batch is
    planned (or before it is collected) can never pair one generation's
    n_docs/avgdl/df with another generation's segments."""
    from ..sources.catalog import assert_index_readable, read_index_manifest

    m = read_index_manifest(index_dir) or {}
    assert_index_readable(index_dir, m)
    return m


def _struct_arrays(
    fr: dict, ft: dict, fe: tuple, docmap_path, seq: int
) -> list[np.ndarray]:
    """One sorted docID array per structured-filter field (range, term,
    AND exists clauses), from the byte-budgeted per-worker docfilter
    cache."""
    from osu_elastic_indexer_spark.operators.state import (
        load_docids_eq,
        load_docids_exists,
        load_docids_in_range,
    )

    arrs = []
    for field in sorted(fr):
        flo, fhi = fr[field]
        arrs.append(load_docids_in_range(docmap_path, seq, field, flo, fhi))
    for field in sorted(ft):
        arrs.append(load_docids_eq(docmap_path, seq, field, ft[field]))
    for field in fe:
        arrs.append(load_docids_exists(docmap_path, seq, field))
    return arrs


def _plan_terms(s: dict, msm: int, info, n_docs: int):
    """One normalized spec -> ``(terms, n_must, msm)`` for the kernel, or
    None when no doc can match. ``terms``: [(term, term_id, idf·boost,
    role bits)] in sorted-term order (the fold order); ``info``: term ->
    (term_id, df), None/absent for out-of-vocabulary terms.

    ES edge semantics: a required (must ∪ filter) term absent from the
    dictionary empties the query; absent should / must_not terms are
    ignored, so an msm above the live should count empties the query. A
    term shared by must and should scores once, with the product of its
    clause boosts (``_normalize_spec``). ``n_must`` counts the DISTINCT
    required terms."""
    required = set(s["must"]) | set(s["filter"])
    if any(info.get(t) is None for t in required):
        return None
    roles: dict[str, int] = {}
    for clause, bits in (
        ("must", _SCORED | _MUST), ("should", _SCORED | _SHOULD),
        ("filter", _MUST), ("must_not", _MUST_NOT),
    ):
        for t in s[clause]:
            if info.get(t) is not None:
                roles[t] = roles.get(t, 0) | bits
    if not roles or msm > sum(1 for r in roles.values() if r & _SHOULD):
        return None
    terms = [
        (t, info[t][0], idf_of(n_docs, info[t][1]) * s["boosts"].get(t, 1.0),
         roles[t])
        for t in sorted(roles)
    ]
    return terms, len(required), msm


def _bool_plans(m: dict, queries: list[tuple[int, dict]]):
    """Validate a bool batch against the snapshot ``m``'s keyword/numeric
    fields -> (normalized specs, msm by qid, structured filter specs by
    qid). Raises ValueError for unusable specs."""
    kw_fields = tuple(m.get("keyword_fields") or ())
    num_fields = tuple(m.get("numeric_fields") or ())
    specs, msms, structs = {}, {}, {}
    for qid, raw in queries:
        s = _normalize_spec(raw)
        fr, ft, fe = _check_spec(raw, s, kw_fields, num_fields)
        specs[qid] = s
        msms[qid] = _get_msm(raw, s)
        if fr or ft or fe:
            structs[qid] = (fr, ft, fe)
    return specs, msms, structs


def _plan_batch(
    index_dir: str, m: dict, specs: dict, msms: dict,
    term_info: dict | None = None,
):
    """Driver-side plan of a validated docpart batch on the snapshot
    ``m``, with no Spark job: term plans from the dictionary (or the
    caller's ``term_info``, term -> (term_id, df)) and the cells holding
    their terms -> (state, plans, cells), or None when nothing matches."""
    from ..sources.catalog import committed_gen_paths
    from . import dictionary
    from .state import _parquet_files

    n_docs, avgdl, seq = _index_state(index_dir, m)
    if term_info is None:
        term_info = dictionary.lookup_term_info(
            index_dir,
            sorted({t for s in specs.values() for c in _CLAUSES
                    for t in s[c]}),
            m,
        )
    plans = {}
    for qid, s in specs.items():
        plan = _plan_terms(s, msms[qid], term_info, n_docs)
        if plan is not None:
            plans[qid] = plan
    tids = sorted({
        tid for terms, _n, _m in plans.values() for _t, tid, _w, _r in terms
    })
    paths = {t: tuple(committed_gen_paths(index_dir, t, m)) for t in (
        "segments", "fwd", "tombstones", "docmap",
    )}
    cells = _list_cells(_parquet_files(paths["segments"]), tids)
    if not cells:
        return None
    state = {"tids": tids, "seq": seq, "avgdl": avgdl, **paths}
    return state, plans, cells


def _cells(
    spark, index_dir: str, m: dict, specs: dict, msms: dict, make_score,
    positions: bool = False, term_info: dict | None = None,
):
    """The docpart shape of a validated batch (``_plan_batch``) as a lazy
    frame of per-cell candidates, or None when no query can match: one
    ``mapInArrow`` (``_cell_body`` with ``make_score(state, plans)``) over
    ``spark.range(n_cells)`` in min(n_cells, defaultParallelism)
    partitions, heaviest cells dealt round-robin — no scan, no exchange."""
    from ..session import ship_package

    planned = _plan_batch(index_dir, m, specs, msms, term_info)
    if planned is None:
        return None
    state, plans, cells = planned
    ship_package(spark)
    par = min(len(cells), max(1, int(spark.sparkContext.defaultParallelism)))
    heavy = sorted(cells, key=lambda c: (-c[1], c[0]))
    body = _cell_body(
        state, [c for j in range(par) for c in heavy[j::par]],
        make_score(state, plans), positions,
    )
    return spark.range(0, len(cells), 1, par).mapInArrow(
        body, "query_id bigint, doc_id bigint, score double"
    )


def _union(spark, parts: list) -> DataFrame:
    """The union of RESULT_SCHEMA frames (an empty frame for none)."""
    if not parts:
        return spark.createDataFrame([], RESULT_SCHEMA)
    return functools.reduce(DataFrame.unionByName, parts)


# the per-query shape's worker-side searcher: ONE entry per Python worker
# process, keyed by the snapshot it pins (a new commit_seq replaces it, as
# in state._cached; the creation stamp tells a deleted and re-created index
# apart), so the batches between two commits share its hot caches
_WORKER_SEARCHER: dict[tuple, object] = {}


def _worker_searcher(index_dir: str, m: dict, parallelism: int):
    """This worker's ``LocalSearcher`` on the driver's snapshot ``m`` —
    never on the manifest committed now — holding a 1/``parallelism``
    share of the serve cache budgets."""
    from .serve import LocalSearcher

    key = (
        index_dir, int(m.get("commit_seq", 0)), m.get("created_utc"),
        parallelism,
    )
    searcher = _WORKER_SEARCHER.get(key)
    if searcher is None:
        _WORKER_SEARCHER.clear()
        searcher = LocalSearcher(
            index_dir, manifest=m, cache_share=1.0 / parallelism
        )
        _WORKER_SEARCHER[key] = searcher
    return searcher


def _batch_terms(searcher, method: str, payloads: list, params: dict):
    """The vocabulary of one partition's queries, prefix expansions
    included (from the searcher's pinned dictionary)."""
    out: set[str] = set()
    for p in payloads:
        if method == "search_bool":
            s = _normalize_spec(p)
            out.update(t for c in _CLAUSES for t in s[c])
            continue
        toks = tokenize(p)
        if toks and method in ("search_prefix", "search_phrase_prefix"):
            toks = toks[:-1] + searcher._expansions(
                toks[-1], params["max_expansions"]
            )
        out.update(toks)
    return sorted(out)


def _searcher_body(
    index_dir: str, m: dict, method: str, items: list, k: int,
    params: dict, parallelism: int,
):
    """``mapInArrow`` body of the per-query shape: a partition's query rows
    (``id`` = index into ``items``, ``[(query_id, payload)]``) -> their
    ranked results, answered by ``LocalSearcher.<method>(payload, k=k,
    **params)`` on the worker's cached searcher. The partition's whole
    vocabulary is resolved and decoded up front (``prefetch``), and the
    decode cache is bounded to the worker's share before it returns."""

    def run(batches):
        import pyarrow as pa

        searcher = _worker_searcher(index_dir, m, parallelism)
        mine = [items[i] for b in batches for i in b.column(0).to_pylist()]
        searcher.prefetch(
            _batch_terms(searcher, method, [p for _q, p in mine], params)
        )
        ask = getattr(searcher, method)
        hits = [
            (int(qid), rank, doc, score)
            for qid, payload in mine
            for rank, (doc, score) in enumerate(ask(payload, k=k, **params), 1)
        ]
        searcher._bound_decode_cache()
        types = (pa.int64(), pa.int32(), pa.int64(), pa.float64())
        yield pa.RecordBatch.from_arrays(
            [pa.array(c, t) for c, t in zip(list(zip(*hits)) or [()] * 4, types)],
            names=["query_id", "rank", "doc_id", "score"],
        )

    return run


def _searcher_batch(
    spark, index_dir: str, m: dict, method: str, items: list, k: int,
    **params,
) -> DataFrame:
    """The per-query Spark shape: ships queries, not index data. The
    query texts/specs ``items`` travel in the task closure with the
    driver's manifest ``m``; one ``mapInArrow`` over ``len(items)`` query
    rows in min(n_queries, defaultParallelism) partitions answers them
    (``_searcher_body``) -> RESULT_SCHEMA with ranks 1..k. Each worker's
    searcher holds 1/defaultParallelism of the serve cache budgets — the
    session runs at most that many Python workers at once."""
    from ..session import ship_package

    if not items:
        return spark.createDataFrame([], RESULT_SCHEMA)
    ship_package(spark)
    par = max(1, int(spark.sparkContext.defaultParallelism))
    run = _searcher_body(
        index_dir, m, method, list(items), int(k), params, par
    )
    return spark.range(0, len(items), 1, min(len(items), par)).mapInArrow(
        run, RESULT_SCHEMA
    )


def bool_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, dict]],
    k: int = 10,
) -> DataFrame:
    """Batched ES-style boolean top-k over a built index.

    ``queries``: [(query_id, {"must": ..., "should": ..., "must_not": ...,
    "filter": ..., "filter_range": {field: (lo, hi)},
    "filter_term": {field: value-or-list}})] — term clause values are raw
    text or lists of texts (tokenized with the engine tokenizer);
    ``filter`` terms are required but unscored (ES filter context);
    ``filter_range`` restricts by the docmap's structured fields and
    ``filter_term`` exact-matches its declared KEYWORD fields (ES
    term/terms filter — the country_code/ruleset_id restriction,
    scores.json:17-19,32-37). Returns (query_id, rank, doc_id, score); a
    query whose required clause cannot match produces no rows; an
    unusable spec raises ValueError (``_check_spec``) at call time.

    Runs the per-query shape (``_searcher_batch``): each worker answers
    its share with ``LocalSearcher.search_bool`` on the snapshot read
    here.
    """
    return _bool_topk(spark, index_dir, _snapshot(index_dir), queries, k)


def _bool_topk(spark, index_dir: str, m: dict, queries, k: int) -> DataFrame:
    """``bool_topk`` on the snapshot ``m`` the caller read."""
    _bool_plans(m, queries)  # raise on an unusable spec before any job
    return _searcher_batch(spark, index_dir, m, "search_bool", queries, k)


def bool_topk_docpart(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, dict]],
    k: int = 10,
) -> DataFrame:
    """DOCUMENT-partitioned boolean batch top-k: one ``mapInArrow`` task
    reads each (generation, salt) docID cell holding the batch's terms in
    place and scores every query there (``_cells``), so a term decodes
    once per cell regardless of the query count; nothing shuffles and the
    per-cell candidates merge on the driver. The call runs its Spark job
    at call time and returns a local relation.

    Correct per cell by construction: a doc's postings live wholly inside
    one cell (the salted grid partitions the docID space), so the cell-
    local required-count and exclusion masks are COMPLETE for every doc the
    cell owns — a doc eligible in its cell is eligible globally, and the
    union of per-cell top-ks contains the exact global top-k (cells cover
    disjoint docs). Each cell runs ``score_bool`` over its own span, so
    both paths are bit-identical — including the ES filter context
    (``filter`` terms, ``filter_range``, zero-score tail): zero-score docs
    rank below every positive doc globally, so per-cell padding to k keeps
    the union argument exact.

    One shape routes to the per-query shape: a spec whose ONLY required
    clauses are filter context (no must/filter term, msm 0). Its ES
    zero-score tail covers filter-matching docs with NO query-term
    postings at all — docs living in cells no segment row reaches, which
    no cell task can enumerate. ``bool_topk`` computes that tail exactly
    (from the intersected filter docIDs), and both paths are
    bit-identical on every other shape, so the union stays exact.
    """
    return _bool_topk_docpart(spark, index_dir, _snapshot(index_dir), queries, k)


def _bool_cell(state: dict, plans: dict, structs: dict, k: int):
    """The bool cell scorer of ``_cell_body``: every query runs
    ``score_bool`` over the cell span on the cell's decoded terms, with its
    structured-filter masks sliced to the span (cell-sized accumulators)."""

    def score(dec, _rows_of, lo, span, norms, tomb):
        out = []
        for qid, (terms, n_must, n_msm) in plans.items():
            tl = [
                (*dec[tid], w, role)
                for _t, tid, w, role in terms if tid in dec
            ]
            if tl:
                st = structs.get(qid)
                struct = (
                    _struct_arrays(*st, state["docmap"], state["seq"])
                    if st else None
                )
                out += [(qid, s, d) for s, d in score_bool(
                    tl, lo, span, int(k), n_must, n_msm, norms, tomb, struct
                )]
        return out

    return score


def _bool_topk_docpart(
    spark, index_dir: str, m: dict, queries, k: int
) -> DataFrame:
    """``bool_topk_docpart`` on the snapshot ``m`` the caller read."""
    specs, msms, structs = _bool_plans(m, queries)
    tail = {
        qid for qid in structs
        if not (specs[qid]["must"] or specs[qid]["filter"]) and not msms[qid]
    }
    parts = [_searcher_batch(
        spark, index_dir, m, "search_bool",
        [(q, r) for q, r in queries if q in tail], k,
    )] if tail else []
    cands = _cells(
        spark, index_dir, m, {q: s for q, s in specs.items() if q not in tail},
        msms, lambda st, plans: _bool_cell(st, plans, structs, k),
    )
    if cands is not None:
        parts.append(_merge_on_driver(spark, cands, k))
    return _union(spark, parts)


def prefix_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    k: int = 10,
    max_expansions: int = 50,
) -> DataFrame:
    """ES prefix query (scoring_boolean rewrite): expand each prefix
    against the LIVE dictionary of the batch's snapshot via a footer-stats
    range seek (dictionary.lookup_terms_by_prefix — term-asc, capped at
    ``max_expansions``, ES's rewrite-cap analog), then score the expanded
    terms as a match query: per-term idf over the union, sorted-term fold,
    so scores are exactly what a plain query on the expanded terms would
    produce. A prefix with no live expansion yields no rows for that
    query. Both steps run in the per-query shape
    (``LocalSearcher.search_prefix`` on each worker's pinned searcher).

    A prefix that tokenizes to MORE than one token is rejected at call
    time: ES's ``prefix`` query matches a single term, and silently using
    only the first token would drop the rest of the input without
    warning."""
    m = _snapshot(index_dir)  # refuse closed indexes before anything else
    items = []
    for qid, prefix in queries:
        toks = tokenize(prefix)
        if not toks:
            continue
        if len(toks) > 1:
            raise ValueError(
                f"prefix query {prefix!r} tokenizes to {len(toks)} tokens "
                f"({toks}); ES prefix queries match a single term — pass "
                "one token (use a bool/phrase query for multi-term input)"
            )
        items.append((qid, prefix))
    return _searcher_batch(
        spark, index_dir, m, "search_prefix", items, k,
        max_expansions=max_expansions,
    )


def _contains_phrase(tokens: list[str], phrase: list[str]) -> bool:
    m = len(phrase)
    if m == 0:
        return False
    n = len(tokens)
    if n < m:
        return False
    first = phrase[0]
    return any(
        tokens[i] == first and tokens[i : i + m] == phrase
        for i in range(n - m + 1)
    )


def _matches_occ(occ_by_slot: list, slop: int) -> bool:
    """Lucene/ES sloppy-phrase match criterion (SloppyPhraseScorer) over
    per-SLOT occurrence lists: matches iff one occurrence per slot can be
    chosen, at pairwise-DISTINCT positions, whose slop-adjusted values
    (pos - slot_index) span at most ``slop``. Both verify tiers — token
    re-tokenization (``_matches_phrase``) and the positional index path —
    route through this one function, so their semantics can never diverge.

    Cost: O(distinct adjusted values × phrase_len × window occupancy) per
    doc — phrase_len is tiny and this only ever runs on candidates."""
    m = len(occ_by_slot)
    if m == 0 or any(len(o) == 0 for o in occ_by_slot):
        return False
    if slop <= 0:
        # exact adjacency: all adjusted equal — intersect the adjusted sets
        # (positions are automatically distinct: p = lo + slot)
        common = set(int(p) for p in occ_by_slot[0])
        for s in range(1, m):
            common &= {int(p) - s for p in occ_by_slot[s]}
            if not common:
                return False
        return True
    # every feasible window [lo, lo+slop] has its min at some slot's
    # adjusted value, so enumerating those lows is exhaustive
    lows = sorted(
        {int(p) - s for s, occ in enumerate(occ_by_slot) for p in occ}
    )
    for lo in lows:
        allowed = [
            [int(p) for p in occ if lo <= int(p) - s <= lo + slop]
            for s, occ in enumerate(occ_by_slot)
        ]
        if any(not a for a in allowed):
            continue
        # injective slot -> position assignment (Kuhn augmenting paths;
        # only slots sharing a term can ever contend)
        taken: dict[int, int] = {}

        def assign(slot: int, seen: set[int]) -> bool:
            for p in allowed[slot]:
                if p in seen:
                    continue
                seen.add(p)
                if p not in taken or assign(taken[p], seen):
                    taken[p] = slot
                    return True
            return False

        if all(assign(s, set()) for s in range(m)):
            return True
    return False


def _matches_phrase(tokens: list[str], phrase: list[str], slop: int = 0) -> bool:
    """Sloppy-phrase match on a token stream: build per-slot occurrence
    lists, delegate to ``_matches_occ`` (the shared criterion). slop=0
    keeps the fast windowed scan."""
    if slop <= 0:
        return _contains_phrase(tokens, phrase)
    if not phrase:
        return False
    occ: dict[str, list[int]] = {}
    for t in phrase:
        if t not in occ:
            occ[t] = [i for i, tok in enumerate(tokens) if tok == t]
            if not occ[t]:
                return False
    return _matches_occ([occ[t] for t in phrase], slop)


def _decode_positions_selected(
    term_rows: list[tuple], eligible: np.ndarray
) -> tuple | None:
    """BLOCK-SELECTED position decode for ONE term (the Lucene-skipping
    analog): only blocks whose [first, last] docID range contains a
    candidate decode their position bytes — for a "rare common" phrase
    the common term decodes ~df(rare) blocks instead of its whole list.
    Above half a row's blocks, one whole-row decode wins (no per-block
    call overhead). ``term_rows``: ``[(enc, docs, tfs), ...]`` for the
    term's segment rows (postings already decoded); ``eligible``: sorted
    GLOBAL candidate docIDs. Returns ``(docs, tfs, positions, pstart)``
    over the selected blocks only — a candidate doc is always inside some
    selected block, so phrase verification over the partial arrays is
    complete — or None when no block holds a candidate."""
    d_parts, tf_parts, pos_parts = [], [], []
    BLK = codec.BLOCK
    for enc, d_i, tf_i in term_rows:
        bf = np.asarray(enc["block_first"], dtype=np.int64)
        bl = np.asarray(enc["block_last"], dtype=np.int64)
        nb = bf.size
        i0 = np.searchsorted(eligible, bf)
        needed = (i0 < eligible.size) & (
            eligible[np.minimum(i0, eligible.size - 1)] <= bl
        )
        n_need = int(needed.sum())
        if n_need == 0:
            continue
        if n_need > nb // 2:
            d_parts.append(d_i)
            tf_parts.append(tf_i)
            pos_parts.append(codec.decode_positions(enc["pos_blob"], tf_i))
        else:
            for b in np.flatnonzero(needed):
                sl = slice(int(b) * BLK, min((int(b) + 1) * BLK, d_i.size))
                tfb = tf_i[sl]
                d_parts.append(d_i[sl])
                tf_parts.append(tfb)
                pos_parts.append(
                    codec.decode_positions_block(enc, tfb, int(b))
                )
    if not d_parts:
        return None
    d = np.concatenate(d_parts)
    tf = np.concatenate(tf_parts)
    poss = np.concatenate(pos_parts)
    pstart = np.zeros(d.size + 1, dtype=np.int64)
    np.cumsum(tf, out=pstart[1:])
    return d, tf, poss, pstart


def _positional_spec(full: list[str], pooled: list[str] = ()) -> tuple:
    """A positional query -> ``(spec, msm, slots)``: a phrase (``full``
    tokens) is ``must: its unique tokens`` with one single-term slot per
    token; match_phrase_prefix (``pooled`` = the prefix's expansions) adds
    ``should: expansions, msm 1`` and one last slot pooling them. The spec
    is built already normalized, so dictionary terms are never
    re-tokenized."""
    spec = {
        "must": sorted(set(full)), "should": sorted(set(pooled)),
        "must_not": [], "filter": [], "boosts": {},
    }
    slots = [(t,) for t in full] + ([tuple(pooled)] if pooled else [])
    return spec, (1 if pooled else 0), slots


def _positional_topk(
    plans: dict, slots: dict, dec: dict, rows_of: dict,
    lo: int, span: int, k: int, slop: int, tomb,
) -> dict:
    """The positional kernel every phrase / match_phrase_prefix driver
    calls, over the docID window [lo, lo+span): accumulate -> candidates ->
    block-selected position decode -> ``_verify_positions_cell`` -> top-k.

    ``plans``: qid -> ``_plan_terms`` plan; ``slots``: qid -> its position
    slots; ``dec``: term -> (docs relative to ``lo``, tf-norm); ``rows_of``:
    term -> its ``[(enc, docs, tfs)]`` segment rows (GLOBAL docIDs).
    Candidates stay sparse, so one dense accumulator lives at a time, and
    each term's candidate-bearing blocks decode ONCE for the union of its
    queries' candidates; one-slot queries decode no positions. Every plan
    term is scored, so candidates are exactly the nonzero sums and the
    finalize runs over (candidate, score) pairs. Returns qid ->
    [(score, GLOBAL doc_id)] for the queries with a verified doc."""
    cands, need = {}, {}
    for qid, (terms, n_must, n_msm) in plans.items():
        tl = [(*dec[t], w, role) for t, _tid, w, role in terms if t in dec]
        if not tl:
            continue
        sums, _elig = accumulate(tl, lo, span, n_must, n_msm, tomb)
        ids = np.flatnonzero(sums)
        if ids.size == 0:
            continue
        cands[qid] = (ids, sums[ids])
        if len(slots[qid]) > 1:
            for t in {t for slot in slots[qid] for t in slot if t in dec}:
                need.setdefault(t, []).append(ids)
    decoded = {}
    for t, parts in need.items():
        ids = parts[0] if len(parts) == 1 else np.unique(np.concatenate(parts))
        res = _decode_positions_selected(rows_of[t], ids + lo)
        if res is not None:
            d, tf, poss, pstart = res
            decoded[t] = (d - lo, tf, poss, pstart)
    out = {}
    for qid, (ids, vals) in cands.items():
        ok = _verify_positions_cell(slots[qid], decoded, ids, slop)
        if ok.size < ids.size:  # ok is a sorted subset of ids
            vals = vals[np.searchsorted(ids, ok)]
        top = wand._topk_pairs(ok, vals, k)
        if top:
            out[qid] = [(s, d + lo) for s, d in top]
    return out


def _positional_cell(plans: dict, slots: dict, k: int, slop: int):
    """The positional cell scorer of ``_cell_body``: ``_positional_topk``
    over the cell span for every query of the batch. Cell-local
    verification is complete — a doc's postings AND positions for every
    term live wholly inside its cell — so the union of per-cell top-ks
    holds the global top-k, bit-identical to the searcher."""
    term_of = {
        tid: t for terms, _n, _m in plans.values() for t, tid, _w, _r in terms
    }

    def score(dec, rows_of, lo, span, _norms, tomb):
        top = _positional_topk(
            plans, slots, {term_of[t]: v for t, v in dec.items()},
            {term_of[t]: v for t, v in rows_of.items()},
            lo, span, int(k), slop, tomb,
        )
        return [(q, s, d) for q, pairs in top.items() for s, d in pairs]

    return score


def _keep_mask(eligible: np.ndarray):
    """Membership in ``eligible`` (sorted candidate docIDs) as a function
    of a posting docID array -> boolean mask: an O(range) table lookup
    instead of np.isin's sort-based path. The table is built ONCE per call
    and reused for every slot and pooled term. Candidates are dense in
    their own range (for a head-term phrase eligible ≈ every doc; in a
    docpart cell the range is cell-bounded), so the table is small and
    each lookup is one gather."""
    if eligible.size == 0:
        return lambda d: np.zeros(d.size, dtype=bool)
    lo = int(eligible[0])
    width = int(eligible[-1]) - lo + 1
    table = np.zeros(width, dtype=bool)
    table[eligible - lo] = True

    def mask(d: np.ndarray) -> np.ndarray:
        dd = d - lo
        inside = (dd >= 0) & (dd < width)
        out = np.zeros(d.size, dtype=bool)
        out[inside] = table[dd[inside]]
        return out

    return mask


def _sorted_or_sort(a: np.ndarray) -> np.ndarray:
    """Return ``a`` sorted, skipping the sort when it already is — the
    fused (doc, adjusted-position) keys are built from doc-ascending
    segment rows with position-ascending runs, so they arrive sorted by
    construction; the O(n) check replaces an O(n log n) sort while staying
    safe against any future construction change."""
    if a.size > 1 and not bool(np.all(a[1:] >= a[:-1])):
        a.sort()
    return a


def _intersect_sorted_unique(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Intersection of two SORTED arrays of unique keys, by binary probe of
    the smaller into the larger — np.intersect1d re-sorts its concatenated
    input every call (O((n+m) log(n+m))); this is O(min log max)."""
    if a.size == 0 or b.size == 0:
        return np.empty(0, dtype=np.int64)
    if b.size < a.size:
        a, b = b, a
    idx = np.searchsorted(b, a)
    idx[idx == b.size] = b.size - 1
    return a[b[idx] == a]


def _unique_of_sorted(a: np.ndarray) -> np.ndarray:
    """np.unique for an already-sorted array: one neighbor-diff mask, no
    re-sort."""
    if a.size <= 1:
        return a
    return a[np.r_[True, a[1:] != a[:-1]]]


def _slot_occurrences(slot: tuple, decoded: dict, doc: int) -> np.ndarray:
    """A slot's pooled positions in ``doc``: the occurrence runs of every
    slot term holding the doc."""
    runs = []
    for t in slot:
        if t in decoded:
            d, _tf, poss, pstart = decoded[t]
            j = int(np.searchsorted(d, doc))
            if j < d.size and d[j] == doc:
                runs.append(poss[pstart[j] : pstart[j + 1]])
    return np.concatenate(runs) if runs else np.empty(0, dtype=np.int64)


def _verify_per_doc(
    eligible: np.ndarray, slots: list[tuple], decoded: dict, slop: int
) -> list[int]:
    """Per-candidate positional check through the shared ``_matches_occ``
    criterion over pooled slot occurrences — the repeated-term slop path
    and the fused-key-overflow fallback."""
    return [
        int(doc) for doc in eligible
        if _matches_occ(
            [_slot_occurrences(slot, decoded, doc) for slot in slots], slop
        )
    ]


def _verify_positions_cell(
    slots: list[tuple],
    decoded: dict,
    eligible: np.ndarray,
    slop: int,
) -> np.ndarray:
    """Positional verification over any docID space (global, or window-
    or cell-relative): exact fused-key intersection for slop=0, an
    anchor-window sweep for slop>0 when no term repeats across slots, and
    the per-doc ``_matches_occ`` fallback otherwise or on fused-key
    overflow.

    ``slots``: one tuple of terms per phrase position, in order; a slot's
    occurrences in a doc are the POOLED positions of its terms (one term
    for a phrase slot, the expansions for match_phrase_prefix's last one).
    ``decoded``: term -> (docs, tfs, poss, pstart) in ``eligible``'s docID
    space (a term absent from it occurs nowhere); ``eligible``: sorted
    candidate doc ids. Returns the verified doc ids, sorted; a one-slot
    query verifies as ``eligible``. The fused key of a position ``pos`` in
    slot ``s`` of doc ``doc`` is ``doc*span + (pos - s + m)``."""
    m = len(slots)
    if m <= 1:
        return eligible
    terms = {t for slot in slots for t in slot if t in decoded}
    max_pos = max(
        (int(decoded[t][2].max()) for t in terms if decoded[t][2].size),
        default=0,
    )
    span = max_pos + m + slop + 3
    max_doc = int(eligible[-1]) if eligible.size else 0
    if (max_doc + 1) * span >= 2**62 or (
        slop > 0 and sum(map(len, slots)) != len(set().union(*slots))
    ):
        return np.asarray(
            _verify_per_doc(eligible, slots, decoded, slop), dtype=np.int64
        )
    keep_of = _keep_mask(eligible)

    def slot_keys(s: int, slot: tuple) -> np.ndarray:
        parts = []
        for t in slot:
            if t not in decoded:
                continue
            d, tf, poss, pstart = decoded[t]
            keep = keep_of(d)
            if keep.all():
                # head-term phrases: every posting doc is a candidate — the
                # runs tile ``poss`` in order, so the gather is the identity
                dpp = np.repeat(d, tf)
                pp = poss
            else:
                dpp = np.repeat(d[keep], tf[keep])
                pp = codec.gather_runs(poss, pstart[:-1][keep], tf[keep])
            parts.append(dpp * np.int64(span) + (pp - s + m))
        if not parts:
            return np.empty(0, dtype=np.int64)
        # distinct terms never share a position, so pooled keys stay unique
        return _sorted_or_sort(np.concatenate(parts))

    if slop <= 0:
        common = None
        for s, slot in enumerate(slots):
            keys = slot_keys(s, slot)
            common = (
                keys if common is None
                else _intersect_sorted_unique(common, keys)
            )
            if common.size == 0:
                return np.empty(0, dtype=np.int64)
        return _unique_of_sorted(common // np.int64(span))
    keys_by_slot = [slot_keys(s, slot) for s, slot in enumerate(slots)]
    # anchor sweep, segmented by the anchor's ORIGIN slot: an anchor
    # trivially covers its own slot (the key itself is in the window), so
    # each origin segment probes only the OTHER slots — and no global
    # anchor sort/dedupe is needed (a duplicated anchor only repeats a
    # check; survivors are deduped at the end)
    good_parts = []
    for s2, anchors in enumerate(keys_by_slot):
        if anchors.size == 0:
            continue
        ok = np.ones(anchors.size, dtype=bool)
        for s, keys in enumerate(keys_by_slot):
            if s == s2:
                continue
            idx = np.searchsorted(keys, anchors, side="left")
            hit = idx < keys.size
            val = np.empty(anchors.size, dtype=np.int64)
            val[hit] = keys[idx[hit]]
            ok &= hit & (val <= anchors + slop)
            if not ok.any():
                break
        else:
            good_parts.append(anchors[ok])
    good = np.concatenate(good_parts) if good_parts else np.empty(0, np.int64)
    return np.unique(good // np.int64(span))


def phrase_topk_positional_docpart(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    k: int = 10,
    slop: int = 0,
) -> DataFrame:
    """DOCUMENT-partitioned positional phrase batch: the bool_topk_docpart
    shape — each (generation, salt) docID cell is read in place WITH the
    position sidecar, scores and position-verifies its own docs for every
    query of the batch (``_positional_cell``), nothing shuffles, and the
    per-cell candidates merge on the driver. The call runs its Spark job
    at call time and returns a local relation. Bit-identical to the
    per-query positional path and the source-verify path.

    This is also how head-term slop phrases parallelize: the per-query
    shape verifies one query in one task, while each cell here verifies
    its own docID range concurrently."""
    return _phrase_docpart(
        spark, index_dir, _snapshot(index_dir), queries, k, slop
    )


def _phrase_docpart(
    spark, index_dir: str, m: dict, queries, k: int, slop: int,
    term_info: dict | None = None,
) -> DataFrame:
    """``phrase_topk_positional_docpart`` on the snapshot ``m``;
    ``term_info``: the batch's dictionary entries when the caller already
    looked them up (``_plan_batch``)."""
    # token-less texts can match nothing and are dropped
    compiled = {
        int(qid): _positional_spec(ph)
        for qid, text in queries if (ph := tokenize(text))
    }
    slots = {q: e[2] for q, e in compiled.items()}
    cands = _cells(
        spark, index_dir, m, {q: e[0] for q, e in compiled.items()},
        {q: e[1] for q, e in compiled.items()},
        lambda _st, plans: _positional_cell(plans, slots, k, slop),
        positions=True, term_info=term_info,
    )
    return _union(spark, [] if cands is None else [
        _merge_on_driver(spark, cands, k)
    ])


def _phrase_topk_positional(
    spark: SparkSession,
    index_dir: str,
    m: dict,
    queries: list[tuple[int, str]],
    k: int,
    slop: int,
) -> DataFrame:
    """Index-side phrase top-k over a POSITIONAL (v2) index in the
    per-query shape: each worker answers its share with
    ``LocalSearcher.search_phrase`` (postings, candidates, block-selected
    position decode, verify) — no source table, no rewrite guard needed
    (work is ∝ the phrase terms' posting volume, the same bound Lucene
    pays). ``m``: the snapshot the caller planned from."""
    items = [(qid, text) for qid, text in queries if tokenize(text)]
    return _searcher_batch(
        spark, index_dir, m, "search_phrase", items, k, slop=slop
    )


def match_phrase_prefix_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    k: int = 10,
    max_expansions: int = 50,
) -> DataFrame:
    """ES ``match_phrase_prefix`` — the autocomplete query: the LAST token
    is a prefix, every earlier token an exact phrase slot; a doc matches
    when the full tokens appear adjacently followed by ANY dictionary
    expansion of the prefix (term-asc, capped at ``max_expansions`` —
    ES's rewrite cap). Requires the POSITIONAL (v2) layout: adjacency is
    answered from the index alone, like ``phrase_topk``'s positional
    route (Lucene runs this as MultiPhrasePrefixQuery over positions the
    same way).

    Scoring (documented engine semantics, oracle-expressible): BM25 over
    the full tokens PLUS every capped expansion the doc contains —
    sorted-term fold over that union, i.e. exactly a bool query on
    (full ∪ present expansions), with eligibility = the positional
    adjacency above. A single-token query (prefix only) degenerates to
    the ES prefix query with an any-occurrence match, scored the same
    scoring_boolean way.

    Runs in the per-query shape like ``_phrase_topk_positional``: each
    worker answers with ``LocalSearcher.search_phrase_prefix``, which
    expands the prefix over its pinned snapshot's dictionary and runs the
    same plan + slots kernel with the expansions pooled in the last
    slot."""
    m = _snapshot(index_dir)
    if not m.get("positions"):
        raise ValueError(
            "match_phrase_prefix needs a POSITIONAL index "
            "(build_index(positions=True)) — the v1 layout cannot verify "
            "adjacency index-side"
        )
    items = [(qid, text) for qid, text in queries if tokenize(text)]
    return _searcher_batch(
        spark, index_dir, m, "search_phrase_prefix", items, k,
        max_expansions=max_expansions,
    )


PHRASE_MAX_CANDIDATES = 1_000_000
# auto-routing (docpart='auto'): a positional phrase whose terms' summed
# document frequency exceeds this runs on the cell-parallel docpart path —
# the per-query shape decodes ALL of those terms' postings+positions in
# ONE task, so head-term phrases ("the and") serialize there while docpart
# splits the same work across (generation, salt) cells, whose count grows
# with the corpus. Both paths are bit-identical, so routing is purely a
# physical-plan choice (Catalyst-style: same logical query, cheaper shape).
PHRASE_DOCPART_DF_SUM = 100_000


def phrase_topk(
    spark: SparkSession,
    index_dir: str,
    source: DataFrame | None,
    queries: list[tuple[int, str]],
    k: int = 10,
    docpart: bool | str = "auto",
    max_candidates: int = PHRASE_MAX_CANDIDATES,
    on_overflow: str = "error",
    slop: int = 0,
    use_positions: str = "auto",
) -> DataFrame:
    """Batched exact phrase top-k (match-then-verify; module doc).

    ``slop`` (default 0 = exact adjacency) relaxes the verify exactly like
    ES ``match_phrase``'s slop parameter: see ``_matches_phrase`` for the
    Lucene span-of-adjusted-positions criterion (transposition costs 2).
    Candidate generation is slop-independent — candidates are always the
    conjunctive term match — so only the verify predicate changes.

    ``docpart`` (positional indexes): ``'auto'`` (default) routes each
    query by its terms' summed df — above ``PHRASE_DOCPART_DF_SUM`` the
    cell-parallel ``phrase_topk_positional_docpart`` shape runs it (one
    task per docID cell instead of one task per query); ``True``/``False``
    force a path. All three produce bit-identical results.

    ``source``: the corpus table with (url, html) — the same rows the index
    was built from (the reference keeps _source outside ES and re-reads by
    PK; scores.json:3-5). Verification re-extracts text from html with the
    SAME extract+tokenize the build used (build.py's byte-identity
    invariant), so the adjacency check runs on exactly the indexed token
    stream. Returns (query_id, rank, doc_id, score) where doc_id is the
    INDEX docID (join docmap for urls) and score is BM25 over the phrase's
    unique terms, bit-identical to a plain query on them.

    Plan discipline: candidates are collected once (one Arrow collect of
    at most ``max_candidates`` + 1 rows) and shipped back as a local
    relation BROADCAST-pinned into both verify joins, so the docmap and
    — critically — the SOURCE scan never shuffle: at 100 TB a sort-merge
    fallback would exchange the full (url, html) corpus to verify a
    handful of docs. The
    pin is safe because the candidate count is BOUNDED first: a phrase of
    head terms ("the of") has candidates ≈ N, which no positions-free
    verify should attempt — above ``max_candidates`` the call raises
    ValueError (``on_overflow='error'``, ES's rewrite-guard analog; a
    positional index is the real fix for such phrases) or, with
    ``on_overflow='scan'``, falls back to an explicitly-chosen unpinned
    corpus-scan join (documented cost: one full source shuffle).
    """
    if on_overflow not in ("error", "scan"):
        raise ValueError("on_overflow must be 'error' or 'scan'")
    if slop < 0:
        raise ValueError("slop must be >= 0")
    if use_positions not in ("auto", "never", "require"):
        raise ValueError("use_positions must be 'auto', 'never', or 'require'")
    if docpart not in (True, False, "auto"):
        raise ValueError("docpart must be True, False, or 'auto'")
    # ONE manifest read plans the whole call: the route, the 'auto' df
    # split and both halves of the batch (or the candidates and the
    # docmap of the source-verify route) come from it, so a commit
    # landing mid-call cannot answer part of the batch from a newer
    # generation
    m = _snapshot(index_dir)
    # positional (v2) route: the index answers phrases alone — no source
    # scan, no candidate guard (work ∝ the phrase terms' posting volume);
    # docpart routes to the cell-parallel shape. 'auto' (default) splits
    # the batch by the terms' summed df — a driver-side pyarrow dictionary
    # seek, no Spark job — so head-term phrases land on docpart without
    # the caller knowing the corpus statistics (PHRASE_DOCPART_DF_SUM).
    if use_positions != "never" and m.get("positions"):
        if docpart == "auto":
            from .dictionary import lookup_term_info

            phs = {int(qid): set(tokenize(text)) for qid, text in queries}
            ti = lookup_term_info(
                index_dir, sorted({t for s in phs.values() for t in s}),
                m,
            )
            heavy = {
                qid
                for qid, terms in phs.items()
                if terms
                and all(t in ti for t in terms)
                and sum(ti[t][1] for t in terms) > PHRASE_DOCPART_DF_SUM
            }
            parts = []
            if heavy:
                parts.append(_phrase_docpart(
                    spark, index_dir, m,
                    [(q, t) for q, t in queries if int(q) in heavy], k, slop,
                    term_info=ti,
                ))
            light = [(q, t) for q, t in queries if int(q) not in heavy]
            if light or not parts:
                parts.append(_phrase_topk_positional(
                    spark, index_dir, m, light, k, slop
                ))
            return _union(spark, parts)
        if docpart:
            return _phrase_docpart(spark, index_dir, m, queries, k, slop)
        return _phrase_topk_positional(spark, index_dir, m, queries, k, slop)
    if use_positions == "require":
        raise ValueError(
            "use_positions='require' needs a positional index "
            "(build_index(positions=True))"
        )
    if source is None:
        raise ValueError(
            "phrase_topk needs the source table for verification on a "
            "positions-free index (or build with positions=True)"
        )
    phrases = {qid: tokenize(text) for qid, text in queries}
    # phase 1: conjunctive candidates + scores = bool must-query over the
    # phrase's unique terms, with k large enough to keep EVERY candidate
    # (verification prunes after; per-query candidate count is bounded by
    # the rarest term's df)
    bool_queries = [
        (qid, {"must": list(dict.fromkeys(ph))})
        for qid, ph in phrases.items()
        if ph
    ]
    if not bool_queries:
        return spark.createDataFrame([], RESULT_SCHEMA)
    # docpart=True routes candidate generation through the queries-to-data
    # shape (each term decodes once per docID cell, independent of the
    # batch size) — same candidates and scores bit-identically, the right
    # form for 10^4-phrase batches sharing head terms. With k unbounded a
    # cell's candidates are all its matches, so the lazy per-cell frame is
    # the candidate set and needs no merge.
    # ('auto' means per-query here: the source-verify guard already refuses
    # head-term phrases, so candidates are few and per-query joins win)
    if docpart is True:
        specs, msms, _structs = _bool_plans(m, bool_queries)
        cands = _cells(
            spark, index_dir, m, specs, msms,
            lambda st, plans: _bool_cell(st, plans, {}, 2**31 - 1),
        )
        cands = _union(spark, []) if cands is None else cands
    else:
        cands = _bool_topk(spark, index_dir, m, bool_queries, 2**31 - 1)
    # bound before pinning: candidates within the bound are collected once,
    # as Arrow (at most max_candidates + 1 rows of three 8-byte columns),
    # and shipped back as a local relation both verify joins read — one
    # candidate job, and nothing left cached in the session
    got = cands.select("query_id", "doc_id", "score").limit(
        max_candidates + 1
    ).toArrow()
    if got.num_rows > max_candidates:
        if on_overflow == "error":
            raise ValueError(
                f"phrase verify would check more than {max_candidates} "
                f"candidate docs (max_candidates={max_candidates}): the "
                "phrase's terms are too frequent for a positions-free "
                "match-then-verify (ES rewrite-guard analog). Raise "
                "max_candidates, pass on_overflow='scan' to accept a full "
                "corpus-scan join, or index positions"
            )
        pin = lambda df: df  # documented corpus-scan mode: no broadcast pin
    else:
        cands = spark.createDataFrame(
            got, "query_id bigint, doc_id bigint, score double"
        )
        pin = F.broadcast

    # phase 2: verify adjacency against the source text. candidates ->
    # docmap(url) -> source(text); candidates are the pinned small side of
    # BOTH joins (docmap and source stream, never exchange).
    from ..sources.catalog import committed_gen_paths

    docmap = spark.read.parquet(*committed_gen_paths(index_dir, "docmap", m))
    cd = pin(cands).join(docmap.select("doc_id", "url"), "doc_id")
    joined = (
        pin(cd)
        .join(source.select("url", "html"), "url")
        .select("query_id", "doc_id", "score", "html")
    )
    phrases_b = {int(q): p for q, p in phrases.items()}

    def verify(batches):
        # absolute import: this body executes on executors (shipped zip)
        from osu_elastic_indexer_spark.functions.textprep import extract_text

        for pdf in batches:
            if len(pdf) == 0:
                continue
            keep = [
                _matches_phrase(
                    tokenize(extract_text(h)), phrases_b.get(int(q), []), slop
                )
                for q, h in zip(pdf["query_id"], pdf["html"])
            ]
            out = pdf.loc[keep, ["query_id", "doc_id", "score"]]
            if len(out):
                yield out

    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        joined.mapInPandas(
            verify, "query_id bigint, doc_id bigint, score double"
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("query_id", "rank", "doc_id", "score")
    )
