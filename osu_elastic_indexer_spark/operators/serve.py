"""Single-node serving tier: millisecond BM25 top-k over a built index.

The reference serves queries from Elasticsearch — a long-lived process with
the index hot. The Spark jobs in operators/wand.py and boolquery.py are the
BATCH query path (thousands of queries per job); interactive p50 latency is
a serving concern, so this module reads the SAME segment/dictionary/stats
parquet directly with pyarrow. No Spark session involved.

``LocalSearcher`` is a thin driver around the scoring kernels: match
queries run ``taat_topk``/``bmw_topk`` (wand.py), bool queries
``score_bool`` and positional phrases and match_phrase_prefix
boolquery.py's plan + slots kernel ``_positional_topk``, both over the
corpus window [0, len(norms)). It is also the body of the per-query Spark
shape: ``boolquery._searcher_batch`` ships a batch's queries to the Python
workers, each of which answers its share on a searcher opened from the
driver's manifest snapshot (``manifest=``) with a share of the cache
budgets (``cache_share=``). Results are rank-identical to the docpart
Spark shape by construction (same files, same scoring code). What is
searcher-specific is where postings come from and what stays hot:

* **One snapshot, pinned at open.** The manifest is read once; the
  searcher keeps that snapshot's committed file lists (segments,
  dictionary, docmap, norms, tombstones), its ``commit_seq`` and its
  keyword/numeric field lists, and answers every query from them. A later
  commit is invisible until the caller opens a new searcher, so no cache
  entry can ever go stale.
* **Three hot caches**, each a ``_SizedLRU`` (least-recently-used order,
  running size total kept on every insert and removal, so bounding one is
  O(evictions), never a re-sum):
  decoded postings (term -> the kernel's query-independent
  ``(docs, tf-norm)``, billed in postings), positional rows (term -> its
  segment rows with the position blob and block metadata, docs and tfs
  decoded, billed in bytes — a phrase query runs only the block-selected
  position decode and the verify kernel over them), and prefix expansions
  (``(token, max_expansions)`` -> expanded terms). After one pass over a
  query mix, repeating it reads no parquet at all.
* **Cold reads** seek by row group (``state.RowGroupSeek``, the Lucene
  term-index seek): segment files are term_id-sorted and dict_by_term
  files term-sorted, so one footer pass per table at open maps each row
  group to its [min, max], and a lookup reads only the groups that can
  hold its terms — a term's segment rows, or its dictionary delta rows
  across every generation.

At real scale this is the searcher fleet next to the object store.
"""

from __future__ import annotations

from collections import OrderedDict
from collections.abc import MutableMapping

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from ..functions import codec
from ..functions.textprep import tokenize
from .wand import (
    TAAT_MAX_POSTINGS,
    _segment_rows,
    bmw_topk,
    decode_term,
    idf_of,
    score_bool,
    taat_topk,
)

_SEG_COLS = [
    "term_id", "doc_min", "n_docs", "docs_blob", "tfs_blob",
    "doc_offs", "tf_offs", "block_first", "block_last",
    "block_max_tf", "block_min_dl",
]

# Decoded-postings cache budget of a serving searcher (~16 bytes/posting;
# the worker searchers of a per-query Spark batch split it). Aligned
# with TAAT_MAX_POSTINGS: df-based dispatch routes terms with up to that
# many postings to the TAAT/cache path, so a smaller budget could never
# retain the densest head term — it would be re-read and re-decoded on
# EVERY query, the exact workload the cache exists for.
_DECODE_CACHE_MAX_POSTINGS = TAAT_MAX_POSTINGS

# positional-row cache budget — BYTES, not posting counts: a row entry
# holds the position blob (~ token volume, an order beyond docs/tfs), its
# block metadata and the decoded docs + tfs. 32 B/posting * the TAAT
# envelope = 2x the postings cache's ~16 B/posting worst case.
_POS_CACHE_MAX_BYTES = 32 * TAAT_MAX_POSTINGS

# prefix-expansion memo budget, in expanded terms held (each entry is
# billed its term count + 1): ~1k prefixes at the default 50 expansions
_PREFIX_MEMO_MAX_TERMS = 1 << 16


class _SizedLRU(MutableMapping):
    """A mapping in least- to most-recently-used order that keeps the
    running total of its entries' sizes.

    ``sizer(value)`` runs once per insert and its result is stored beside
    the entry; every way an entry leaves — ``del``, ``pop``, ``popitem``,
    ``clear``, ``evict`` — subtracts that stored size, so ``total`` is
    exact without ever re-summing. Assignment (also of an existing key)
    and ``hit`` make an entry the most recently used."""

    def __init__(self, sizer) -> None:
        self.sizer = sizer
        self._data: OrderedDict = OrderedDict()  # key -> (value, size)
        self.total = 0

    def __getitem__(self, key):
        return self._data[key][0]

    def __setitem__(self, key, value) -> None:
        size = self.sizer(value)
        old = self._data.pop(key, None)
        if old is not None:
            self.total -= old[1]
        self._data[key] = (value, size)
        self.total += size

    def __delitem__(self, key) -> None:
        self.total -= self._data.pop(key)[1]

    def __iter__(self):
        return iter(self._data)

    def __len__(self) -> int:
        return len(self._data)

    def clear(self) -> None:
        self._data.clear()
        self.total = 0

    def hit(self, key):
        """The value of ``key``, now the most recently used; None if
        absent."""
        e = self._data.get(key)
        if e is None:
            return None
        self._data.move_to_end(key)
        return e[0]

    def evict(self, budget: int, keep: int) -> None:
        """Drop least-recently-used entries while ``total`` exceeds
        ``budget``, never the ``keep`` most recent ones."""
        while self.total > budget and len(self._data) > keep:
            self.total -= self._data.popitem(last=False)[1][1]


def _row_bytes(term_rows: list[tuple]) -> int:
    """Size of a positional-row entry ``[(enc, docs, tfs), ...]`` in bytes:
    every blob, metadata array and decoded array it keeps alive."""
    n = 0
    for enc, d, tf in term_rows:
        n += d.nbytes + tf.nbytes
        for v in enc.values():
            if isinstance(v, np.ndarray):
                n += v.nbytes
            elif isinstance(v, bytes):
                n += len(v)
    return n


def _own_row(enc: dict) -> dict:
    """A positional-row cache copy of one segment row: the docs/tfs blobs
    are dropped (their decode is cached beside it) and the metadata arrays
    copied out of the read's shared buffers, so an entry keeps alive
    exactly the bytes ``_row_bytes`` bills it for."""
    return {
        c: v.copy() if isinstance(v, np.ndarray) else v
        for c, v in enc.items() if c not in ("docs_blob", "tfs_blob")
    }


def _member_mask(farr: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """Membership of doc_id-sorted ``ids`` in the sorted filter array
    (searchsorted probe; an EMPTY filter array matches nothing)."""
    if farr.size == 0:
        return np.zeros(ids.size, dtype=bool)
    j = np.searchsorted(farr, ids)
    return (j < farr.size) & (farr[np.minimum(j, farr.size - 1)] == ids)


class LocalSearcher:
    """Pins one committed snapshot at open; serves top-k queries from it in
    milliseconds (module doc).

    ``manifest``: the snapshot to pin, as read by the caller; default the
    one committed now. ``cache_share``: the fraction of the decoded-postings
    and positional-row budgets this searcher may hold — 1.0 for a serving
    process; a per-query Spark batch gives each worker's searcher an equal
    share, so the workers together hold one searcher's budget."""

    def __init__(
        self, index_dir: str, manifest: dict | None = None,
        cache_share: float = 1.0,
    ):
        from ..sources.catalog import (
            FORMAT_VERSION,
            assert_index_readable,
            committed_gen_paths,
            read_index_manifest,
            resolve_table_dir,
        )
        from .state import (
            RowGroupSeek,
            _parquet_files,
            load_norms,
            load_tombstones,
        )

        self.index_dir = index_dir
        self._cache_share = float(cache_share)
        # THE snapshot: every path, counter and field list below comes
        # from this one manifest, never from a later one
        m = manifest if manifest is not None else read_index_manifest(index_dir)
        # closed-index parity: a closed ES index rejects searches too
        # (CloseIndexCommand.cs) — a searcher must refuse to open it
        assert_index_readable(index_dir, m)
        if m is not None and m.get("format") != FORMAT_VERSION:
            raise RuntimeError(
                f"index at {index_dir} has on-disk format {m.get('format')}, "
                f"searcher expects {FORMAT_VERSION} — rebuild the index"
            )
        m = m or {}

        def gen_paths(table: str) -> tuple[str, ...]:
            return tuple(committed_gen_paths(index_dir, table, m))

        # v2 positional layout flag (build_index(positions=True)) — lets
        # search_phrase answer from the index alone, no source parquet
        self.positions = bool(m.get("positions"))
        self._seq = int(m.get("commit_seq", 0))
        self._keyword_fields = tuple(m.get("keyword_fields") or ())
        self._numeric_fields = tuple(m.get("numeric_fields") or ())
        self._docmap_paths = gen_paths("docmap")
        st = pq.read_table(resolve_table_dir(index_dir, "stats", m)).to_pylist()[0]
        self.n_docs = int(st["n_docs"])
        self.avgdl = float(st["avgdl"])
        # term -> (term_id, df): lazy footer-pruned seeks of the
        # term-SORTED dict_by_term projection's committed generations (the
        # Lucene term-dictionary-seek analog — a searcher never holds 10^8
        # terms in a python dict); per-gen DELTA rows fold at lookup
        # (term_id = max, df = sum — operators/dictionary.py). Resolved
        # terms are memoized.
        self._dict: dict[str, tuple[int, int]] = {}
        self._dict_seek = RowGroupSeek(
            _parquet_files(gen_paths("dict_by_term")), "term"
        )
        # norms + tombstones via the shared executor-side loaders (sorted
        # int64 arrays; the Lucene live-docs/norms analog a searcher keeps
        # hot), keyed by the snapshot's monotonic commit_seq
        self.norms = load_norms(gen_paths("fwd"), self._seq)
        self.tombstones = load_tombstones(gen_paths("tombstones"), self._seq)
        # segment files are term_id-sorted with ~1 MB row groups
        # (build.SEGMENT_ROW_GROUP_BYTES): one footer pass here, and a term
        # reads only its covering groups (empty-corpus / all-deleted
        # indexes commit no segment file and serve empty results)
        self._seg_seek = RowGroupSeek(
            _parquet_files(gen_paths("segments")), "term_id"
        )
        # the hot caches (module doc): decoded postings (docs, tfn) for
        # match/bool billed per posting, positional segment rows for
        # phrases billed in bytes, prefix expansions billed per term
        self._decoded = _SizedLRU(lambda e: e[0].size)
        self._pos_decoded = _SizedLRU(_row_bytes)
        self._prefix_terms = _SizedLRU(lambda terms: len(terms) + 1)

    def _load_term_rows(
        self, term_ids: list[int], with_positions: bool = False
    ) -> dict[int, list[dict]]:
        cols = _SEG_COLS + ["pos_blob", "pos_offs"] if with_positions else _SEG_COLS
        return _segment_rows(self._seg_seek.read(cols, values=term_ids))

    def _resolve_terms(self, terms: list[str]) -> None:
        """Memoize term -> (term_id, df) for unseen terms via ONE seek of
        the term-sorted projection. Misses are memoized as absent so a hot
        OOV term never re-reads."""
        miss = [t for t in terms if t not in self._dict]
        if not miss:
            return
        from .dictionary import seek_term_info

        found = seek_term_info(self._dict_seek, miss)
        for t in miss:
            self._dict[t] = found.get(t)

    def search(self, query_text: str, k: int = 10) -> list[tuple[int, float]]:
        """-> [(doc_id, score)] — rank-identical to oracle and Spark paths.

        Head-term latency: the TAAT path keeps a BOUNDED decoded-postings
        cache (term -> (docs, tfn) arrays, _DECODE_CACHE_MAX_POSTINGS) —
        reference query sets share head terms heavily, and the varbyte
        decode of a dense term dominated the old dense-query p50. A cached
        term also skips the segments parquet read entirely."""
        return self._search_terms(sorted(set(tokenize(query_text))), k)

    def _search_terms(
        self, terms: list[str], k: int
    ) -> list[tuple[int, float]]:
        """``search`` over already-tokenized, sorted, unique terms."""
        self._resolve_terms(terms)
        infos = [
            (t, self._dict[t]) for t in terms if self._dict.get(t) is not None
        ]
        if not infos:
            return []
        # dispatch on the dictionary's df (live-doc estimate of postings
        # volume — a pure perf heuristic, both cores are exact)
        est_total = sum(df for _t, (_tid, df) in infos)
        use_taat = est_total <= TAAT_MAX_POSTINGS
        if use_taat:
            self._decoded_for(infos)  # every term lands in the decode cache
            rows = {}  # taat_topk reads cache entries, not segment rows
        else:
            rows = self._load_term_rows([tid for _t, (tid, _df) in infos])
        entries = []
        for t, (tid, df) in infos:
            entries.append((t, idf_of(self.n_docs, df), rows.get(tid, [])))
        if use_taat:
            res = taat_topk(
                entries, k, self.avgdl, self.norms, self.tombstones,
                decode_cache=self._decoded,
            )
            self._bound_decode_cache()
        else:
            res = bmw_topk(
                entries, k, self.avgdl, self.norms, self.tombstones
            )
        return [(doc, score) for score, doc in res]

    def _decoded_for(self, infos: list[tuple[str, tuple[int, int]]]) -> None:
        """Ensure every term in ``infos`` is decoded into the cache, as the
        most recently used entries (eviction drops the least-recently-USED
        term, not the oldest-inserted — often the hottest head term)."""
        need = [
            (t, tid) for t, (tid, _df) in infos
            if self._decoded.hit(t) is None
        ]
        rows = self._load_term_rows([tid for _t, tid in need]) if need else {}
        self._decode_terms_parallel(need, rows)

    def search_bool(self, spec: dict, k: int = 10) -> list[tuple[int, float]]:
        """ES bool-query serving: must (scored AND), should (scored OR),
        must_not (excluded), filter (required, UNSCORED — ES filter
        context), filter_range (structured docmap-field restriction) and
        filter_term (declared-keyword-field exact match — the
        country_code/ruleset_id analog) — the same spec validation, term
        plan and ``score_bool`` kernel call as operators/boolquery.bool_topk,
        over the corpus-anchored window [0, len(norms)), so results are
        bit-identical to the Spark paths. Always the dense/cache path: the
        eligibility masks need full postings regardless of df."""
        from .boolquery import (
            _CLAUSES,
            _check_spec,
            _get_msm,
            _normalize_spec,
            _plan_terms,
            _struct_arrays,
        )

        s = _normalize_spec(spec)
        fr, ft, fe = _check_spec(
            spec, s, self._keyword_fields, self._numeric_fields
        )
        self._resolve_terms(sorted({t for c in _CLAUSES for t in s[c]}))
        plan = _plan_terms(s, _get_msm(spec, s), self._dict, self.n_docs)
        if plan is None:
            return []
        terms, n_must, n_msm = plan
        self._decoded_for([(t, self._dict[t]) for t, _tid, _w, _r in terms])
        # a dictionary row without live postings has no cache entry
        tl = [
            (*self._decoded[t], w, role)
            for t, _tid, w, role in terms if t in self._decoded
        ]
        struct = None
        if fr or ft or fe:
            # same worker-cached pushed docmap scans as the Spark path
            struct = _struct_arrays(fr, ft, fe, self._docmap_paths, self._seq)
        top = score_bool(
            tl, 0, self.norms.size, k, n_must, n_msm, self.norms,
            self.tombstones, struct,
        )
        self._bound_decode_cache()
        return [(doc, score) for score, doc in top]

    def search_sort(
        self,
        sort_field: str,
        k: int = 10,
        ascending: bool = False,
        filter_term: dict | None = None,
        filter_range: dict | None = None,
        after: tuple | None = None,
    ) -> list[tuple[int, object]]:
        """ES ``sort``-query serving (the JVM-free mirror of
        operators/sortquery.sort_topk): the sort column loads ONCE per
        (field, commit) into the worker doc-value cache
        (state.load_sort_column — the Lucene doc_values analog) and the
        filter restrictions resolve to the SAME cached docID arrays the
        bool filter context uses, so a repeated sort query is pure numpy
        over cached arrays — no rescan. Missing (null) sort values rank
        last (ES ``missing: _last``), ties break doc_id ascending —
        row-identical to the Spark path. ``after`` = ES ``search_after``
        deep paging: the previous page's last (sort value, doc_id) key.
        Returns [(doc_id, sort_value)]."""
        self._check_doc_value_field("sort field", sort_field)
        ids, vals, keep, valid = self._doc_values(
            sort_field, filter_term, filter_range
        )
        if ids.size == 0:
            return []
        if after is not None:
            av, ad = after
            if av is None:
                # cursor already in the null tail: later-docID nulls only
                keep &= ~valid & (ids > int(ad))
            else:
                # compare on VALID entries only (None in an object array
                # would raise on <, >); nulls always survive a non-null
                # cursor (they rank after every value)
                further = np.zeros(ids.size, dtype=bool)
                eqv = np.zeros(ids.size, dtype=bool)
                vi = np.flatnonzero(valid)
                vv = vals[vi]
                further[vi] = (vv > av) if ascending else (vv < av)
                eqv[vi] = vv == av
                keep &= ~valid | further | (eqv & (ids > int(ad)))
        sel = keep & valid
        ids_v, vals_v = ids[sel], vals[sel]
        if ascending:
            order = np.lexsort((ids_v, vals_v))[: int(k)]
        else:
            # vals desc with doc_id ASC ties: ascending lexsort with ids
            # negated, then reversed
            order = np.lexsort((-ids_v, vals_v))[::-1][: int(k)]
        out = [(int(ids_v[i]), vals_v[i]) for i in order]
        if len(out) < int(k):
            # ES missing:_last tail — null sort values, doc_id ascending
            rest = np.sort(ids[keep & ~valid])[: int(k) - len(out)]
            out.extend((int(d), None) for d in rest)
        return out

    def _check_doc_value_field(self, what: str, field: str) -> None:
        from .sortquery import sortable_fields

        fields = sortable_fields(
            self.index_dir, self._keyword_fields, self._numeric_fields
        )
        if field not in fields:
            raise ValueError(
                f"{what} {field!r} not a stored docmap field of this "
                f"index; it carries: {list(fields)}"
            )

    def _doc_values(self, field: str, filter_term, filter_range):
        """Shared serving base for sort and the aggs: the snapshot's
        cached doc-value column plus the keep mask of its live docs that
        pass the filters -> (ids, values, keep, valid). The filters resolve
        to the SAME cached sorted docID arrays the bool filter context
        uses (membership via searchsorted on the doc_id-sorted ids)."""
        from .boolquery import _struct_arrays
        from .sortquery import _validated_filters
        from .state import load_sort_column

        fr, ft = _validated_filters(
            self.index_dir, filter_term, filter_range,
            self._keyword_fields, self._numeric_fields,
        )
        ids, vals, valid = load_sort_column(
            self._docmap_paths, self._seq, field
        )
        keep = np.ones(ids.size, dtype=bool)
        for farr in _struct_arrays(fr, ft, (), self._docmap_paths, self._seq):
            keep &= _member_mask(farr, ids)
        if self.tombstones is not None and self.tombstones.size:
            keep &= ~np.isin(ids, self.tombstones)
        return ids, vals, keep, valid

    def agg_terms(
        self,
        field: str,
        k: int = 10,
        filter_term: dict | None = None,
        filter_range: dict | None = None,
    ) -> list[tuple[object, int]]:
        """ES ``terms``-aggregation serving (operators/aggquery.terms_agg,
        JVM-free): np.unique bucket counts over the cached doc-value
        column, top-k by (count desc, value asc). Returns
        [(value, doc_count)]."""
        self._check_doc_value_field("terms_agg field", field)
        _ids, vals, keep, valid = self._doc_values(
            field, filter_term, filter_range
        )
        vv = vals[keep & valid]
        if vv.size == 0:
            return []
        uniq, counts = np.unique(vv, return_counts=True)
        # count desc, value asc: ascending lexsort on (value, -count)
        order = np.lexsort((uniq, -counts))[: int(k)]
        return [(uniq[i], int(counts[i])) for i in order]

    def agg_stats(
        self,
        field: str,
        filter_term: dict | None = None,
        filter_range: dict | None = None,
    ) -> dict:
        """ES ``stats``-aggregation serving (aggquery.stats_agg): one pass
        over the cached numeric doc-value column. Returns {cnt, min_v,
        max_v, avg_v, sum_v} (None-valued beyond cnt when no doc has a
        value, matching the Spark row)."""
        if field not in self._numeric_fields:
            raise ValueError(
                f"stats_agg field {field!r} not a declared numeric "
                f"doc-value field; this index carries: "
                f"{list(self._numeric_fields)}"
            )
        _ids, vals, keep, valid = self._doc_values(
            field, filter_term, filter_range
        )
        vv = vals[keep & valid].astype(np.float64)
        if vv.size == 0:
            return {"cnt": 0, "min_v": None, "max_v": None,
                    "avg_v": None, "sum_v": None}
        return {
            "cnt": int(vv.size),
            "min_v": float(vv.min()),
            "max_v": float(vv.max()),
            "avg_v": float(vv.mean()),
            "sum_v": float(vv.sum()),
        }

    def search_prefix(
        self, prefix: str, k: int = 10, max_expansions: int = 50
    ) -> list[tuple[int, float]]:
        """ES prefix-query serving: expand via the dictionary range seek
        (term-asc, capped — dictionary.lookup_terms_by_prefix) over the
        snapshot's own dictionary seek and score the expansion through the
        normal search path, so results equal a plain query on the expanded
        terms. Expansions are memoized per ``(token, max_expansions)``: the
        snapshot never changes under a searcher, so neither do they.
        Multi-token input is rejected (ES prefix matches one term; see
        boolquery.prefix_topk)."""
        toks = tokenize(prefix)
        if not toks:
            return []
        if len(toks) > 1:
            raise ValueError(
                f"prefix query {prefix!r} tokenizes to {len(toks)} tokens "
                f"({toks}); ES prefix queries match a single term"
            )
        terms = self._expansions(toks[0], max_expansions)
        if not terms:
            return []
        return self._search_terms(terms, k)

    def _expansions(self, token: str, max_expansions: int) -> list[str]:
        """The live dictionary terms starting with ``token`` in this
        snapshot, term-asc and capped (dictionary.lookup_terms_by_prefix
        over the pinned dictionary seek), memoized per
        ``(token, max_expansions)``."""
        from . import dictionary

        key = (token, max_expansions)
        terms = self._prefix_terms.hit(key)
        if terms is None:
            expanded = dictionary.lookup_terms_by_prefix(
                self.index_dir, token, max_expansions, seek=self._dict_seek,
            )
            # as search() would tokenize the joined expansion
            terms = sorted(set(tokenize(" ".join(expanded))))
            self._prefix_terms[key] = terms
            self._prefix_terms.evict(_PREFIX_MEMO_MAX_TERMS, keep=1)
        return terms

    def search_phrase_prefix(
        self, text: str, k: int = 10, max_expansions: int = 50
    ) -> list[tuple[int, float]]:
        """ES ``match_phrase_prefix`` serving (boolquery.
        match_phrase_prefix_topk's semantics): the full tokens as exact
        phrase slots followed by one last slot pooling the prefix's capped
        expansions from this snapshot's dictionary, through the positional
        kernel. Needs a positional index."""
        if not self.positions:
            raise ValueError(
                "match_phrase_prefix needs a POSITIONAL index "
                "(build_index(positions=True))"
            )
        toks = tokenize(text)
        if not toks:
            return []
        exps = self._expansions(toks[-1], max_expansions)
        if not exps:  # no live expansion -> no match (ES: empty)
            return []
        return self._search_positional(toks[:-1], k, 0, exps)

    def search_phrase(
        self, phrase: str, source_path: str | None = None, k: int = 10,
        max_candidates: int | None = None,
        slop: int = 0,
    ) -> list[tuple[int, float]]:
        """match_phrase serving, with the same ES ``match_phrase`` slop
        semantics as operators/boolquery.phrase_topk (span of slot-adjusted
        positions, transposition costs 2).

        On a positional (v2) index, with no ``source_path``, the phrase runs
        the Spark paths' positional kernel (``_positional_topk``) over the
        corpus window: postings from the decoded-postings cache, positions
        block-selected from the positional-row cache (a term's segment rows
        with the position blob and block metadata, docs and tfs decoded,
        read once and kept in a bytes-budgeted LRU) — no source IO, and no
        parquet read once hot.

        Otherwise it is match-then-verify against the SOURCE parquet at
        ``source_path`` (url, html): conjunctive candidates + scores from
        search_bool, candidate urls resolved through the docmap, source rows
        loaded by one pyarrow is_in-filtered read, and each candidate
        re-tokenized with the build's own extract+tokenize. Verification IO
        is ∝ candidates, never corpus size — and the candidate count is
        GUARDED (``max_candidates``, default the Spark path's
        PHRASE_MAX_CANDIDATES): a stopword phrase would otherwise pull a
        corpus-sized url dict + source read through one searcher
        process."""
        from ..functions.textprep import extract_text
        from .boolquery import PHRASE_MAX_CANDIDATES, _matches_phrase
        from .state import _parquet_files

        if max_candidates is None:
            max_candidates = PHRASE_MAX_CANDIDATES
        if slop < 0:
            raise ValueError("slop must be >= 0")
        ph = tokenize(phrase)
        if not ph:
            return []
        if source_path is None:
            if not self.positions:
                raise ValueError(
                    "search_phrase needs source_path on a positions-free "
                    "index (or build with positions=True)"
                )
            return self._search_positional(ph, k, slop)
        cands = self.search_bool(
            {"must": " ".join(dict.fromkeys(ph))}, k=2**31 - 1
        )
        if not cands:
            return []
        if len(cands) > max_candidates:
            raise ValueError(
                f"phrase verify would check {len(cands)} candidate docs "
                f"(> max_candidates={max_candidates}): the phrase's terms "
                "are too frequent for positions-free serving (ES "
                "rewrite-guard analog) — use the Spark path with "
                "on_overflow='scan', or index positions"
            )
        score_by_doc = dict((d, s) for d, s in cands)
        dm_files = _parquet_files(self._docmap_paths)
        import pyarrow as pa

        dm = ds.dataset(dm_files).to_table(
            columns=["doc_id", "url"],
            filter=ds.field("doc_id").isin(
                pa.array(sorted(score_by_doc), pa.int64())
            ),
        )
        doc_by_url = dict(
            zip(dm.column("url").to_pylist(), dm.column("doc_id").to_pylist())
        )
        src = ds.dataset(source_path).to_table(
            columns=["url", "html"],
            filter=ds.field("url").isin(
                pa.array(sorted(doc_by_url), pa.string())
            ),
        )
        out = []
        for u, h in zip(src.column("url").to_pylist(), src.column("html").to_pylist()):
            toks = tokenize(extract_text(h))
            if _matches_phrase(toks, ph, slop):
                d = doc_by_url[u]
                out.append((d, score_by_doc[d]))
        out.sort(key=lambda e: (-e[1], e[0]))
        return out[:k]

    def _search_positional(
        self, full: list[str], k: int, slop: int, pooled: list[str] = ()
    ) -> list[tuple[int, float]]:
        """A phrase (``full`` tokens) or match_phrase_prefix (``pooled``
        expansions) on the positional index: its plan + slots
        (boolquery._positional_spec) through ``_positional_topk`` over the
        window [0, len(norms)), fed by the two hot caches."""
        from .boolquery import _plan_terms, _positional_spec, _positional_topk

        spec, msm, slots = _positional_spec(full, pooled)
        self._resolve_terms(spec["must"] + spec["should"])
        plan = _plan_terms(spec, msm, self._dict, self.n_docs)
        if plan is None:
            return []
        infos = [(t, self._dict[t]) for t, _tid, _w, _r in plan[0]]
        self._decoded_for(infos)
        # a dictionary row without live postings has no cache entry
        dec = {t: self._decoded[t] for t, _i in infos if t in self._decoded}
        need = [
            (t, tid) for t, (tid, _df) in infos if t not in self._pos_decoded
        ]
        if need:
            rows = self._load_term_rows(
                [tid for _t, tid in need], with_positions=True
            )
            for t, tid in need:
                self._pos_decoded[t] = [
                    (_own_row(enc), *codec.decode_postings(enc))
                    for enc in rows.get(tid) or []
                ]
        rows_of = {t: self._pos_decoded.hit(t) for t, _i in infos}
        # never evicts the entries of the query in flight
        self._pos_decoded.evict(
            int(_POS_CACHE_MAX_BYTES * self._cache_share), keep=len(infos)
        )
        top = _positional_topk(
            {0: plan}, {0: slots}, dec, rows_of, 0, self.norms.size, k, slop,
            self.tombstones,
        )
        self._bound_decode_cache()
        return [(doc, score) for score, doc in top.get(0, [])]

    def _decode_terms_parallel(self, need: list, rows: dict) -> None:
        """Decode uncached terms into the cache, MULTI-TERM queries in a
        small thread pool: the varbyte decode kernels are numpy (GIL
        released for the array ops), so a 3-head-term conjunction decodes
        ~Nx faster — this was the serve-tier p90 tail. Entries are stored
        exactly as taat_topk would build them (``decode_term``), so the
        cache-hit path is bit-identical."""
        norms, avgdl = self.norms, self.avgdl

        def dec(item):
            t, tid = item
            encs = rows.get(tid, [])
            if not encs:
                return None
            return t, decode_term(encs, norms, avgdl)[:2]

        if len(need) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(8, len(need))) as ex:
                results = list(ex.map(dec, need))
        else:
            results = [dec(item) for item in need]
        for r in results:
            if r is not None:
                self._decoded[r[0]] = r[1]

    def _bound_decode_cache(self) -> None:
        """Evict least-recently-used decoded terms until under the postings
        budget (~16 bytes/posting: int64 docs + float64 tfs). Always keeps
        at least the most recent entry: evicting the term just decoded
        would guarantee a re-decode on its next appearance while buying
        nothing for the terms that remain."""
        self._decoded.evict(self._decode_budget(), keep=1)

    def _decode_budget(self) -> int:
        """This searcher's share of the decoded-postings budget."""
        return int(_DECODE_CACHE_MAX_POSTINGS * self._cache_share)

    def prefetch(self, terms: list[str]) -> None:
        """Resolve ``terms`` and decode the uncached ones ahead of a batch
        of queries over them: one dictionary read and one segment read for
        the batch instead of one per query. Decoding is skipped (each query
        then decodes its own terms) when the terms' postings exceed this
        searcher's decode budget."""
        self._resolve_terms(terms)
        infos = [
            (t, self._dict[t]) for t in terms if self._dict.get(t) is not None
        ]
        if sum(df for _t, (_tid, df) in infos) <= self._decode_budget():
            self._decoded_for(infos)
