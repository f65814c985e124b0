"""BM25 scoring kernel over the compressed segments table (O3 [ours]).

The query half the reference delegates to Elasticsearch/Lucene
(SURVEY.md §3.4). Every exhaustive scorer in the engine is a thin driver
around the pure-numpy kernel in this module:

* ``decode_term`` — one term's segment rows -> (docs, tf-norm); the only
  vectorized BM25 tf-norm in the query path;
* ``accumulate`` — the role-bit fold of (docs, tfn, idf·boost, role) terms
  into a docID window, with the must / minimum_should_match / must_not /
  structured-filter / tombstone masks;
* ``score_bool`` — accumulate + exact top-k + the ES filter-context
  zero-score tail, the one bool scorer.

The drivers differ only in where postings come from and how big the window
is: the per-query ``applyInPandas`` runner and the docpart cell scorer in
boolquery.py, and ``LocalSearcher`` in serve.py. ``taat_topk`` is the
should-only driver (decode cache, single-term shortcut); ``bmw_topk`` the
block-max WAND cursor that replaces it above ``TAAT_MAX_POSTINGS``.
``wand_topk``/``wand_topk_docpart`` are should-only bool queries.

Exactness discipline (SURVEY.md §4 #5): upper bounds are used ONLY for
skipping (skip iff bound < current kth score, strictly); final scores are
computed from actual (tf, dl) folded in sorted-term order — the same
accumulation order as the pure-python oracle and the brute-force DataFrame
scorer, so results are rank-identical including tie-breaks (doc_id asc).

Per-term virtual posting list: a term's segment rows (salted sub-ranges ×
generations) cover disjoint docID intervals; ordered by doc_min their block
metadata concatenates into one logical block-addressed list — the salted
merge needs no physical pass (operators/build.py module doc).
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..config import DEFAULT
from ..functions import codec
from ..functions.textprep import tokenize

K1 = DEFAULT.bm25_k1
B = DEFAULT.bm25_b

RESULT_SCHEMA = "query_id bigint, rank int, doc_id bigint, score double"


def _tf_norm(tf: float, dl: float, avgdl: float) -> float:
    return tf / (tf + K1 * (1.0 - B + B * dl / avgdl))


class _TermCursor:
    """Iterator over one term's virtual posting list (segment rows ordered by
    doc_min), with block-level skipping and lazy per-block decode. Document
    lengths come from the doc-indexed ``norms`` array (state.load_norms) —
    postings store (doc gaps, tf) only."""

    __slots__ = (
        "term", "idf", "encs", "norms", "blk_row", "blk_in_row", "blk_first",
        "blk_last", "blk_ub", "n_blocks", "cur_blk", "docs", "tfs", "dls",
        "pos", "cur_doc", "ub",
    )

    def __init__(
        self,
        term: str,
        idf: float,
        rows: list[dict],
        avgdl: float,
        norms: np.ndarray,
    ):
        self.term = term
        self.idf = idf
        self.encs = rows
        self.norms = norms
        blk_row, blk_in_row, firsts, lasts, ubs = [], [], [], [], []
        for ri, enc in enumerate(rows):
            nb = len(enc["block_first"])
            blk_row.extend([ri] * nb)
            blk_in_row.extend(range(nb))
            firsts.extend(enc["block_first"])
            lasts.extend(enc["block_last"])
            for b in range(nb):
                mtf = float(enc["block_max_tf"][b])
                mdl = float(enc["block_min_dl"][b])
                ubs.append(idf * _tf_norm(mtf, mdl, avgdl))
        self.blk_row = np.asarray(blk_row, dtype=np.int64)
        self.blk_in_row = np.asarray(blk_in_row, dtype=np.int64)
        self.blk_first = np.asarray(firsts, dtype=np.int64)
        self.blk_last = np.asarray(lasts, dtype=np.int64)
        self.blk_ub = np.asarray(ubs, dtype=np.float64)
        self.n_blocks = len(self.blk_first)
        self.cur_blk = -1
        self.docs = self.tfs = self.dls = None
        self.pos = 0
        self.cur_doc = -1
        # term-global upper bound
        self.ub = float(self.blk_ub.max()) if self.n_blocks else 0.0
        self._load_block(0)

    def _load_block(self, b: int) -> None:
        if b >= self.n_blocks:
            self.cur_doc = 2**62  # exhausted
            return
        self.cur_blk = b
        enc = self.encs[self.blk_row[b]]
        self.docs, self.tfs = codec.decode_block(enc, int(self.blk_in_row[b]))
        self.dls = self.norms[self.docs]
        self.pos = 0
        self.cur_doc = int(self.docs[0])

    def next_geq(self, target: int) -> None:
        """Advance to the first posting with doc_id >= target."""
        if self.cur_doc >= target:
            return
        if target <= self.blk_last[self.cur_blk]:
            # within current block
            self.pos += int(
                np.searchsorted(self.docs[self.pos :], target, side="left")
            )
            self.cur_doc = int(self.docs[self.pos])
            return
        b = int(np.searchsorted(self.blk_last, target, side="left"))
        if b >= self.n_blocks:
            self.cur_doc = 2**62
            return
        self._load_block(b)
        if target > self.blk_first[b]:
            self.pos = int(np.searchsorted(self.docs, target, side="left"))
            self.cur_doc = int(self.docs[self.pos])

    def advance(self) -> None:
        """Advance by one posting."""
        self.pos += 1
        if self.pos < len(self.docs):
            self.cur_doc = int(self.docs[self.pos])
        else:
            self._load_block(self.cur_blk + 1)

    @property
    def exhausted(self) -> bool:
        return self.cur_doc >= 2**62

    def block_ub_for(self, doc: int) -> float:
        """Upper bound of the block that contains (or is next to contain)
        doc — the block-max part of BMW. Assumes cur_doc <= doc handled by
        caller ordering; uses metadata only (no decode)."""
        b = int(np.searchsorted(self.blk_last, doc, side="left"))
        if b >= self.n_blocks:
            return 0.0
        return float(self.blk_ub[b])

    def block_last_for(self, doc: int) -> int:
        b = int(np.searchsorted(self.blk_last, doc, side="left"))
        if b >= self.n_blocks:
            return 2**62
        return int(self.blk_last[b])

    def contribution(self) -> float:
        tf = float(self.tfs[self.pos])
        dl = float(self.dls[self.pos])
        return self.idf * _tf_norm(tf, dl, float(_AVGDL.val))


class _Box:  # tiny mutable holder so _TermCursor.contribution sees avgdl
    __slots__ = ("val",)

    def __init__(self):
        self.val = 1.0


_AVGDL = _Box()


# role bits of one term in one query: _SCORED terms add BM25 (must ∪
# should), _MUST terms are required (must ∪ filter — a filter term is _MUST
# without _SCORED), _SHOULD terms count toward minimum_should_match and
# _MUST_NOT terms exclude every doc they occur in
_SCORED = 1
_MUST = 2
_MUST_NOT = 4
_SHOULD = 8


def idf_of(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def decode_term(
    rows: list[dict], norms: np.ndarray, avgdl: float
) -> tuple[np.ndarray, np.ndarray, list[tuple]]:
    """One term's segment rows, ordered by doc_min (disjoint docID ranges,
    so they concatenate in docID order) -> ``(docs, tfn, parts)``.

    ``tfn`` is the QUERY-INDEPENDENT tf-norm tf/(tf+K1(...)) — a function of
    the index's norms/avgdl only, so long-lived callers may cache it; a
    query multiplies it by its idf·boost weight. ``parts`` keeps each row's
    ``(enc, docs, tfs)`` for the positional pass of the phrase drivers."""
    parts = []
    for enc in rows:
        d, tf = codec.decode_postings(enc)
        parts.append((enc, d, tf))
    d = np.concatenate([p[1] for p in parts])
    tf = np.concatenate([p[2] for p in parts]).astype(np.float64)
    dl = norms[d].astype(np.float64)
    # elementwise twin of _tf_norm's scalar expression tree
    tfn = tf / (tf + K1 * ((1.0 - B) + (B * dl) / avgdl))
    return d, tfn, parts


def accumulate(
    terms: list[tuple],
    lo: int,
    span: int,
    n_must: int = 0,
    n_msm: int = 0,
    tomb: np.ndarray | None = None,
    struct: list[np.ndarray] | None = None,
) -> tuple[np.ndarray, np.ndarray | None]:
    """The role-bit fold over the docID window [lo, lo+span).

    ``terms``: ``(docs, tfn, weight, role)`` in SORTED-TERM order, docs
    relative to ``lo``. Each posting contributes via exactly one ``+=``, so
    every doc's score is the same left fold as the oracle/BMW paths
    (bit-identical). NOTE: np.add.reduceat/np.sum are NOT usable here —
    numpy reductions are pairwise, which reorders float addition. docIDs are
    unique within a term, so fancy-index ``+=`` is exact.

    A doc is eligible when it holds all ``n_must`` required terms, at least
    ``n_msm`` distinct should terms, no must_not term, is in every
    ``struct`` array (sorted GLOBAL docIDs, one per structured filter) and
    is not tombstoned. Returns ``(sums, elig)``: sums zeroed outside
    eligibility, and the eligibility mask the zero-score tail reads (None
    when only tombstones mask — should-only queries)."""
    sums = np.zeros(span, dtype=np.float64)
    must_cnt = np.zeros(span, dtype=np.int16) if n_must else None
    should_cnt = np.zeros(span, dtype=np.int16) if n_msm else None
    excluded = None
    for d, tfn, w, role in terms:
        if role & _SCORED:
            sums[d] += w * tfn
        if role & _MUST and must_cnt is not None:
            must_cnt[d] += 1
        if role & _SHOULD and should_cnt is not None:
            should_cnt[d] += 1
        if role & _MUST_NOT:
            if excluded is None:
                excluded = np.zeros(span, dtype=bool)
            excluded[d] = True
    masks = []
    if must_cnt is not None:
        masks.append(must_cnt >= n_must)
    if should_cnt is not None:
        masks.append(should_cnt >= n_msm)
    if excluded is not None:
        masks.append(~excluded)
    for ids in struct or ():
        m = np.zeros(span, dtype=bool)
        m[ids[(ids >= lo) & (ids < lo + span)] - lo] = True
        masks.append(m)
    elig = masks[0] if masks else None
    for m in masks[1:]:
        elig &= m
    if tomb is not None and tomb.size:
        tt = tomb[(tomb >= lo) & (tomb < lo + span)] - lo
        if elig is None:
            sums[tt] = 0.0
        else:
            elig[tt] = False
    if elig is not None:
        sums *= elig  # x * 1.0 is exact; ineligible docs become +0.0
    return sums, elig


def _zero_score_tail(
    top: list,
    k: int,
    elig: np.ndarray,
    sums: np.ndarray,
    lo: int,
    norms: np.ndarray,
    tomb: np.ndarray | None,
    struct: list[np.ndarray] | None,
) -> list:
    """ES filter-context scoring tail: eligible docs with no scored term
    rank at 0.0 after every positive doc, doc_id ascending. ``struct``
    (passed only for specs with NO required term — filter context alone):
    the tail then covers every INDEXED (dl > 0) live doc matching all the
    structured filters, including docs holding none of the query's terms —
    inside the window and beyond it (enumerated from the intersected filter
    docIDs; they carry no postings, so no must_not term can exclude them)."""
    if len(top) >= k:
        return top
    zeros = np.flatnonzero(elig & (sums <= 0.0)) + lo
    if struct is not None:
        zeros = zeros[zeros < norms.size]
        zeros = zeros[norms[zeros] > 0]
        fd = struct[0]
        for a in struct[1:]:
            fd = np.intersect1d(fd, a, assume_unique=True)
        out = fd[((fd < lo) | (fd >= lo + sums.size)) & (fd < norms.size)]
        out = out[norms[out] > 0]
        if tomb is not None and tomb.size:
            out = out[~np.isin(out, tomb)]
        zeros = np.union1d(zeros, out)
    top.extend((0.0, int(d)) for d in zeros[: k - len(top)])
    return top


def score_bool(
    terms: list[tuple],
    lo: int,
    span: int,
    k: int,
    n_must: int,
    n_msm: int,
    norms: np.ndarray,
    tomb: np.ndarray | None,
    struct: list[np.ndarray] | None,
) -> list[tuple[float, int]]:
    """Exact bool top-k over one window: ``accumulate`` + ``topk_from_dense``
    + the zero-score tail -> [(score, GLOBAL doc_id)]. Filter context (a
    required term or a structured filter) makes zero-score docs hits; under
    msm >= 1 no tail can exist (a should match always scores > 0)."""
    sums, elig = accumulate(terms, lo, span, n_must, n_msm, tomb, struct)
    top = [(s, d + lo) for s, d in topk_from_dense(sums, k)]
    if (n_must or struct is not None) and not n_msm:
        top = _zero_score_tail(
            top, k, elig, sums, lo, norms, tomb, None if n_must else struct
        )
    return top


def taat_topk(
    term_lists: list[tuple[str, float, list[dict]]],
    k: int,
    avgdl: float,
    norms: np.ndarray,
    tombstones: np.ndarray | None = None,
    decode_cache: dict | None = None,
) -> list[tuple[int, float]]:
    """Exact exhaustive term-at-a-time top-k of a should-only query: the
    kernel over the corpus-anchored window [0, len(norms)).

    ``term_lists``: [(term, idf, segment rows ordered by doc_min)];
    ``norms``: doc-indexed dl array (state.load_norms); ``tombstones``:
    sorted deleted-docID array or None.

    This is the fast path for small candidate sets: BMW's per-posting python
    loop costs ~5-10us/doc, which loses to vectorized decode below ~10^6
    candidates (``TAAT_MAX_POSTINGS``).

    ``decode_cache``: optional {term: (docs, tfn)} map a long-lived caller
    (the serving tier) passes in — head terms' varbyte decode dominates the
    dense-query latency, and reference query sets share head terms heavily.
    Entries hold ``decode_term``'s query-independent tf-norm, so a warm
    query pays one idf multiply + scatter per term. Entries are the
    caller's to bound/evict (LocalSearcher keys a searcher to one pinned
    snapshot, so entries can never go stale within its lifetime).
    """
    terms = []
    for t, idf, rows in sorted(term_lists, key=lambda e: e[0]):
        ent = decode_cache.get(t) if decode_cache is not None else None
        if ent is None:
            if not rows:
                continue
            ent = decode_term(rows, norms, avgdl)[:2]
            if decode_cache is not None:
                decode_cache[t] = ent
        terms.append((ent[0], ent[1], idf, _SCORED))
    if not terms:
        return []
    if len(terms) == 1:
        # single-term queries (a large share of real search traffic) never
        # need the dense accumulator: the per-doc score IS the one term's
        # contrib array (nothing to fold), so top-k runs straight over
        # (docs, contribs) — no O(n_docs) zeros, no scatter. Tombstones mask
        # by sorted-array probe. Shares _topk_pairs with topk_from_dense, so
        # ties and ordering are bit-identical to the accumulated path.
        d, tfn, idf, _role = terms[0]
        contrib = idf * tfn
        if tombstones is not None and tombstones.size:
            pos = np.searchsorted(tombstones, d)
            pos[pos == tombstones.size] = tombstones.size - 1
            alive = tombstones[pos] != d
            d, contrib = d[alive], contrib[alive]
        return _topk_pairs(d, contrib, k)
    sums, _elig = accumulate(terms, 0, norms.size, tomb=tombstones)
    return topk_from_dense(
        sums, k, est_matches=sum(e[0].size for e in terms)
    )


def _topk_pairs(
    ids: np.ndarray, vals: np.ndarray, k: int
) -> list[tuple[float, int]]:
    """Shared exact top-k finalize over (doc_id, score>0) pairs: partition
    to the k largest, WIDEN to all ties at the kth value, then one
    (score desc, doc asc) lexsort — the single tie-handling implementation
    every exhaustive scorer funnels through."""
    if k <= 0 or ids.size == 0:
        return []
    if ids.size > k:
        part = np.argpartition(-vals, k - 1)[:k]
        vk = vals[part].min()
        keep = vals >= vk
        ids, vals = ids[keep], vals[keep]
    top = np.lexsort((ids, -vals))[:k]
    return [(float(vals[i]), int(ids[i])) for i in top]


def topk_from_dense(
    sums: np.ndarray, k: int, est_matches: int | None = None
) -> list[tuple[float, int]]:
    """Exact top-k (score desc, doc asc) from a dense per-doc score array
    where matched docs are exactly the nonzero entries (every BM25 contrib
    is > 0). Partition to the k largest, then WIDEN to all ties at the kth
    value before the final lexsort — both exhaustive paths (taat_topk and
    the docpart cell scorer) share this finalization so their tie handling
    can never diverge. ``est_matches``: optional caller estimate of how
    many docs matched (posting volume); when it says the accumulator is
    match-dense, a finalize that skips the full nonzero materialization
    runs instead — same output bit-for-bit."""
    if k <= 0:  # argpartition(kth=k-1) would wrap to -1 and min() an
        return []  # empty slice; bmw_topk has the same guard
    if est_matches is None and sums.size > (1 << 18):
        # no caller estimate on a big span (the bool/phrase runners, whose
        # post-accumulation masks make posting volume a bad proxy): one
        # cheap counting pass measures the TRUE density — count_nonzero is
        # a no-allocation SIMD scan, 2.5-4.5x cheaper than the flatnonzero
        # index build it decides about (measured at 1M: ~2 ms vs 5-9 ms)
        est_matches = int(np.count_nonzero(sums))
    if (
        est_matches is not None
        and sums.size > k
        and 2 * est_matches >= sums.size
    ):
        # dense finalize for MATCH-DENSE accumulators (caller-estimated:
        # total posting volume ~ accumulator span, i.e. head-term
        # queries): partition the accumulator DIRECTLY — the flatnonzero +
        # gather materialization below costs two extra O(n_docs) passes
        # (and ~16 bytes/doc of allocation) that dominate the hot path
        # when most docs matched. When the kth value is 0.0 (< k matched
        # docs) fall through to the sparse path; when it is positive,
        # "score >= vk" selects exactly the docs the nz-based widen kept —
        # identical values, identical (score desc, doc asc) lexsort,
        # bit-identical output.
        part = np.argpartition(-sums, k - 1)[:k]
        vk = sums[part].min()
        if vk > 0.0:
            nz = np.flatnonzero(sums >= vk)
            return _topk_pairs(nz, sums[nz], k)
    nz = np.flatnonzero(sums)
    return _topk_pairs(nz, sums[nz], k)


# BMW pays off above this many total candidate postings (decode-everything
# cost crosses the python-loop cost). Measured at 360k docs: TAAT beats BMW
# ~7x on a dense single-term query ('the': 0.30s vs 2.1s — no skipping is
# possible when every doc matches, so BMW degrades to a per-block python
# loop), and at 1.44M docs the old 1M threshold routed head-term queries to
# BMW for 14-18s p90 while TAAT does them in ~1s. TAAT memory is ~30
# bytes/posting (decoded ids + float64 contribs) -> ~300 MB at this cap,
# safe inside a 4 GB worker alongside the O(n_docs) norms array it already
# holds. Beyond the cap, per-term decode volume makes block-max skipping
# the only sub-linear option.
#
# Masked queries on the per-query runners (boolquery._bool_runner /
# _positional_runner) tighten this envelope to the query's OBSERVED docID
# range (min doc_min .. max doc_max over its segment rows ~ 11 bytes per
# doc-in-range): only head-term queries approach O(n_docs). Large batches
# on any path belong on the docpart variants, whose accumulators are
# sized to the (generation, salt) CELL span only (boolquery._cell_bounds;
# pinned by tests/test_boolquery.py::test_docpart_accumulators_are_cell_sized).
TAAT_MAX_POSTINGS = 10_000_000


def bmw_topk(
    term_lists: list[tuple[str, float, list[dict]]],
    k: int,
    avgdl: float,
    norms: np.ndarray,
    tombstones: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """Exact block-max WAND. term_lists: [(term, idf, segment-row dicts)];
    ``norms``: doc-indexed dl array; ``tombstones``: sorted array or None.
    Returns [(score, doc_id)] tuples ordered by (score desc, doc_id asc) —
    same element order as taat_topk (callers unpack ``for score, doc in``).
    """
    from .state import tomb_contains

    _AVGDL.val = avgdl
    cursors = [
        _TermCursor(t, idf, rows, avgdl, norms)
        for t, idf, rows in term_lists
        if rows
    ]
    cursors = [c for c in cursors if not c.exhausted]
    if not cursors or k <= 0:
        return []

    heap: list[tuple[float, int]] = []  # kept sorted by (-score, doc)

    def theta() -> tuple[float, int]:
        if len(heap) < k:
            return (-math.inf, 2**62)
        return heap[-1]

    def offer(doc: int, score: float) -> None:
        th_s, th_d = theta()
        if len(heap) < k or score > th_s or (score == th_s and doc < th_d):
            heap.append((score, doc))
            heap.sort(key=lambda sd: (-sd[0], sd[1]))
            del heap[k:]

    while True:
        cursors = [c for c in cursors if not c.exhausted]
        if not cursors:
            break
        cursors.sort(key=lambda c: c.cur_doc)
        th_s, _ = theta()
        # pivot: first index where cumulative global UB >= theta score
        # (>= is the conservative tie-safe choice; skip only when strictly <)
        acc = 0.0
        pivot = -1
        for i, c in enumerate(cursors):
            acc += c.ub
            if acc >= th_s:
                pivot = i
                break
        if pivot < 0:
            break  # no doc can reach theta
        pivot_doc = cursors[pivot].cur_doc
        if cursors[0].cur_doc == pivot_doc:
            # all terms 0..pivot are at pivot_doc's range; block-max check
            blk_acc = 0.0
            for c in cursors:
                if c.cur_doc > pivot_doc:
                    break
                blk_acc += c.block_ub_for(pivot_doc)
            if blk_acc >= th_s:
                # full evaluation, fold in sorted-term order
                aligned = [c for c in cursors if c.cur_doc == pivot_doc]
                aligned.sort(key=lambda c: c.term)
                if not tomb_contains(tombstones, pivot_doc):
                    score = 0.0
                    for c in aligned:
                        score += c.contribution()
                    offer(pivot_doc, score)
                for c in aligned:
                    c.advance()
            else:
                # NextShallow: nothing in [pivot_doc, d') can beat theta
                d = min(
                    c.block_last_for(pivot_doc)
                    for c in cursors
                    if c.cur_doc <= pivot_doc
                ) + 1
                if pivot + 1 < len(cursors):
                    d = min(d, cursors[pivot + 1].cur_doc)
                d = max(d, pivot_doc + 1)
                for c in cursors:
                    if c.cur_doc < d:
                        c.next_geq(d)
        else:
            # not aligned: advance a term that is strictly behind the pivot
            # (one with cur_doc == pivot_doc must NOT be picked — next_geq
            # would be a no-op and the loop would not progress); choose the
            # largest-UB one (greedy, any strictly-behind term is correct)
            behind = [c for c in cursors[:pivot] if c.cur_doc < pivot_doc]
            cand = max(behind, key=lambda c: c.ub)
            cand.next_geq(pivot_doc)
    return heap


# ---------------------------------------------------------------------------
# Spark orchestration
# ---------------------------------------------------------------------------


def _row_to_enc(cols: dict, i: int) -> dict:
    """Row ``i`` of an applyInPandas batch's column arrays -> the codec's
    encoded-row dict (plus the positional sidecar when the scan kept it)."""
    enc = {
        "docs_blob": bytes(cols["docs_blob"][i]),
        "tfs_blob": bytes(cols["tfs_blob"][i]),
        "doc_min": int(cols["doc_min"][i]),
    }
    for c in ("doc_offs", "tf_offs", "block_first", "block_last",
              "block_max_tf", "block_min_dl"):
        enc[c] = np.asarray(cols[c][i], dtype=np.int64)
    if "pos_blob" in cols:
        enc["pos_blob"] = bytes(cols["pos_blob"][i])
        enc["pos_offs"] = np.asarray(cols["pos_offs"][i], dtype=np.int64)
    return enc


def _segment_rows(pdf: pd.DataFrame, key: str) -> dict:
    """Group one applyInPandas batch's segment rows by ``key`` (``term`` or
    ``term_id``) -> {key: encoded rows ordered by doc_min}, the order
    ``decode_term`` concatenates in. Column-array access, not iterrows
    (row-at-a-time pandas is the slow path even for small groups)."""
    cols = {c: pdf[c].to_numpy() for c in pdf.columns}
    keys = pdf[key].tolist()  # python str/int keys, not numpy scalars
    out: dict = {}
    for i in range(len(pdf)):
        out.setdefault(keys[i], []).append(_row_to_enc(cols, i))
    for encs in out.values():
        encs.sort(key=lambda e: e["doc_min"])
    return out


# driver-side cache of small per-index state (stats row + tombstone set),
# keyed by the manifest's monotonic commit_seq so any committed change
# invalidates it (mtime is unreliable: coarse-granularity filesystems would
# serve stale state for two commits in the same second) — repeated queries
# skip two Spark jobs each (the p50-latency win)
_INDEX_STATE_CACHE: dict[tuple, tuple] = {}


def manifest_commit_seq(index_dir: str) -> int:
    """The index's monotonic commit counter (0 if no manifest)."""
    import json
    import os

    mpath = f"{index_dir}/manifest.json"
    if not os.path.exists(mpath):
        return 0
    with open(mpath) as f:
        return int(json.load(f).get("commit_seq", 0))


def _index_state(spark: SparkSession, index_dir: str):
    """Driver-side state is SCALARS ONLY (n_docs, avgdl, commit_seq) — the
    tombstone set and the norms array are loaded executor-side from the
    index tables (operators/state.py), never collected to the driver: at
    100 TB with churn a driver collect proportional to delete volume is
    exactly what SURVEY §7.4 #5 forbids."""
    from ..sources.catalog import resolve_table_dir

    key = (index_dir, manifest_commit_seq(index_dir))
    if key in _INDEX_STATE_CACHE:
        return _INDEX_STATE_CACHE[key]
    stats = spark.read.parquet(resolve_table_dir(index_dir, "stats")).collect()[0]
    state = (int(stats.n_docs), float(stats.avgdl), key[1])
    _INDEX_STATE_CACHE.clear()  # keep at most a handful of indexes
    _INDEX_STATE_CACHE[key] = state
    return state


def _should_specs(queries: list[tuple[int, str]]) -> list[tuple[int, dict]]:
    """Match queries as should-only bool specs; token-less texts are
    dropped (they can match nothing — an empty result, like the oracle)."""
    return [(qid, {"should": text}) for qid, text in queries if tokenize(text)]


def wand_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    k: int = 10,
) -> DataFrame:
    """Batched top-k over a built index: one Spark job for all queries.

    -> DataFrame (query_id, rank, doc_id, score). A match query is a
    should-only bool query (``boolquery.bool_topk``): segment rows for the
    batch vocabulary are scanned once and joined to the per-query term map,
    and each query runs ``taat_topk`` — or ``bmw_topk`` above
    ``TAAT_MAX_POSTINGS`` — in one applyInPandas group. Queries whose terms
    are all absent produce no rows (empty result — matches the oracle).
    """
    from ..sources.catalog import assert_index_readable
    from .boolquery import bool_topk

    # closed-index parity: a closed ES index rejects searches too
    # (CloseIndexCommand.cs) — refuse before planning anything
    assert_index_readable(index_dir)
    return bool_topk(spark, index_dir, _should_specs(queries), k)


def wand_topk_docpart(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    k: int = 10,
) -> DataFrame:
    """DOCUMENT-partitioned batch top-k: queries go to the data.

    ``wand_topk`` joins segment rows to the query map, so each term's
    compressed blobs are shuffled once PER SUBSCRIBING QUERY — fine for a
    handful of queries, but a 10^4-query batch sharing Zipf head terms
    multiplies the shuffle by the subscription count. This is the scale
    shape for large batches (the sharded-Lucene form): a should-only
    ``boolquery.bool_topk_docpart`` — segment rows shuffle ONCE per
    (generation, salt) docID cell, each cell scores every query, and one
    tiny window merges the per-cell winners. Rank-identical (bit-identical
    scores) to wand_topk and the oracle.
    """
    from ..sources.catalog import assert_index_readable
    from .boolquery import bool_topk_docpart

    assert_index_readable(index_dir)  # closed-index parity (see wand_topk)
    return bool_topk_docpart(spark, index_dir, _should_specs(queries), k)


def wand_topk_with_urls(
    spark: SparkSession, index_dir: str, queries: list[tuple[int, str]], k: int = 10
) -> DataFrame:
    """Results joined back to the docmap for urls (the reference returns the
    document key; _source stays in the input table — scores.json:3-5)."""
    from ..sources.catalog import committed_gen_paths

    res = wand_topk(spark, index_dir, queries, k)
    docmap = spark.read.parquet(
        *committed_gen_paths(index_dir, "docmap")
    ).select("doc_id", "url")
    return res.join(docmap, "doc_id").select(
        "query_id", "rank", "doc_id", "url", "score"
    )
