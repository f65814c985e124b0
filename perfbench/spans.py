"""Spans recorded from outside the engine.

The benchmark wraps calls into the engine's public functions (and the
pyarrow read the searcher does) with spans: name, start, end, parent and
query id. Spans stay in memory and are written out when the run ends.
The engine itself carries no instrumentation.

A span opened on a thread with no open span (the searcher decodes terms on
a thread pool) takes the current root span as its parent, so the decode
time of a query is attributed to that query.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    """In-memory spans and counters of one run."""

    def __init__(self) -> None:
        self.spans: list[tuple] = []  # (id, name, start_ns, end_ns, parent, qid)
        self.counts: dict[str, int] = defaultdict(int)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self._root: tuple[int, object] | None = None  # (span id, qid)

    @contextlib.contextmanager
    def span(self, name: str, qid=None):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        if stack:
            parent, parent_qid = stack[-1]
        elif self._root is not None:
            parent, parent_qid = self._root
        else:
            parent, parent_qid = None, None
        if qid is None:
            qid = parent_qid
        stack.append((sid, qid))
        is_root = parent is None
        if is_root:
            self._root = (sid, qid)
        start = time.perf_counter_ns()
        try:
            yield sid
        finally:
            end = time.perf_counter_ns()
            stack.pop()
            if is_root:
                self._root = None
            with self._lock:
                self.spans.append((sid, name, start, end, parent, qid))

    def count(self, name: str, n: int = 1) -> None:
        with self._lock:
            self.counts[name] += n

    def wrap(self, fn, name: str, counter=None):
        """``fn`` wrapped in a span; ``counter(tracer, args, kwargs,
        result)`` may add to named counts at the same boundary."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                res = fn(*args, **kwargs)
            if counter is not None:
                counter(self, args, kwargs, res)
            return res

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, name, s, e, parent, qid in self.spans:
                f.write(json.dumps({
                    "id": sid, "name": name, "start_ns": s, "end_ns": e,
                    "parent": parent, "qid": qid,
                }) + "\n")


def self_times(spans) -> dict[int, int]:
    """span id -> self time in ns: the span's duration minus the part of
    its interval covered by its children (overlapping children, as from a
    thread pool, are counted once)."""
    children: dict[int, list[tuple[int, int]]] = defaultdict(list)
    for _sid, _n, s, e, parent, _q in spans:
        if parent is not None:
            children[parent].append((s, e))
    out = {}
    for sid, _n, s, e, _p, _q in spans:
        covered = 0
        cur_s = cur_e = None
        for cs, ce in sorted(children.get(sid, ())):
            cs, ce = max(cs, s), min(ce, e)
            if ce <= cs:
                continue
            if cur_e is None or cs > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = cs, ce
            else:
                cur_e = max(cur_e, ce)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[sid] = (e - s) - covered
    return out


def self_ms_by_name(spans) -> dict[str, float]:
    """Total self time per span name, in ms."""
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for sid, name, *_ in spans:
        out[name] += st[sid] / 1e6
    return out


class Patches:
    """Attribute replacements that are undone in reverse order."""

    def __init__(self) -> None:
        self._saved: list[tuple[object, str, object]] = []

    def set(self, obj, attr: str, value) -> None:
        self._saved.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, value)

    def undo(self) -> None:
        while self._saved:
            obj, attr, old = self._saved.pop()
            setattr(obj, attr, old)


def _count_row_groups(tr, args, kwargs, res):
    groups = args[1] if len(args) > 1 else kwargs.get("row_groups", ())
    tr.count("serve.row_groups_read", len(groups))


def _count_postings(tr, args, kwargs, res):
    tr.count("codec.postings_decoded", len(res[0]))


def _count_positions(tr, args, kwargs, res):
    tr.count("codec.positions_decoded", len(res))


@contextlib.contextmanager
def searcher_layers(tr: Tracer):
    """Wrap the layers a LocalSearcher query passes through. Installed only
    around searcher work: the Spark query paths pickle module globals of
    wand.py into their UDFs, and a wrapper must never travel there."""
    import pyarrow.parquet as pq

    from osu_elastic_indexer_spark.functions import codec
    from osu_elastic_indexer_spark.operators import dictionary, serve, state, wand

    p = Patches()
    try:
        p.set(pq.ParquetFile, "read_row_groups", tr.wrap(
            pq.ParquetFile.read_row_groups, "serve.segment_read",
            _count_row_groups,
        ))
        p.set(codec, "decode_postings", tr.wrap(
            codec.decode_postings, "codec.decode", _count_postings))
        p.set(codec, "decode_positions", tr.wrap(
            codec.decode_positions, "codec.decode", _count_positions))
        p.set(codec, "decode_positions_block", tr.wrap(
            codec.decode_positions_block, "codec.decode", _count_positions))
        taat = tr.wrap(wand.taat_topk, "wand.taat",
                       lambda t, a, k, r: t.count("wand.taat_calls"))
        bmw = tr.wrap(wand.bmw_topk, "wand.bmw",
                      lambda t, a, k, r: t.count("wand.bmw_calls"))
        # serve.py imports both cores by name: rebind them there as well
        for mod in (wand, serve):
            p.set(mod, "taat_topk", taat)
            p.set(mod, "bmw_topk", bmw)
        # topk_from_dense is the finalize; single-term queries finalize in
        # _topk_pairs directly, which topk_from_dense also calls (nested
        # spans of one name sum to its total through self time)
        p.set(wand, "topk_from_dense", tr.wrap(wand.topk_from_dense, "wand.finalize"))
        p.set(wand, "_topk_pairs", tr.wrap(wand._topk_pairs, "wand.finalize"))
        p.set(serve.LocalSearcher, "_resolve_terms", tr.wrap(
            serve.LocalSearcher._resolve_terms, "dictionary.resolve"))
        p.set(dictionary, "lookup_terms_by_prefix", tr.wrap(
            dictionary.lookup_terms_by_prefix, "dictionary.prefix_expand"))
        p.set(state, "load_norms", tr.wrap(state.load_norms, "state.load"))
        p.set(state, "load_tombstones", tr.wrap(state.load_tombstones, "state.load"))
        yield
    finally:
        p.undo()
