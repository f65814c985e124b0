"""Executor-side per-index state: doc-indexed norms and the tombstone set.

Both are loaded ON THE WORKER that needs them, straight from the index's
parquet tables with pyarrow — never collected on the driver and never
captured in a task closure (SURVEY.md §7.4 #5: at 100 TB-with-churn scale a
driver-side tombstone collect is a job-killer; the reference's analog is
Lucene live-docs bitmaps + norms, which searchers load per segment).

* norms: dense ``doc_id -> dl`` int64 array (the Lucene norms analog),
  built from the forward table's (doc_id, dl) columns — a column-pruned
  read; the terms/tfs list columns never move. docIDs are dense by
  construction (operators/docmap.py), so direct indexing works.
* tombstones: sorted int64 array of deleted docIDs; membership via
  searchsorted (vectorized in TAAT, binary-search in BMW).

Caching: at most one entry per (kind, INDEX) — inserting evicts every other
entry of the same kind under the same index root, since the committed-gen
path tuple grows each generation and exact-key replacement would leak one
dense array per commit on a long-lived executor. The cache key's version is
the index's monotonic manifest ``commit_seq`` so a committed change
invalidates, while a batch of queries/merge-groups on the same worker pays
one load.

Sharding note for 10^12 docs: a single dense norms array is per-SHARD state
(docID ranges partition across searchers, exactly as segments do); the
salted docID-grid used by the build/merge keys every group to a bounded
docID interval, so a range-pruned loader (filter doc_id between cell bounds)
drops in here without touching callers.
"""

from __future__ import annotations

import os
from collections import OrderedDict

import numpy as np

_CACHE: dict[tuple, tuple[int, object]] = {}

# structured-filter docID arrays (range AND term scans) live in their own
# LRU bounded by TOTAL BYTES: r5 keyed these under per-(field, range) kind
# strings, so _cached's same-kind eviction never crossed distinct ranges
# and every new range leaked an O(matching docs) int64 array on a
# long-lived executor (ADVICE r5). 128 MiB = ~16M matching docIDs resident
# per worker across all concurrently-hot filters.
_FILTER_CACHE: OrderedDict[tuple, tuple[int, object, int]] = OrderedDict()
_FILTER_CACHE_MAX_BYTES = 128 << 20


def _entry_nbytes(val) -> int:
    """Honest byte accounting for cache entries: plain arrays by nbytes,
    tuple entries (the sort-column loader) summed, object (string) arrays
    by pointer size PLUS payload length — nbytes alone under-bills them."""
    arrs = val if isinstance(val, tuple) else (val,)
    total = 0
    for a in arrs:
        total += a.nbytes
        if a.dtype == object:
            total += int(sum(len(str(x)) for x in a))
    return total


def _filter_cached(
    paths: tuple[str, ...], version: int, field: str, spec: tuple, loader
):
    """Unified ``docfilter`` cache: key carries the (field, filter spec),
    value the sorted docID array (or the sort-column array tuple). A
    version bump (new commit) eagerly drops the index's stale entries;
    beyond that, least-recently-used entries evict until the byte budget
    holds. Each entry is sized ONCE, at insert (``_entry_nbytes`` walks
    every string of an object-dtype sort column); eviction sums the stored
    sizes, so there is no running total to drift when an entry leaves the
    cache some other way."""
    key = (paths, field, spec)
    hit = _FILTER_CACHE.get(key)
    if hit is not None and hit[0] == version:
        _FILTER_CACHE.move_to_end(key)
        return hit[1]
    val = loader()
    root = _index_root(paths[0]) if paths else ""
    stale = [
        k
        for k, (v, _a, _n) in _FILTER_CACHE.items()
        if v != version
        and (_index_root(k[0][0]) if k[0] else "") == root
    ]
    for k in stale:
        del _FILTER_CACHE[k]
    _FILTER_CACHE.pop(key, None)  # stale same-key entry not caught above
    _FILTER_CACHE[key] = (version, val, _entry_nbytes(val))
    total = sum(n for _v, _a, n in _FILTER_CACHE.values())
    while total > _FILTER_CACHE_MAX_BYTES and len(_FILTER_CACHE) > 1:
        _k, (_v, _a, n) = next(iter(_FILTER_CACHE.items()))
        del _FILTER_CACHE[_k]
        total -= n
    return val


def _as_tuple(paths) -> tuple[str, ...]:
    return (paths,) if isinstance(paths, str) else tuple(paths)


def _index_root(path: str) -> str:
    """Index directory a table path belongs to: <idx>/<table>[/gen=N]."""
    if os.path.basename(path).startswith("gen="):
        path = os.path.dirname(path)
    return os.path.dirname(path)


def _cached(kind: str, paths: tuple[str, ...], version: int, loader):
    key = (kind, paths)
    hit = _CACHE.get(key)
    if hit is not None and hit[0] == version:
        return hit[1]
    val = loader()
    # evict by (kind, index root), not by exact key: the committed-gen path
    # tuple GROWS every generation, so exact-key replacement would retain
    # one dense norms array per commit on a long-lived executor (unbounded)
    root = _index_root(paths[0]) if paths else ""
    for k in [
        k for k in _CACHE
        if k[0] == kind and (_index_root(k[1][0]) if k[1] else "") == root
    ]:
        del _CACHE[k]
    _CACHE[key] = (version, val)
    return val


def _parquet_files(paths: tuple[str, ...]) -> list[str]:
    out: list[str] = []
    for p in paths:
        if not os.path.isdir(p):
            continue
        for root, _dirs, files in os.walk(p):
            out.extend(
                os.path.join(root, f) for f in files if f.endswith(".parquet")
            )
    return sorted(out)


def load_norms(paths, version: int) -> np.ndarray:
    """Dense doc_id -> dl array from fwd-table dirs (column-pruned read).
    ``paths``: a directory or the committed generation dirs of the fwd
    table (sources/catalog.committed_gen_paths)."""
    paths = _as_tuple(paths)

    def load() -> np.ndarray:
        import pyarrow.dataset as ds

        files = _parquet_files(paths)
        if not files:
            return np.zeros(1, dtype=np.int64)
        t = ds.dataset(files).to_table(columns=["doc_id", "dl"])
        ids = t.column("doc_id").to_numpy()
        if ids.size == 0:
            return np.zeros(1, dtype=np.int64)
        arr = np.zeros(int(ids.max()) + 1, dtype=np.int64)
        arr[ids] = t.column("dl").to_numpy()
        return arr

    return _cached("norms", paths, version, load)


def load_tombstones(paths, version: int) -> np.ndarray | None:
    """Sorted deleted-docID array; None when the index has no tombstones."""
    paths = _as_tuple(paths)

    def load() -> np.ndarray | None:
        import pyarrow.dataset as ds

        files = _parquet_files(paths)
        if not files:
            return None
        ids = ds.dataset(files).to_table(columns=["doc_id"]).column(
            "doc_id"
        ).to_numpy()
        if ids.size == 0:
            return None
        return np.sort(ids.astype(np.int64))

    return _cached("tombstones", paths, version, load)


def load_docids_in_range(paths, version: int, field: str, lo, hi) -> np.ndarray:
    """Sorted docIDs whose docmap ``field`` lies in [lo, hi] (either bound
    None = unbounded) — the structured-filter analog of the norms/tombstone
    loaders (ES filter context over the keyword/numeric fields the docmap
    carries; the reference's scores.json keyword fields ride the ES doc the
    same way). Column-pruned pyarrow read with the range predicate PUSHED
    into the scan, cached per worker per (field, range, commit) in the
    byte-bounded docfilter LRU — a batch of queries sharing one filter
    pays one load, and the array is O(matching docs), never the docmap's
    payload columns."""
    paths = _as_tuple(paths)

    def load() -> np.ndarray:
        import pyarrow.dataset as ds

        files = _parquet_files(paths)
        if not files:
            return np.zeros(0, dtype=np.int64)
        pred = None
        if lo is not None:
            pred = ds.field(field) >= lo
        if hi is not None:
            p2 = ds.field(field) <= hi
            pred = p2 if pred is None else pred & p2
        t = ds.dataset(files).to_table(columns=["doc_id"], filter=pred)
        return np.sort(t.column("doc_id").to_numpy().astype(np.int64))

    return _filter_cached(paths, version, field, ("range", lo, hi), load)


def load_docids_eq(paths, version: int, field: str, values: tuple) -> np.ndarray:
    """Sorted docIDs whose docmap ``field`` equals ANY of ``values`` — the
    ES ``term``/``terms``-query analog over the keyword columns the docmap
    carries (the reference's consumers filter on country_code / ruleset_id
    exactly this way, osu.ElasticIndexer/schemas/scores.json:17-19,32-37).
    Same pushed, column-pruned pyarrow scan + byte-bounded worker cache as
    the range loader."""
    paths = _as_tuple(paths)
    vals = tuple(values)

    def load() -> np.ndarray:
        import pyarrow.dataset as ds

        files = _parquet_files(paths)
        if not files:
            return np.zeros(0, dtype=np.int64)
        pred = ds.field(field).isin(list(vals))
        t = ds.dataset(files).to_table(columns=["doc_id"], filter=pred)
        return np.sort(t.column("doc_id").to_numpy().astype(np.int64))

    return _filter_cached(paths, version, field, ("eq", vals), load)


def load_docids_exists(paths, version: int, field: str) -> np.ndarray:
    """Sorted docIDs whose docmap ``field`` is NON-NULL — the ES
    ``exists`` query analog (consumers restrict to docs where an optional
    doc-value field is set, e.g. the nullable pp field in the reference's
    schema, scores.json:29-31 / Score.cs:64-65). Same pushed,
    column-pruned pyarrow scan + byte-bounded worker cache as the
    range/term loaders."""
    paths = _as_tuple(paths)

    def load() -> np.ndarray:
        import pyarrow.dataset as ds

        files = _parquet_files(paths)
        if not files:
            return np.zeros(0, dtype=np.int64)
        t = ds.dataset(files).to_table(
            columns=["doc_id"], filter=~ds.field(field).is_null()
        )
        return np.sort(t.column("doc_id").to_numpy().astype(np.int64))

    return _filter_cached(paths, version, field, ("exists",), load)


def load_sort_column(
    paths, version: int, field: str
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(doc_ids, values, valid) for one docmap column, doc_id-sorted — the
    serving tier's doc-value store (the ES doc_values / Lucene
    NumericDocValues analog backing ``sort`` queries). Loaded once per
    (field, commit) into the byte-budgeted docfilter LRU, so repeated
    sort queries intersect cached arrays instead of re-scanning the
    docmap; ``valid`` marks non-null values (ES missing:_last needs the
    null set, and object/datetime arrays have no NaN sentinel)."""
    paths = _as_tuple(paths)

    def load():
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        files = _parquet_files(paths)
        if not files:
            return (
                np.zeros(0, dtype=np.int64),
                np.zeros(0, dtype=np.float64),
                np.zeros(0, dtype=bool),
            )
        t = ds.dataset(files).to_table(columns=["doc_id", field])
        ids = t.column("doc_id").to_numpy(zero_copy_only=False).astype(
            np.int64
        )
        col = t.column(field)
        valid = pc.is_valid(col).to_numpy(zero_copy_only=False).astype(bool)
        vals = col.to_numpy(zero_copy_only=False)
        order = np.argsort(ids)  # doc_id-sorted for searchsorted intersects
        return (ids[order], vals[order], valid[order])

    return _filter_cached(paths, version, field, ("sortcol",), load)


def tomb_contains(tomb: np.ndarray | None, doc: int) -> bool:
    """Single-doc membership in a sorted tombstone array (binary search)."""
    if tomb is None or tomb.size == 0:
        return False
    i = int(np.searchsorted(tomb, doc))
    return i < tomb.size and int(tomb[i]) == doc


def tomb_mask(tomb: np.ndarray | None, docs: np.ndarray) -> np.ndarray | None:
    """Vectorized keep-mask (True = live) for an array of candidate docIDs;
    None when there is nothing to filter."""
    if tomb is None or tomb.size == 0:
        return None
    return ~np.isin(docs, tomb)
