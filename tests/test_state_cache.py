"""Executor-side state cache bounds + queue-gauge path handling (no Spark)."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from osu_elastic_indexer_spark.operators import state
from osu_elastic_indexer_spark.streaming.watch import queue_depth


def _write_fwd(path, ids):
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table(
            {"doc_id": pa.array(ids, pa.int64()),
             "dl": pa.array([7] * len(ids), pa.int64())}
        ),
        os.path.join(path, "part-0.parquet"),
    )


def test_norms_cache_bounded_across_growing_gen_tuples(tmp_path):
    """The committed-gen path tuple grows every generation; the cache must
    hold at most ONE norms array per index, not one per commit."""
    idx = str(tmp_path / "idx")
    g0, g1, g2 = (f"{idx}/fwd/gen={i}" for i in range(3))
    for i, g in enumerate((g0, g1, g2)):
        _write_fwd(g, [i])
    state._CACHE.clear()
    state.load_norms((g0,), 1)
    state.load_norms((g0, g1), 2)
    state.load_norms((g0, g1, g2), 3)
    norm_keys = [k for k in state._CACHE if k[0] == "norms"]
    assert len(norm_keys) == 1, norm_keys
    # the survivor is the newest tuple, and a second index is independent
    assert norm_keys[0][1] == (g0, g1, g2)
    idx2 = str(tmp_path / "idx2")
    _write_fwd(f"{idx2}/fwd/gen=0", [5])
    state.load_norms((f"{idx2}/fwd/gen=0",), 1)
    assert len([k for k in state._CACHE if k[0] == "norms"]) == 2
    state._CACHE.clear()


def test_norms_cache_version_invalidates_same_key(tmp_path):
    g = str(tmp_path / "idx" / "fwd" / "gen=0")
    _write_fwd(g, [0, 1])
    state._CACHE.clear()
    a = state.load_norms((g,), 1)
    # rewrite the file (the replay-of-a-crashed-staging scenario)
    _write_fwd(g, [0, 1, 2])
    stale = state.load_norms((g,), 1)   # same version -> cached
    assert stale is a
    fresh = state.load_norms((g,), 2)   # bumped version -> reload
    assert len(fresh) == 3 and len(a) == 2
    state._CACHE.clear()


def _write_docmap(path, n):
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "url": pa.array([f"{i:012d}" for i in range(n)], pa.string()),
                "doc_id": pa.array(list(range(n)), pa.int64()),
                "lang": pa.array(
                    ["en" if i % 3 else "de" for i in range(n)], pa.string()
                ),
            }
        ),
        os.path.join(path, "part-0.parquet"),
    )


def test_docfilter_cache_bounded_across_distinct_ranges(tmp_path):
    """ADVICE r5: distinct filter ranges must NOT accumulate forever — the
    unified docfilter LRU evicts by total bytes, so many distinct ranges
    on one worker stay under budget."""
    g = str(tmp_path / "idx" / "docmap" / "gen=0")
    _write_docmap(g, 2000)
    state._FILTER_CACHE.clear()
    old = state._FILTER_CACHE_MAX_BYTES
    state._FILTER_CACHE_MAX_BYTES = 40_000  # ~2.5 full-range entries
    try:
        for i in range(40):
            ids = state.load_docids_in_range(
                (g,), 1, "url", "%012d" % i, None
            )
            assert ids.size == 2000 - i
        total = sum(
            a.nbytes for _v, a, _n in state._FILTER_CACHE.values()
        )
        assert total <= 40_000, total
        # the insert-time sizes eviction sums are the entries' true sizes
        assert [n for _v, _a, n in state._FILTER_CACHE.values()] == [
            a.nbytes for _v, a, _n in state._FILTER_CACHE.values()
        ]
        assert len(state._FILTER_CACHE) < 5
        # hits still serve from cache (most recent range is resident)
        before = len(state._FILTER_CACHE)
        state.load_docids_in_range((g,), 1, "url", "%012d" % 39, None)
        assert len(state._FILTER_CACHE) == before
    finally:
        state._FILTER_CACHE_MAX_BYTES = old
        state._FILTER_CACHE.clear()


def test_docfilter_cache_budget_survives_outside_removal(tmp_path):
    """An entry removed from outside the cache helper (a test, or future
    code popping one key) must not skew the byte budget — the helper keeps
    no running total, it sums the stored entry sizes."""
    g = str(tmp_path / "idx" / "docmap" / "gen=0")
    _write_docmap(g, 2000)
    state._FILTER_CACHE.clear()
    old = state._FILTER_CACHE_MAX_BYTES
    state._FILTER_CACHE_MAX_BYTES = 40_000  # ~2.5 full-range entries
    try:
        for i in range(3):
            state.load_docids_in_range((g,), 1, "url", "%012d" % i, None)
        # drop the newest entry behind the helper's back
        state._FILTER_CACHE.popitem(last=True)
        for i in range(3, 20):
            state.load_docids_in_range((g,), 1, "url", "%012d" % i, None)
            total = sum(
                a.nbytes for _v, a, _n in state._FILTER_CACHE.values()
            )
            assert total <= 40_000, (i, total)
        # and it did not over-evict: more than one entry fits the budget
        assert len(state._FILTER_CACHE) == 2
    finally:
        state._FILTER_CACHE_MAX_BYTES = old
        state._FILTER_CACHE.clear()


def test_docfilter_eq_and_version_invalidation(tmp_path):
    """load_docids_eq matches the keyword column exactly; a commit_seq
    bump reloads; range and eq entries share the one docfilter cache."""
    g = str(tmp_path / "idx" / "docmap" / "gen=0")
    _write_docmap(g, 30)
    state._FILTER_CACHE.clear()
    de = state.load_docids_eq((g,), 1, "lang", ("de",))
    assert list(de) == [i for i in range(30) if i % 3 == 0]
    both = state.load_docids_eq((g,), 1, "lang", ("de", "en"))
    assert both.size == 30
    # same version -> cached object identity
    assert state.load_docids_eq((g,), 1, "lang", ("de",)) is de
    # version bump -> stale same-index entries evicted, fresh load
    _write_docmap(g, 3)
    fresh = state.load_docids_eq((g,), 2, "lang", ("de",))
    assert list(fresh) == [0]
    assert all(v == 2 for v, _a, _n in state._FILTER_CACHE.values())
    state._FILTER_CACHE.clear()


def test_queue_depth_decodes_percent_encoded_source_log(tmp_path):
    """FileStreamSource logs URIs; a queue dir with a space must still
    drain the gauge."""
    qdir = tmp_path / "my queue"
    qdir.mkdir()
    f = qdir / "batch1.parquet"
    pq.write_table(pa.table({"x": pa.array([1, 2], pa.int64())}), str(f))
    ckpt = tmp_path / "ckpt"
    src = ckpt / "sources" / "0"
    src.mkdir(parents=True)
    uri = "file:" + str(f).replace(" ", "%20")
    (src / "0").write_text(
        'v1\n{"path":"%s","timestamp":1,"batchId":0}\n' % uri
    )
    d = queue_depth(str(qdir), str(ckpt))
    assert d["files_pending"] == 0 and d["rows_pending"] == 0


def test_doc_lengths_span_the_batch_not_the_id_space(tmp_path):
    """The segment merge's norms cover the merged docs' [min, max] doc_id,
    so a generation high in the id space holds no array of the whole
    space."""
    g = str(tmp_path / "idx" / "fwd" / "gen=3")
    _write_fwd(g, [1_000_000, 1_000_002])
    state._CACHE.clear()
    first, dl = state.load_doc_lengths((g,), 1)
    assert first == 1_000_000 and dl.tolist() == [7, 0, 7]
    state._CACHE.clear()
