"""Unit tests: varbyte / delta-gap / block metadata (SURVEY.md §5.2 tier 1)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from osu_elastic_indexer_spark.functions.codec import (
    BLOCK,
    decode_postings,
    delta_decode,
    delta_encode,
    encode_postings,
    merge_encoded,
    varbyte_decode,
    varbyte_encode,
)


def test_varbyte_empty():
    assert varbyte_encode(np.array([], dtype=np.uint64)) == b""
    assert varbyte_decode(b"").size == 0


def test_varbyte_known_values():
    # 0 -> 0x00; 127 -> 0x7f; 128 -> 0x80 0x01 (LEB128 little-endian)
    assert varbyte_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varbyte_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varbyte_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert list(varbyte_decode(b"\x80\x01")) == [128]


@given(
    st.lists(st.integers(min_value=0, max_value=2**63 - 1), min_size=0, max_size=300)
)
@settings(max_examples=100, deadline=None)
def test_varbyte_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    out = varbyte_decode(varbyte_encode(arr))
    assert list(out) == vals


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**40), min_size=1, max_size=400, unique=True
    )
)
@settings(max_examples=100, deadline=None)
def test_delta_roundtrip(ids):
    ids = sorted(ids)
    arr = np.array(ids, dtype=np.int64)
    assert list(delta_decode(delta_encode(arr))) == ids


def test_postings_roundtrip_and_blocks():
    rng = np.random.default_rng(7)
    n = 1000
    doc_ids = np.sort(rng.choice(10**7, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 50, n).astype(np.int64)
    dls = rng.integers(1, 4000, n).astype(np.int64)
    enc = encode_postings(doc_ids, tfs, dls)
    d, t = decode_postings(enc)
    assert np.array_equal(d, doc_ids)
    assert np.array_equal(t, tfs)
    assert "dls_blob" not in enc  # dl lives in the doc-indexed norms array
    n_blocks = (n + BLOCK - 1) // BLOCK
    assert len(enc["block_first"]) == n_blocks
    assert enc["block_first"][0] == doc_ids[0]
    assert enc["block_last"][-1] == doc_ids[-1]
    # block max_tf / min_dl metadata correct per block (the BMW bound)
    for b in range(n_blocks):
        lo, hi = b * BLOCK, min((b + 1) * BLOCK, n)
        assert enc["block_max_tf"][b] == tfs[lo:hi].max()
        assert enc["block_min_dl"][b] == dls[lo:hi].min()


@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=10**9),
        min_size=1, max_size=700, unique=True,
    ),
    tf_seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_bulk_decode_equals_blockwise_decode(ids, tf_seed):
    """The vectorized whole-row decode (one varbyte pass + reset-cumsum)
    must be EXACTLY the concatenation of per-block decodes for every list
    shape — including lists shorter than a block, exact multiples of BLOCK,
    and ragged tails (the per-block delta restart is the subtle part)."""
    from osu_elastic_indexer_spark.functions.codec import decode_block

    doc_ids = np.sort(np.asarray(ids, dtype=np.int64))
    rng = np.random.default_rng(tf_seed)
    tfs = rng.integers(1, 1000, doc_ids.size).astype(np.int64)
    enc = encode_postings(doc_ids, tfs)
    d_bulk, t_bulk = decode_postings(enc)
    parts = [decode_block(enc, b) for b in range(len(enc["block_first"]))]
    d_blk = np.concatenate([p[0] for p in parts])
    t_blk = np.concatenate([p[1] for p in parts])
    assert np.array_equal(d_bulk, d_blk)
    assert np.array_equal(t_bulk, t_blk)
    assert np.array_equal(d_bulk, doc_ids)
    assert np.array_equal(t_bulk, tfs)


def test_merge_disjoint_ranges():
    a = encode_postings(np.array([1, 5, 9]), np.array([2, 1, 3]))
    b = encode_postings(np.array([100, 200]), np.array([7, 1]))
    norms = np.ones(201, dtype=np.int64)
    m = merge_encoded([a, b], norms)
    d, t = decode_postings(m)
    assert list(d) == [1, 5, 9, 100, 200]
    assert list(t) == [2, 1, 3, 7, 1]
    assert m["n_docs"] == 5


def test_decode_single_block_matches_full():
    from osu_elastic_indexer_spark.functions.codec import decode_block

    rng = np.random.default_rng(11)
    n = 777
    doc_ids = np.sort(rng.choice(10**6, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 9, n).astype(np.int64)
    enc = encode_postings(doc_ids, tfs)
    for b in range(len(enc["block_first"])):
        d, t = decode_block(enc, b)
        lo, hi = b * BLOCK, min((b + 1) * BLOCK, n)
        assert np.array_equal(d, doc_ids[lo:hi])
        assert np.array_equal(t, tfs[lo:hi])


def test_compression_actually_compresses():
    # dense ascending ids -> ~1 byte per gap
    ids = np.arange(0, 100_000, dtype=np.int64)
    tfs = np.ones(100_000, dtype=np.int64)
    enc = encode_postings(ids, tfs)
    assert len(enc["docs_blob"]) < 110_000  # vs 800k raw int64
    assert len(enc["tfs_blob"]) == 100_000


def test_vectorized_merge_bit_identical_to_encode_postings(tmp_path):
    """The batch-vectorized merge kernel must produce BIT-IDENTICAL segment
    rows to per-row codec.encode_postings over merge-sorted subs — blobs,
    offsets, block metadata, scalars — across randomized row shapes
    (singleton rows, exact block multiples, interleaved sub ranges)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from functools import partial

    from osu_elastic_indexer_spark.functions import codec
    from osu_elastic_indexer_spark.operators import state
    from osu_elastic_indexer_spark.operators.build import (
        _merge_subsegments_arrow,
    )

    rng = np.random.default_rng(17)
    span = 5000
    norms_dir = tmp_path / "fwd"
    norms_dir.mkdir()
    dls = rng.integers(1, 60, size=span).astype("int64")
    pq.write_table(
        pa.table({"doc_id": np.arange(span, dtype="int64"), "dl": dls}),
        str(norms_dir / "p.parquet"),
    )

    rows = []
    for r in range(60):
        size = int(rng.choice([1, 2, 127, 128, 129, 256, 301, 500]))
        docs = np.sort(rng.choice(span, size=size, replace=False)).astype(
            "int64"
        )
        tfs = rng.integers(1, 200, size=size).astype("int64")
        # split into 1-4 subs of INTERLEAVED doc ranges (sorted within sub)
        n_subs = int(rng.integers(1, 5))
        assign = rng.integers(0, n_subs, size=size)
        subs = []
        for s in range(n_subs):
            m = assign == s
            if not m.any():
                continue
            db, tb = codec.encode_plain(docs[m], tfs[m])
            subs.append({"docs_blob": db, "tfs_blob": tb})
        rng.shuffle(subs)  # collect_list order is arbitrary
        rows.append((r, int(rng.integers(0, 4)), docs, tfs, subs))

    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([r[0] for r in rows], pa.int64()),
            pa.array([r[1] for r in rows], pa.int32()),
            pa.array(
                [r[4] for r in rows],
                pa.list_(
                    pa.struct(
                        [("docs_blob", pa.binary()), ("tfs_blob", pa.binary())]
                    )
                ),
            ),
        ],
        names=["term_id", "salt", "subs"],
    )
    run = _merge_subsegments_arrow(
        3, partial(state.load_doc_lengths, str(norms_dir), 12345)
    )
    out = list(run([batch]))
    assert len(out) == 1
    got = out[0].to_pylist()
    assert len(got) == len(rows)
    norms = np.zeros(span, dtype=np.int64)
    norms[:] = dls
    by_tid = {g["term_id"]: g for g in got}
    for r, salt, docs, tfs, _subs in rows:
        g = by_tid[r]
        enc = codec.encode_postings(docs, tfs, norms[docs])
        assert g["salt"] == salt and g["generation"] == 3
        assert g["n_docs"] == docs.size
        assert g["doc_min"] == docs[0] and g["doc_max"] == docs[-1]
        assert g["max_tf"] == enc["max_tf"]
        assert g["docs_blob"] == enc["docs_blob"]
        assert g["tfs_blob"] == enc["tfs_blob"]
        for k in (
            "doc_offs", "tf_offs", "block_first", "block_last",
            "block_max_tf", "block_min_dl",
        ):
            assert g[k] == enc[k].tolist(), (r, k)


# ---------------------------------------------------------------------------
# positions sidecar (v2 spike — docs/positional-postings.md)
# ---------------------------------------------------------------------------


def _random_positions(draw_lists):
    """[(sorted unique positions per posting)] -> (flat, tfs)."""
    flat = np.concatenate(
        [np.asarray(p, dtype=np.int64) for p in draw_lists]
    ) if draw_lists else np.empty(0, dtype=np.int64)
    tfs = np.asarray([len(p) for p in draw_lists], dtype=np.int64)
    return flat, tfs


@given(
    lists=st.lists(
        st.lists(
            st.integers(min_value=0, max_value=100_000),
            min_size=1,
            max_size=12,
            unique=True,
        ).map(sorted),
        min_size=1,
        max_size=300,
    )
)
@settings(max_examples=80, deadline=None)
def test_positions_roundtrip(lists):
    from osu_elastic_indexer_spark.functions.codec import (
        decode_positions,
        encode_positions,
    )

    flat, tfs = _random_positions(lists)
    enc = encode_positions(flat, tfs)
    out = decode_positions(enc["pos_blob"], tfs)
    assert np.array_equal(out, flat)
    # per-posting split reconstructs each doc's list exactly
    splits = np.split(out, np.cumsum(tfs)[:-1])
    for got, want in zip(splits, lists):
        assert got.tolist() == list(want)


@given(
    lists=st.lists(
        st.lists(
            st.integers(min_value=0, max_value=5_000),
            min_size=1,
            max_size=6,
            unique=True,
        ).map(sorted),
        min_size=1,
        max_size=600,
    )
)
@settings(max_examples=40, deadline=None)
def test_positions_block_decode_matches_full(lists):
    """decode_positions_block(b) == the corresponding slice of the full
    decode, for every block — the offsets really are block-addressable."""
    from osu_elastic_indexer_spark.functions.codec import (
        BLOCK,
        decode_positions,
        decode_positions_block,
        encode_positions,
    )

    flat, tfs = _random_positions(lists)
    enc = encode_positions(flat, tfs)
    full = decode_positions(enc["pos_blob"], tfs)
    n_post = tfs.size
    starts_vals = np.zeros(n_post, dtype=np.int64)
    np.cumsum(tfs[:-1], out=starts_vals[1:])
    n_blocks = len(enc["pos_offs"]) - 1
    assert n_blocks == (n_post + BLOCK - 1) // BLOCK
    for b in range(n_blocks):
        p0, p1 = b * BLOCK, min((b + 1) * BLOCK, n_post)
        v0 = int(starts_vals[p0])
        v1 = int(starts_vals[p1 - 1] + tfs[p1 - 1])
        got = decode_positions_block(enc, tfs[p0:p1], b)
        assert np.array_equal(got, full[v0:v1]), b


@given(
    lists=st.lists(
        st.lists(
            st.integers(min_value=0, max_value=9_999),
            min_size=1,
            max_size=5,
            unique=True,
        ).map(sorted),
        min_size=2,
        max_size=500,
    ),
    cuts=st.lists(st.integers(min_value=1, max_value=499), max_size=4),
)
@settings(max_examples=40, deadline=None)
def test_merge_positions_bit_identical_to_whole_encode(lists, cuts):
    """Splitting a posting list at arbitrary points, encoding each part,
    and merge_positions-ing the parts must be BIT-IDENTICAL (blob and
    offsets) to encoding the whole list at once — per-posting delta
    restarts make the stream concatenation-safe."""
    from osu_elastic_indexer_spark.functions.codec import (
        encode_positions,
        merge_positions,
    )

    flat, tfs = _random_positions(lists)
    whole = encode_positions(flat, tfs)
    bounds = sorted({c for c in cuts if c < tfs.size} | {0, tfs.size})
    starts_vals = np.zeros(tfs.size + 1, dtype=np.int64)
    np.cumsum(tfs, out=starts_vals[1:])
    parts, parts_tfs = [], []
    for a, b in zip(bounds, bounds[1:]):
        parts_tfs.append(tfs[a:b])
        parts.append(
            encode_positions(flat[starts_vals[a] : starts_vals[b]], tfs[a:b])
        )
    merged = merge_positions(parts, parts_tfs)
    assert bytes(merged["pos_blob"]) == bytes(whole["pos_blob"])
    assert np.array_equal(merged["pos_offs"], whole["pos_offs"])


def test_positions_empty():
    from osu_elastic_indexer_spark.functions.codec import (
        decode_positions,
        encode_positions,
        merge_positions,
    )

    enc = encode_positions(np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))
    assert enc["pos_blob"] == b"" and enc["pos_offs"].tolist() == [0]
    assert decode_positions(b"", np.empty(0, dtype=np.int64)).size == 0
    m = merge_positions([], [])
    assert m["pos_blob"] == b"" and m["pos_offs"].tolist() == [0]
