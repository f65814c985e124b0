"""Posting-list compression: block-wise delta-gap + varbyte, per-block max-tf.

The reference delegates storage to Lucene (Elasticsearch holds the postings);
we build it from scratch per BASELINE.json north_star: "delta-gap
varbyte/PForDelta-compressed postings with per-block max-score metadata".
numpy-vectorized — these run inside applyInPandas groups on executors, never
per-row Python.

Layout of one encoded posting list for a term:
  * docs are split into fixed blocks of BLOCK (=128) entries
  * each block's doc_ids are delta-encoded INDEPENDENTLY (first element
    stored as doc_id+1, then gaps) and varbyte-compressed — so a block can
    be decoded without touching preceding blocks
  * per block we keep (first_doc, last_doc, byte offsets into the blobs,
    max_tf) — first/last/max_tf drive block-max WAND skipping; offsets make
    skipped blocks truly skip their decode cost
"""

from __future__ import annotations

import numpy as np

BLOCK = 128


# ---------------------------------------------------------------------------
# varbyte (LEB128-style, 7 bits per byte, little-endian groups)
# ---------------------------------------------------------------------------


def varbyte_lengths(values: np.ndarray) -> np.ndarray:
    """Encoded byte length per value (vectorized)."""
    v = np.asarray(values, dtype=np.uint64)
    lengths = np.ones(v.size, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        lengths += (tmp > 0).astype(np.int64)
        tmp = tmp >> np.uint64(7)
    return lengths


def varbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized varbyte encode of a uint64 array (values >= 0).

    One (n x maxlen) byte matrix + boolean compress — value-major row order
    makes the row-major compression emit each value's bytes consecutively.
    ~10x faster than the per-byte peel loop it replaced (no repeated
    mask-gather/scatter over the full array); this runs inside the build's
    local inversion, the single hottest loop of the whole engine.
    """
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    lengths = varbyte_lengths(v)
    maxlen = int(lengths.max())
    if maxlen == 1:  # all values < 128 — common for tf columns
        return (v & np.uint64(0x7F)).astype(np.uint8).tobytes()
    # column-wise fill: one n-sized temp per byte slot, never an (n x maxlen)
    # uint64 broadcast (at 10M+ values that temp is ~300 MB of fresh pages)
    mat = np.empty((v.size, maxlen), dtype=np.uint8)
    for jj in range(maxlen):
        mat[:, jj] = (v >> np.uint64(7 * jj)).astype(np.uint8) & np.uint8(0x7F)
        if jj + 1 < maxlen:
            mat[lengths > jj + 1, jj] |= np.uint8(0x80)
    keep = np.arange(maxlen)[None, :] < lengths[:, None]
    return mat[keep].tobytes()


def varbyte_decode(data: bytes | memoryview) -> np.ndarray:
    """Vectorized varbyte decode -> uint64 array.

    Fixed-width assembly: gather each value's bytes into an (n, maxlen)
    matrix (invalid slots clamped + masked) and OR the shifted 7-bit groups
    column-wise. No per-segment loops (np.repeat / add.reduceat both cost
    ~0.4us per VALUE — measured dominant at 5M values); the column
    reduction is maxlen (~2-3) full-array ops."""
    if not data:
        return np.empty(0, dtype=np.uint64)
    raw = np.frombuffer(data, dtype=np.uint8)
    last = raw < 0x80  # high bit clear: a value's final byte
    if last.all():
        # every value fits one byte — the common case for tf blobs and
        # small position/doc gaps: skip the start/end maps and the
        # per-byte-slot assembly loop entirely (one widening copy)
        return raw.astype(np.uint64)
    ends = np.flatnonzero(last)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    payload = (raw & 0x7F).astype(np.uint64)
    lens = ends - starts
    maxlen = int(lens.max()) + 1
    out = payload[starts].copy()
    for j in range(1, maxlen):
        sel = lens >= j
        out[sel] |= payload[starts[sel] + j] << np.uint64(7 * j)
    return out


# ---------------------------------------------------------------------------
# delta-gap (within one block)
# ---------------------------------------------------------------------------


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    """Strictly-increasing int64 ids -> gaps (first element stored +1 so all
    gaps are >= 1, making 0 an impossible value / corruption canary)."""
    ids = np.asarray(sorted_ids, dtype=np.int64)
    if ids.size == 0:
        return np.empty(0, dtype=np.uint64)
    gaps = np.empty(ids.size, dtype=np.uint64)
    gaps[0] = np.uint64(ids[0] + 1)
    if ids.size > 1:
        gaps[1:] = np.diff(ids).astype(np.uint64)
    return gaps


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    g = np.asarray(gaps, dtype=np.uint64).astype(np.int64)
    if g.size == 0:
        return np.empty(0, dtype=np.int64)
    out = np.cumsum(g)
    return out - 1  # undo the +1 on the first element


# ---------------------------------------------------------------------------
# run-grained kernels shared by the encoders and the build's Arrow passes
# ---------------------------------------------------------------------------


def run_delta_gaps(values: np.ndarray, run_starts: np.ndarray) -> np.ndarray:
    """Delta gaps of many runs stored back to back, each run restarting
    with its first value stored +1 (``delta_encode`` per run, in one diff
    + one scatter). ``run_starts`` must include 0 when ``values`` is
    non-empty. Runs are blocks for the docs blob and postings for the
    positions sidecar."""
    n = values.size
    gaps = np.empty(n, dtype=np.uint64)
    if n == 0:
        return gaps
    gaps[0] = np.uint64(values[0] + 1)
    if n > 1:
        gaps[1:] = np.diff(values).astype(np.uint64)
    gaps[run_starts] = (values[run_starts] + 1).astype(np.uint64)
    return gaps


def gather_runs(
    flat: np.ndarray, run_starts: np.ndarray, run_lens: np.ndarray
) -> np.ndarray:
    """Gather variable-length runs out of ``flat`` in a NEW run order:
    run i of the output is flat[run_starts[i] : run_starts[i]+run_lens[i]].
    One np.repeat + one arange — the per-posting permutation of position
    runs that the build's invert and merge sorts and the query-side
    position verify need."""
    total = int(run_lens.sum())
    if total == 0:
        return np.empty(0, dtype=flat.dtype)
    new_prefix = np.zeros(run_lens.size, dtype=np.int64)
    np.cumsum(run_lens[:-1], out=new_prefix[1:])
    idx = np.repeat(run_starts, run_lens) + (
        np.arange(total, dtype=np.int64) - np.repeat(new_prefix, run_lens)
    )
    return flat[idx]


# ---------------------------------------------------------------------------
# block-addressable posting-list encode/decode
# ---------------------------------------------------------------------------


def encode_postings(
    doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray | None = None
) -> dict:
    """Encode one term's postings (doc_ids sorted strictly ascending).

    ``dls`` (per-posting document length) is consumed for METADATA ONLY: the
    per-block min_dl that, with max_tf, gives a tight avgdl-independent
    score upper bound for block-max WAND (tfnorm is increasing in tf and
    decreasing in dl, so tfnorm(max_tf, min_dl) bounds every posting in the
    block). The dl VALUES themselves are not stored per posting — a doc's
    length is the same for every term it appears in, so repeating it per
    posting inflated the index ~1/3; scoring reads the doc-indexed norms
    array instead (operators/state.load_norms, the Lucene-norms analog).

    Returns the segments-table payload:
      docs_blob, tfs_blob           : bytes
      doc_offs, tf_offs             : int64[n_blocks+1] byte offsets
      block_first/last              : int64[n_blocks]
      block_max_tf, block_min_dl    : int64[n_blocks]
      n_docs, max_tf                : ints
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    if dls is None:
        dls = np.ones_like(tfs)
    dls = np.asarray(dls, dtype=np.int64)
    n = doc_ids.size
    assert n > 0 and tfs.size == n and dls.size == n
    n_blocks = (n + BLOCK - 1) // BLOCK
    starts = np.arange(0, n, BLOCK, dtype=np.int64)
    ends = np.minimum(starts + BLOCK, n)

    # block-local delta gaps in ONE vectorized pass (encode/decode are
    # O(list) with no per-block python loop — this is the build hot path)
    gaps = run_delta_gaps(doc_ids, starts)
    tfs_u = tfs.astype(np.uint64)

    def offs_for(vals: np.ndarray) -> np.ndarray:
        prefix = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(varbyte_lengths(vals), out=prefix[1:])
        out = np.empty(n_blocks + 1, dtype=np.int64)
        out[:-1] = prefix[starts]
        out[-1] = prefix[n]
        return out

    # per-block extrema via ufunc.reduceat (ints — order-independent)
    block_max_tf = np.maximum.reduceat(tfs, starts)
    block_min_dl = np.minimum.reduceat(dls, starts)

    return {
        "n_docs": int(n),
        "docs_blob": varbyte_encode(gaps),
        "tfs_blob": varbyte_encode(tfs_u),
        "doc_offs": offs_for(gaps),
        "tf_offs": offs_for(tfs_u),
        "block_first": doc_ids[starts].copy(),
        "block_last": doc_ids[ends - 1].copy(),
        "block_max_tf": block_max_tf,
        "block_min_dl": block_min_dl,
        "max_tf": int(tfs.max()),
    }


def decode_block(enc: dict, b: int) -> tuple[np.ndarray, np.ndarray]:
    """Decode block b only -> (doc_ids, tfs). O(block), not O(list).
    Document lengths come from the doc-indexed norms array: norms[doc_ids]."""
    do, to = enc["doc_offs"], enc["tf_offs"]
    docs = delta_decode(varbyte_decode(memoryview(enc["docs_blob"])[do[b] : do[b + 1]]))
    tfs = varbyte_decode(memoryview(enc["tfs_blob"])[to[b] : to[b + 1]]).astype(
        np.int64
    )
    return docs, tfs


def decode_postings(enc: dict) -> tuple[np.ndarray, np.ndarray]:
    """Decode ALL blocks -> (doc_ids int64 ascending, tfs) in O(list)
    VECTORIZED work: the blobs are concatenations of the per-block varbyte
    streams (varbyte is self-delimiting, so one decode call handles the
    whole row), and the per-block delta restarts fold into one cumsum with
    per-block base subtraction. The per-block python loop this replaces
    cost ~18us of call overhead per 128-posting block — 200ms+ per dense
    term at 10^6 postings, the serve-tier tail latency."""
    n_blocks = len(enc["block_first"])
    if n_blocks == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy()
    gaps = varbyte_decode(enc["docs_blob"]).astype(np.int64)
    tfs = varbyte_decode(enc["tfs_blob"]).astype(np.int64)
    n = gaps.size
    starts = np.arange(0, n, BLOCK, dtype=np.int64)
    cs = np.cumsum(gaps)
    # docs[i] = cumsum-within-block - 1 (each block's first value is stored
    # as doc_id+1): subtract the running total at each block's entry
    base = np.zeros(n_blocks, dtype=np.int64)
    base[1:] = cs[starts[1:] - 1]
    sizes = np.diff(np.append(starts, n))
    docs = cs - np.repeat(base, sizes) - 1
    return docs, tfs


def encode_plain(doc_ids: np.ndarray, tfs: np.ndarray) -> tuple[bytes, bytes]:
    """Blockless delta+varbyte encoding for partition-local SUB-segments —
    the compact wire format for the term-merge shuffle (final segments get
    block metadata via encode_postings at merge time). dl never rides the
    shuffle: the merge derives block_min_dl from the norms array."""
    return (
        varbyte_encode(delta_encode(np.asarray(doc_ids, dtype=np.int64))),
        varbyte_encode(np.asarray(tfs, dtype=np.uint64)),
    )


def decode_plain(docs_blob: bytes, tfs_blob: bytes) -> tuple[np.ndarray, np.ndarray]:
    return (
        delta_decode(varbyte_decode(docs_blob)),
        varbyte_decode(tfs_blob).astype(np.int64),
    )


def merge_encoded(parts: list[dict], norms: np.ndarray | None = None) -> dict:
    """Merge encoded postings of ONE term whose doc_id ranges are disjoint
    and given in ascending range order — concatenation is then order-safe
    (SURVEY.md §4 custom #1: salted sub-segments cover disjoint docID
    ranges, so the global list is the ordered concat). ``norms`` (doc-indexed
    dl array) supplies the block_min_dl metadata; defaults to all-ones."""
    decoded = [decode_postings(p) for p in parts]
    docs = np.concatenate([d[0] for d in decoded])
    tfs = np.concatenate([d[1] for d in decoded])
    dls = norms[docs] if norms is not None else None
    return encode_postings(docs, tfs, dls)


# ---------------------------------------------------------------------------
# OPTIONAL positions sidecar (v2 layout spike — docs/positional-postings.md)
# ---------------------------------------------------------------------------


def encode_positions(positions: np.ndarray, tfs: np.ndarray) -> dict:
    """Encode the positions sidecar for ONE term's posting list.

    ``positions``: flat int64 — the concatenation, in posting (doc) order,
    of each doc's strictly-increasing token positions for this term.
    ``tfs``: per-posting position counts (the SAME tf array
    ``encode_postings`` stores — the sidecar adds no length array; decode
    splits the flat stream by tf).

    Layout mirrors the docs blob: within-POSTING delta (each posting's
    first position stored +1 so every gap is >= 1 and 0 stays a corruption
    canary), one varbyte stream, plus byte offsets at every
    BLOCK-postings boundary (the same 128-posting blocks as the doc/tf
    blobs) so a block-max WAND skip also skips its positions' decode cost.

    Returns {"pos_blob": bytes, "pos_offs": int64[n_blocks+1]}.
    """
    tfs = np.asarray(tfs, dtype=np.int64)
    positions = np.asarray(positions, dtype=np.int64)
    n = positions.size
    n_post = tfs.size
    assert int(tfs.sum()) == n, "positions stream must match tf counts"
    if n == 0:
        return {
            "pos_blob": b"",
            "pos_offs": np.zeros(1, dtype=np.int64),
        }
    p_starts = np.zeros(n_post, dtype=np.int64)
    np.cumsum(tfs[:-1], out=p_starts[1:])
    gaps = run_delta_gaps(positions, p_starts)

    n_blocks = (n_post + BLOCK - 1) // BLOCK
    block_post_starts = np.arange(0, n_post, BLOCK, dtype=np.int64)
    block_val_starts = p_starts[block_post_starts]
    prefix = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(varbyte_lengths(gaps), out=prefix[1:])
    pos_offs = np.empty(n_blocks + 1, dtype=np.int64)
    pos_offs[:-1] = prefix[block_val_starts]
    pos_offs[-1] = prefix[n]
    return {"pos_blob": varbyte_encode(gaps), "pos_offs": pos_offs}


def decode_positions(pos_blob: bytes | memoryview, tfs: np.ndarray) -> np.ndarray:
    """Decode a full positions sidecar -> flat int64 positions (same
    concatenated order encode_positions consumed). O(list) vectorized:
    one varbyte decode, one cumsum, per-posting restart bases subtracted
    via np.repeat — the decode_postings pattern with posting-granular
    restarts instead of block-granular. Split per posting with
    ``np.split(flat, np.cumsum(tfs)[:-1])`` when needed."""
    tfs = np.asarray(tfs, dtype=np.int64)
    n = int(tfs.sum())
    if n == 0:
        return np.empty(0, dtype=np.int64)
    gaps = varbyte_decode(pos_blob).astype(np.int64)
    assert gaps.size == n, "positions blob disagrees with tf counts"
    p_starts = np.zeros(tfs.size, dtype=np.int64)
    np.cumsum(tfs[:-1], out=p_starts[1:])
    cs = np.cumsum(gaps)
    base = np.zeros(tfs.size, dtype=np.int64)
    base[1:] = cs[p_starts[1:] - 1]
    return cs - np.repeat(base, tfs) - 1


def decode_positions_block(
    enc: dict, tfs_block: np.ndarray, b: int
) -> np.ndarray:
    """Decode block b's positions only -> flat int64 for that block's
    postings (``tfs_block`` = the tf values of block b, e.g. from
    decode_block). O(block positions), not O(list) — the offsets make a
    skipped block skip its positions decode exactly like doc/tf blobs."""
    po = enc["pos_offs"]
    return decode_positions(
        memoryview(enc["pos_blob"])[int(po[b]) : int(po[b + 1])], tfs_block
    )


def merge_positions(parts: list[dict], parts_tfs: list[np.ndarray]) -> dict:
    """Merge positions sidecars of ONE term across disjoint ascending
    docID ranges (the merge_encoded contract). Per-posting delta restarts
    make each posting's byte run self-contained, so the merged stream is
    the plain blob concatenation — only the block-boundary offsets need
    recomputing (block boundaries move when part posting counts aren't
    BLOCK-aligned), which this does from the parts' varbyte streams
    without re-encoding a single value."""
    tfs_all = np.concatenate(
        [np.asarray(t, dtype=np.int64) for t in parts_tfs]
    ) if parts_tfs else np.empty(0, dtype=np.int64)
    blob = b"".join(bytes(p["pos_blob"]) for p in parts)
    n_post = tfs_all.size
    n = int(tfs_all.sum())
    if n == 0:
        return {"pos_blob": b"", "pos_offs": np.zeros(1, dtype=np.int64)}
    raw = np.frombuffer(blob, dtype=np.uint8)
    ends = np.flatnonzero((raw & 0x80) == 0)  # one end per encoded value
    assert ends.size == n, "merged positions blob disagrees with tf counts"
    p_starts = np.zeros(n_post, dtype=np.int64)
    np.cumsum(tfs_all[:-1], out=p_starts[1:])
    val_starts = np.zeros(n, dtype=np.int64)
    val_starts[1:] = ends[:-1] + 1
    n_blocks = (n_post + BLOCK - 1) // BLOCK
    block_post_starts = np.arange(0, n_post, BLOCK, dtype=np.int64)
    pos_offs = np.empty(n_blocks + 1, dtype=np.int64)
    pos_offs[:-1] = val_starts[p_starts[block_post_starts]]
    pos_offs[-1] = raw.size
    return {"pos_blob": blob, "pos_offs": pos_offs}
