"""Positional (v2) index layout: build, codec round-trip against the
tokenizer truth, index-side phrase/slop parity with the source-verify
path, serve-tier parity, v1-query isolation, and the incremental guard.
(docs/positional-postings.md)"""

import numpy as np
import pyarrow.parquet as pq
import pytest

from osu_elastic_indexer_spark import oracle
from osu_elastic_indexer_spark.functions import codec
from osu_elastic_indexer_spark.functions.textprep import extract_text, tokenize
from osu_elastic_indexer_spark.operators.boolquery import (
    index_has_positions,
    phrase_topk,
)
from osu_elastic_indexer_spark.operators.build import build_index
from osu_elastic_indexer_spark.sources.catalog import (
    Catalog,
    committed_gen_paths,
)

from util import assert_rank_identical


@pytest.fixture(scope="module")
def pos_index(spark, corpus_path, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pos_indexes"))
    cat = Catalog(root)
    build_index(
        spark, spark.read.parquet(corpus_path), cat, "v1", positions=True
    )
    return cat


@pytest.fixture(scope="module")
def v1_index(spark, corpus_path, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("plain_indexes"))
    cat = Catalog(root)
    build_index(spark, spark.read.parquet(corpus_path), cat, "v1")
    return cat


@pytest.fixture(scope="module")
def pos_truth(spark, corpus_path, pos_index):
    """(term, doc_id) -> ascending token positions, plus texts by doc."""
    dm = {
        r.url: r.doc_id
        for r in spark.read.parquet(
            *committed_gen_paths(pos_index.index_dir("v1"), "docmap")
        ).collect()
    }
    tbl = pq.read_table(corpus_path)
    truth: dict[tuple[str, int], list[int]] = {}
    texts: dict[int, str] = {}
    for u, h, lang, txt in zip(
        tbl["url"].to_pylist(),
        tbl["html"].to_pylist(),
        tbl["lang"].to_pylist(),
        tbl["text"].to_pylist(),
    ):
        if lang != "en" or not txt or u not in dm:
            continue
        text = extract_text(h) or ""
        toks = tokenize(text)
        d = dm[u]
        texts[d] = text
        for j, t in enumerate(toks):
            truth.setdefault((t, d), []).append(j)
    return truth, texts


def test_manifest_flag_and_v1_columns_absent(spark, pos_index, v1_index):
    assert index_has_positions(pos_index.index_dir("v1"))
    assert not index_has_positions(v1_index.index_dir("v1"))
    cols = set(
        spark.read.parquet(
            *committed_gen_paths(pos_index.index_dir("v1"), "segments")
        ).columns
    )
    assert {"pos_blob", "pos_offs"} <= cols
    v1cols = set(
        spark.read.parquet(
            *committed_gen_paths(v1_index.index_dir("v1"), "segments")
        ).columns
    )
    assert "pos_blob" not in v1cols


def test_positions_match_tokenizer_truth(spark, pos_index, pos_truth):
    """Every stored position list decodes identical to tokenizing the
    source — the build/extract byte-identity invariant extended to the
    positional sidecar; block-addressable decode agrees too."""
    truth, _texts = pos_truth
    idx = pos_index.index_dir("v1")
    terms_by_id = {
        r.term_id: r.term
        for r in spark.read.parquet(
            *committed_gen_paths(idx, "dictionary")
        ).collect()
    }
    seg = pq.read_table(committed_gen_paths(idx, "segments")[0])
    checked = 0
    for i in range(seg.num_rows):
        term = terms_by_id[seg.column("term_id")[i].as_py()]
        enc = {
            "docs_blob": seg.column("docs_blob")[i].as_py(),
            "tfs_blob": seg.column("tfs_blob")[i].as_py(),
            "doc_offs": np.array(seg.column("doc_offs")[i].as_py()),
            "tf_offs": np.array(seg.column("tf_offs")[i].as_py()),
            "block_first": np.array(seg.column("block_first")[i].as_py()),
            "pos_blob": seg.column("pos_blob")[i].as_py(),
            "pos_offs": np.array(seg.column("pos_offs")[i].as_py()),
        }
        docs, tfs = codec.decode_postings(enc)
        poss = codec.decode_positions(enc["pos_blob"], tfs)
        splits = np.split(poss, np.cumsum(tfs)[:-1])
        for d, tf, ps in zip(docs, tfs, splits):
            assert ps.tolist() == truth[(term, int(d))], (term, int(d))
            checked += 1
        tb0 = codec.decode_block(enc, 0)[1]
        assert np.array_equal(
            codec.decode_positions_block(enc, tb0, 0),
            poss[: int(tb0.sum())],
        )
    assert checked > 1000


def test_positional_phrase_bit_identical_to_source_verify(
    spark, pos_index, corpus_path, pos_truth
):
    """The index-side phrase path must return EXACTLY the source-verify
    path's rows for exact, gapped-slop, and transposed-slop queries —
    including a repeated-term phrase (injectivity)."""
    truth, texts = pos_truth
    idx = pos_index.index_dir("v1")
    src = spark.read.parquet(corpus_path)
    toks = tokenize(texts[min(texts)])
    queries = [
        (0, " ".join(toks[2:4])),
        (1, " ".join(reversed(toks[2:4]))),
        (2, "the and"),
        (3, "needletriple needletriple"),
        (4, "w00100 xyzzyabsent"),
    ]
    for slop in (0, 1, 2):
        a = sorted(
            tuple(r)
            for r in phrase_topk(
                spark, idx, src, queries, 10, slop=slop, use_positions="never"
            ).collect()
        )
        b = sorted(
            tuple(r)
            for r in phrase_topk(
                spark, idx, None, queries, 10, slop=slop
            ).collect()
        )
        assert a == b, f"slop={slop}"
        assert b or slop == 0  # sanity: the head-term phrase matches


def test_positional_phrase_matches_oracle(spark, pos_index, pos_truth):
    """Independent truth: positional results == the pure-python oracle's
    brute-force slop search over the extracted texts."""
    truth, texts = pos_truth
    idx = pos_index.index_dir("v1")
    orc = oracle.build_index(sorted(texts.items()))
    toks = tokenize(texts[min(texts)])
    for q, slop in ((" ".join(toks[2:4]), 0), (" ".join(toks[5:8]), 1),
                    (" ".join(reversed(toks[2:4])), 2)):
        res = phrase_topk(spark, idx, None, [(0, q)], k=10, slop=slop).collect()
        got = [(r.doc_id, r.score) for r in sorted(res, key=lambda r: r.rank)]
        expect = oracle.search_phrase(orc, texts, q, k=10, slop=slop)
        assert_rank_identical(got, expect, msg=f"pos phrase {q!r} slop={slop}")


def test_serve_positional_phrase(pos_index, pos_truth):
    """Serve tier answers phrases with NO source_path on a v2 index,
    matching the oracle; a v1-style call without source on a v1 index
    raises (covered in test_boolquery serve tests)."""
    from osu_elastic_indexer_spark.operators.serve import LocalSearcher

    truth, texts = pos_truth
    s = LocalSearcher(pos_index.index_dir("v1"))
    assert s.positions
    orc = oracle.build_index(sorted(texts.items()))
    toks = tokenize(texts[min(texts)])
    for _repeat in range(2):  # second pass exercises the positions cache
        for q, slop in ((" ".join(toks[2:4]), 0), (" ".join(toks[2:4]), 2),
                        ("the and", 1)):
            got = s.search_phrase(q, k=10, slop=slop)
            expect = oracle.search_phrase(orc, texts, q, k=10, slop=slop)
            assert_rank_identical(
                got, expect, msg=f"serve pos {q!r} slop={slop}"
            )
    assert s._pos_decoded  # the cache actually holds decoded positions


def test_serve_requires_source_without_positions(v1_index, corpus_path):
    from osu_elastic_indexer_spark.operators.serve import LocalSearcher

    s = LocalSearcher(v1_index.index_dir("v1"))
    assert not s.positions
    with pytest.raises(ValueError, match="positions"):
        s.search_phrase("w00100 w00200", k=10)


def test_v1_queries_unaffected_on_positional_index(
    spark, pos_index, v1_index, corpus_path
):
    """wand/bool/serve on a positional index return exactly what they
    return on the plain index built from the same corpus, and their plans
    never read the positions sidecar."""
    from osu_elastic_indexer_spark.operators.serve import LocalSearcher
    from osu_elastic_indexer_spark.operators.wand import wand_topk

    qs = [(0, "w00100 w00200"), (1, "the"), (2, "needleunique")]
    p_idx = pos_index.index_dir("v1")
    v_idx = v1_index.index_dir("v1")
    a = sorted(tuple(r) for r in wand_topk(spark, p_idx, qs, 10).collect())
    b = sorted(tuple(r) for r in wand_topk(spark, v_idx, qs, 10).collect())
    assert a == b and a
    from osu_elastic_indexer_spark.operators.boolquery import bool_topk

    spec = [(0, {"must": "w00100", "must_not": "the"})]
    ab = [tuple(r) for r in bool_topk(spark, p_idx, spec, 10).collect()]
    bb = [tuple(r) for r in bool_topk(spark, v_idx, spec, 10).collect()]
    assert ab == bb
    sa = LocalSearcher(p_idx).search("w00100 w00200", 10)
    sb = LocalSearcher(v_idx).search("w00100 w00200", 10)
    assert sa == sb and sa
    # plan: the positions sidecar must not be in the wand scan's schema
    plan = wand_topk(spark, p_idx, qs, 10)._jdf.queryExecution().executedPlan().toString()
    assert "pos_blob" not in plan, plan


def test_incremental_and_compaction_carry_positions(
    spark, corpus_path, tmp_path
):
    """Incremental generations on a positional index carry the sidecar:
    after a CDC batch (adds + updates + flips) the positional phrase
    paths — per-query, docpart, and serve — must equal the source-verify
    path over the evolved source, across exact and slop; compaction then
    rewrites to one generation and everything must still agree."""
    import pyarrow.parquet as pqt

    from osu_elastic_indexer_spark.operators.serve import LocalSearcher
    from osu_elastic_indexer_spark.sources.fixtures import evolve_corpus
    from osu_elastic_indexer_spark.streaming.incremental import (
        compact_index,
        incremental_update,
    )

    cat = Catalog(str(tmp_path / "pos_inc"))
    build_index(
        spark, spark.read.parquet(corpus_path), cat, "v1", positions=True
    )
    evolved_path = str(tmp_path / "evolved.parquet")
    pqt.write_table(
        evolve_corpus(pqt.read_table(corpus_path), n_new=80, n_update=40,
                      n_flip=10),
        evolved_path,
    )
    evolved = spark.read.parquet(evolved_path)
    m = incremental_update(spark, evolved, cat, "v1")
    assert int(m["generations"]) == 2
    idx = cat.index_dir("v1")
    assert index_has_positions(idx)
    qs = [(0, "the and"), (1, "w00100 w00200"), (2, "and the")]

    def check(tag):
        for slop in (0, 2):
            want = sorted(
                tuple(r)
                for r in phrase_topk(
                    spark, idx, evolved, qs, 10, slop=slop,
                    use_positions="never",
                ).collect()
            )
            got_pq = sorted(
                tuple(r)
                for r in phrase_topk(
                    spark, idx, None, qs, 10, slop=slop
                ).collect()
            )
            got_dp = sorted(
                tuple(r)
                for r in phrase_topk(
                    spark, idx, None, qs, 10, slop=slop, docpart=True
                ).collect()
            )
            assert want == got_pq == got_dp and want, (tag, slop)
        s = LocalSearcher(idx)
        sv = s.search_phrase("the and", evolved_path, k=10, slop=1)
        sp = s.search_phrase("the and", k=10, slop=1)
        assert sv == sp and sp, tag

    check("post-incremental")
    compact_index(spark, cat, "v1")
    assert index_has_positions(idx)
    check("post-compaction")


def test_positional_docpart_matches_per_query_multisalt(
    spark, corpus_path, tmp_path
):
    """phrase_topk(docpart=True) on a positional index routes to the
    cell-parallel shape; on a FORCED multi-salt grid it must stay
    bit-identical to the per-query positional path across slops —
    including a repeated-term phrase (per-doc fallback inside a cell)."""
    cat = Catalog(str(tmp_path / "pos_salted"))
    build_index(
        spark, spark.read.parquet(corpus_path), cat, "v1",
        positions=True, salt_group_cap=200,
    )
    idx = cat.index_dir("v1")
    qs = [
        (0, "the and"),
        (1, "w00100 w00200"),
        (2, "needletriple needletriple"),
        (3, "and the"),
    ]
    for slop in (0, 1, 2):
        a = sorted(
            tuple(r)
            for r in phrase_topk(
                spark, idx, None, qs, 10, slop=slop, docpart=False
            ).collect()
        )
        b = sorted(
            tuple(r)
            for r in phrase_topk(
                spark, idx, None, qs, 10, slop=slop, docpart=True
            ).collect()
        )
        assert a == b and a, f"slop={slop}"


def test_phrase_auto_routes_head_terms_to_docpart(
    spark, pos_index, monkeypatch
):
    """docpart='auto' (the default) routes a head-term phrase to the
    cell-parallel docpart shape and a rare phrase to the per-query runner
    — decided from a driver-side dictionary df seek, no Spark job — and
    the mixed batch unions bit-identically to the forced paths."""
    from osu_elastic_indexer_spark.operators import boolquery as bq

    idx = pos_index.index_dir("v1")
    calls = {"docpart": [], "perq": []}
    real_dp, real_pq = bq.phrase_topk_positional_docpart, bq._phrase_topk_positional

    def spy_dp(spark_, idx_, queries, k, slop):
        calls["docpart"] += [q for q, _t in queries]
        return real_dp(spark_, idx_, queries, k, slop)

    def spy_pq(spark_, idx_, queries, k, slop):
        calls["perq"] += [q for q, _t in queries]
        return real_pq(spark_, idx_, queries, k, slop)

    monkeypatch.setattr(bq, "phrase_topk_positional_docpart", spy_dp)
    monkeypatch.setattr(bq, "_phrase_topk_positional", spy_pq)
    # fixture corpus: 'the and' dfs sum well above 400; 'w00100 w00200' far
    # below — pin the threshold between them instead of relying on scale
    monkeypatch.setattr(bq, "PHRASE_DOCPART_DF_SUM", 400)
    qs = [(0, "the and"), (1, "w00100 w00200")]
    auto = sorted(
        tuple(r) for r in bq.phrase_topk(spark, idx, None, qs, 10, slop=1).collect()
    )
    assert calls == {"docpart": [0], "perq": [1]}
    forced = sorted(
        tuple(r)
        for r in bq.phrase_topk(
            spark, idx, None, qs, 10, slop=1, docpart=False
        ).collect()
    )
    assert auto == forced and auto
    # out-of-vocabulary terms stay on the per-query path (empty result)
    calls["docpart"], calls["perq"] = [], []
    got = bq.phrase_topk(
        spark, idx, None, [(7, "the xyzzyabsent")], 10
    ).collect()
    assert got == [] and calls == {"docpart": [], "perq": [7]}


def test_decode_positions_selected_unit(monkeypatch):
    """The shared block-selection helper (per-query runner pass 2 AND the
    docpart cell scorer's position pass) decodes ONLY candidate-bearing
    128-posting blocks when they are <= half the row's blocks, falls back
    to one whole-row decode above that, returns None when no block holds
    a candidate, and its partial arrays agree with the full decode."""
    from osu_elastic_indexer_spark.operators.boolquery import (
        _decode_positions_selected,
    )

    n = 600  # 5 blocks at BLOCK=128 (last one partial)
    docs = np.arange(0, 2 * n, 2, dtype=np.int64)
    tfs = (np.arange(n) % 3 + 1).astype(np.int64)
    positions = np.concatenate(
        [np.arange(t, dtype=np.int64) * 2 + (i % 7) for i, t in enumerate(tfs)]
    )
    enc = codec.encode_postings(docs, tfs)
    enc.update(codec.encode_positions(positions, tfs))
    rows = [(enc, docs, tfs)]

    calls = {"full": 0, "block": []}
    real_full = codec.decode_positions
    real_block = codec.decode_positions_block

    def spy_full(blob, t):
        # decode_positions_block delegates here with a SLICED memoryview;
        # count only whole-sidecar decodes (what block selection avoids)
        if len(blob) == len(enc["pos_blob"]):
            calls["full"] += 1
        return real_full(blob, t)

    def spy_block(e, tb, b):
        calls["block"].append(b)
        return real_block(e, tb, b)

    monkeypatch.setattr(codec, "decode_positions", spy_full)
    monkeypatch.setattr(codec, "decode_positions_block", spy_block)

    BLK = codec.BLOCK
    full_poss = real_full(enc["pos_blob"], tfs)
    pstart = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(tfs, out=pstart[1:])

    # one candidate inside block 3 -> exactly block 3 decoded
    eligible = docs[3 * BLK + 10 : 3 * BLK + 11]
    d, tf, poss, ps = _decode_positions_selected(rows, eligible)
    assert calls == {"full": 0, "block": [3]}
    sl = slice(3 * BLK, 4 * BLK)
    assert np.array_equal(d, docs[sl]) and np.array_equal(tf, tfs[sl])
    assert np.array_equal(poss, full_poss[pstart[3 * BLK] : pstart[4 * BLK]])
    assert ps[-1] == poss.size
    # the selected arrays still resolve a candidate's occurrence run
    j = int(np.searchsorted(d, eligible[0]))
    assert np.array_equal(
        poss[ps[j] : ps[j + 1]],
        full_poss[pstart[3 * BLK + 10] : pstart[3 * BLK + 11]],
    )

    # candidates in 4 of 5 blocks -> whole-row decode (n_need > nb // 2)
    calls["full"], calls["block"] = 0, []
    eligible = docs[[10, BLK + 10, 2 * BLK + 10, 4 * BLK + 10]]
    d, tf, poss, ps = _decode_positions_selected(rows, eligible)
    assert calls["full"] == 1 and calls["block"] == []
    assert np.array_equal(d, docs) and np.array_equal(poss, full_poss)

    # no candidate in any block's [first, last] range -> None
    calls["full"], calls["block"] = 0, []
    assert _decode_positions_selected(rows, np.array([10**9])) is None
    assert calls == {"full": 0, "block": []}


def _decoded_from_streams(streams: dict[int, list[str]], shift: int = 0):
    """term -> (docs, tfs, poss, pstart) over hand-built token streams, the
    shape ``_decode_positions_selected`` returns (docIDs + ``shift``)."""
    occ: dict[str, dict[int, list[int]]] = {}
    for d, toks in sorted(streams.items()):
        for j, t in enumerate(toks):
            occ.setdefault(t, {}).setdefault(d, []).append(j)
    out = {}
    for t, by_doc in occ.items():
        docs = np.asarray(sorted(by_doc), dtype=np.int64)
        tfs = np.asarray([len(by_doc[d]) for d in sorted(by_doc)], dtype=np.int64)
        poss = np.asarray(
            [p for d in sorted(by_doc) for p in by_doc[d]], dtype=np.int64
        )
        pstart = np.zeros(docs.size + 1, dtype=np.int64)
        np.cumsum(tfs, out=pstart[1:])
        out[t] = (docs + shift, tfs, poss, pstart)
    return out


def test_pooled_slot_verify_per_doc_unit(monkeypatch):
    """Pooled position slots (match_phrase_prefix's last slot pools the
    prefix's expansions): the per-doc fallback, the vectorized
    ``_verify_positions_cell`` paths and a brute-force token scan agree on
    hand-built inputs, slop 0 and 1, with and without a term repeated
    across slots — and docIDs large enough to overflow the fused key route
    the kernel itself to the fallback with the same answer."""
    import itertools

    from osu_elastic_indexer_spark.operators import boolquery as bq
    from osu_elastic_indexer_spark.operators.boolquery import (
        _verify_per_doc,
        _verify_positions_cell,
    )

    fallbacks = []
    monkeypatch.setattr(
        bq, "_verify_per_doc",
        lambda *a: fallbacks.append(a[2]) or _verify_per_doc(*a),
    )
    rng = np.random.default_rng(3)
    streams = {
        int(d): [str(t) for t in rng.choice(list("abcde"), rng.integers(1, 14))]
        for d in np.sort(rng.choice(400, size=120, replace=False))
    }
    decoded = _decoded_from_streams(streams)
    eligible = np.asarray(
        sorted(d for d in streams if rng.random() < 0.8), dtype=np.int64
    )
    huge = 2**58
    decoded_huge = _decoded_from_streams(streams, shift=huge)
    cases = [
        [("a",), ("b",), ("c", "d")],  # pooled last slot, no repeats
        [("c", "d", "e")],  # prefix-only: one slot, no verify
        [("a",), ("a", "b")],  # an expansion equal to a full token
        [("b",), ("a",), ("b",)],  # repeated single-term slots
        [("a", "b"), ("c",), ("d", "e")],  # pooled first and last slots
        [("a",), ("zz", "b")],  # a pooled term with no postings
    ]
    for slots in cases:
        for slop in (0, 1):
            per_doc = _verify_per_doc(eligible, slots, decoded, slop)
            truth = [
                d for d in eligible
                if any(
                    oracle._slop_match_bruteforce(streams[d], list(c), slop)
                    for c in itertools.product(*slots)
                )
            ]
            assert per_doc == truth, (slots, slop)
            if len(slots) > 1:
                assert per_doc, (slots, slop)  # the case exercises matches
            del fallbacks[:]
            cell = _verify_positions_cell(slots, decoded, eligible, slop)
            if len(slots) == 1:
                # one slot verifies as eligible (candidates already hold it)
                assert cell is eligible
                continue
            assert cell.tolist() == per_doc, (slots, slop)
            # only slop with a repeated term takes the fallback at small ids
            repeats = sum(map(len, slots)) > len(set().union(*slots))
            assert bool(fallbacks) == (slop > 0 and repeats), (slots, slop)
            over = _verify_positions_cell(
                slots, decoded_huge, eligible + huge, slop
            )
            assert fallbacks[-1] is decoded_huge  # fused-key overflow
            assert (over - huge).tolist() == per_doc, (slots, slop)


def test_match_phrase_prefix(spark, pos_index, corpus_path, v1_index):
    """ES match_phrase_prefix (autocomplete): full tokens adjacent to ANY
    capped expansion of the last-token prefix, verified on the positional
    index — match set identical to a brute-force token scan; the
    expansion cap binds term-asc; v1 indexes refuse; prefix-only input
    degenerates to an any-occurrence prefix query."""
    from osu_elastic_indexer_spark.operators.boolquery import (
        match_phrase_prefix_topk,
    )

    idx = pos_index.index_dir("v1")
    docmap = spark.read.parquet(pos_index.table_path("v1", "docmap"))
    id_by_url = {r.url: r.doc_id for r in docmap.collect()}
    tbl = pq.read_table(corpus_path)

    def truth(full, prefix):
        out = set()
        for u, h, lang in zip(
            tbl["url"].to_pylist(), tbl["html"].to_pylist(),
            tbl["lang"].to_pylist(),
        ):
            if lang != "en" or u not in id_by_url:
                continue
            toks = tokenize(extract_text(h) or "")
            n = len(full)
            if n == 0:
                if any(t.startswith(prefix) for t in toks):
                    out.add(id_by_url[u])
            elif any(
                toks[i:i + n] == full and toks[i + n].startswith(prefix)
                for i in range(len(toks) - n)
            ):
                out.add(id_by_url[u])
        return out

    for q, full, prefix in [
        ("the ze", ["the"], "ze"),
        ("w0010", [], "w0010"),
        ("quick brown fo", ["quick", "brown"], "fo"),
    ]:
        eng = {
            r.doc_id
            for r in match_phrase_prefix_topk(
                spark, idx, [(0, q)], 10**6
            ).collect()
        }
        assert eng == truth(full, prefix), q
    # ranking is deterministic: score desc, doc_id asc
    rows = match_phrase_prefix_topk(spark, idx, [(0, "the ze")], 10).collect()
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    assert all(
        (rows[i].score, -rows[i].doc_id) >= (rows[i + 1].score, -rows[i + 1].doc_id)
        or rows[i].score > rows[i + 1].score
        for i in range(len(rows) - 1)
    )
    # no expansion -> empty; v1 (positions-free) index -> refused
    assert match_phrase_prefix_topk(
        spark, idx, [(0, "the xqzzy")], 10
    ).collect() == []
    with pytest.raises(ValueError, match="POSITIONAL"):
        match_phrase_prefix_topk(
            spark, v1_index.index_dir("v1"), [(0, "the ze")], 10
        )
