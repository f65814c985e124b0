"""M2-M4 golden tests: full index build (SPIMI -> salted merge -> segments)
and block-max WAND rank-identity vs the pure-python oracle, including a
forced-salting build (SURVEY.md §7.4 #3) and build resume (T8)."""

import pyarrow.parquet as pq
import pytest

from osu_elastic_indexer_spark import oracle
from osu_elastic_indexer_spark.functions.textprep import extract_text
from osu_elastic_indexer_spark.operators.build import build_index
from osu_elastic_indexer_spark.operators.wand import bmw_topk, wand_topk
from osu_elastic_indexer_spark.sources.catalog import Catalog
from osu_elastic_indexer_spark.sources.fixtures import reference_queries

from util import assert_rank_identical


@pytest.fixture(scope="module")
def oracle_index(corpus_path, built_index, spark):
    """Oracle over the same docs in the ENGINE's id space (docmap url->id):
    the oracle defines scoring truth, the engine defines the id assignment
    (reference parity: scores.id is an arrival-order surrogate; this
    fixture is a file-scan build, whose ids follow the file's row order —
    a staged input's ids follow the staged files' scan order instead)."""
    cat, _ = built_index
    id_by_url = {
        r.url: r.doc_id
        for r in spark.read.parquet(cat.table_path("v1", "docmap")).collect()
    }
    tbl = pq.read_table(corpus_path)
    rows = [
        (id_by_url[u], extract_text(h))
        for u, h, lang, txt in zip(
            tbl["url"].to_pylist(),
            tbl["html"].to_pylist(),
            tbl["lang"].to_pylist(),
            tbl["text"].to_pylist(),
        )
        if lang == "en" and txt
    ]
    return oracle.build_index(rows)


@pytest.fixture(scope="module")
def built_index(spark, corpus_path, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("indexes"))
    cat = Catalog(root)
    docs = spark.read.parquet(corpus_path)
    manifest = build_index(spark, docs, cat, "v1")
    return cat, manifest


@pytest.fixture(scope="module")
def built_index_salted(spark, corpus_path, tmp_path_factory):
    """salt_group_cap=40 forces every term with df>40 to salt across
    multiple disjoint docID ranges — the head-term skew path. The input is
    spread over several partitions (at toy scale the whole corpus fits one
    scan split, and sub-segment salting is per-partition-range)."""
    root = str(tmp_path_factory.mktemp("indexes_salted"))
    cat = Catalog(root)
    docs = spark.read.parquet(corpus_path).repartitionByRange(6, "url")
    manifest = build_index(spark, docs, cat, "v1", salt_group_cap=40)
    return cat, manifest


def test_manifest_counters(built_index, oracle_index):
    cat, manifest = built_index
    assert manifest["counters"]["docs"] == oracle_index.n_docs
    total_postings = sum(len(p) for p in oracle_index.postings.values())
    assert manifest["counters"]["postings"] == total_postings
    assert manifest["counters"]["bytes"] > 0
    assert manifest["phases"]["segments"]["status"] == "done"
    assert manifest["cursor"] is not None


def test_stats_match_oracle(spark, built_index, oracle_index):
    cat, _ = built_index
    st = spark.read.parquet(cat.table_path("v1", "stats")).collect()[0]
    assert st.n_docs == oracle_index.n_docs
    assert abs(st.avgdl - oracle_index.avgdl) < 1e-12


def test_wand_rank_identical_all_queries(spark, built_index, oracle_index):
    cat, _ = built_index
    idx_dir = cat.index_dir("v1")
    queries = [(qid, q) for qid, q, _k in reference_queries()]
    res = wand_topk(spark, idx_dir, queries, k=10).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    for qid, qtext, k in reference_queries():
        got = [
            (d, s) for _rk, d, s in sorted(by_q.get(qid, []), key=lambda x: x[0])
        ]
        expect = oracle.search(oracle_index, qtext, k)
        assert_rank_identical(got, expect, msg=f"q{qid} {qtext!r}")


def test_docpart_identical_to_per_query_path(spark, built_index, oracle_index):
    """Document-partitioned batch search (wand_topk_docpart — blobs shuffle
    once per cell, independent of query count) must be EXACTLY the per-query
    path: same docs, same scores to the last bit, same tie order — and both
    rank-identical to the oracle."""
    from osu_elastic_indexer_spark.operators.wand import wand_topk_docpart

    cat, _ = built_index
    idx_dir = cat.index_dir("v1")
    queries = [(qid, q) for qid, q, _k in reference_queries()]
    a = {
        (r.query_id, r.rank): (r.doc_id, r.score)
        for r in wand_topk(spark, idx_dir, queries, k=10).collect()
    }
    b = {
        (r.query_id, r.rank): (r.doc_id, r.score)
        for r in wand_topk_docpart(spark, idx_dir, queries, k=10).collect()
    }
    assert a == b
    by_q = {}
    for (qid, rk), (d, s) in b.items():
        by_q.setdefault(qid, []).append((rk, d, s))
    for qid, qtext, k in reference_queries():
        got = [(d, s) for _rk, d, s in sorted(by_q.get(qid, []))]
        assert_rank_identical(
            got, oracle.search(oracle_index, qtext, k),
            msg=f"docpart q{qid} {qtext!r}",
        )


def test_docpart_after_incremental_and_tombstones(spark, tmp_path_factory):
    """Docpart grouping stays exact across generations (each generation's
    salted grid is independent, but every doc's postings share ONE
    (generation, salt) cell) and respects tombstones."""
    from osu_elastic_indexer_spark.operators.wand import wand_topk_docpart
    from osu_elastic_indexer_spark.sources.fixtures import (
        evolve_corpus,
        generate_documents,
    )
    from osu_elastic_indexer_spark.streaming.incremental import (
        incremental_update,
    )

    base = generate_documents(600)
    final = evolve_corpus(base, n_new=120, n_update=25, n_flip=15)
    import os

    root = str(tmp_path_factory.mktemp("idx_docpart"))
    bp, fp = os.path.join(root, "b.parquet"), os.path.join(root, "f.parquet")
    pq.write_table(base, bp)
    pq.write_table(final, fp)
    cat = Catalog(root)
    build_index(spark, spark.read.parquet(bp), cat, "v1")
    incremental_update(spark, spark.read.parquet(fp), cat, "v1")
    queries = [(qid, q) for qid, q, _k in reference_queries()]
    queries.append((99, "recrawled updatedcontent"))
    idx_dir = cat.index_dir("v1")
    a = {
        (r.query_id, r.rank): (r.doc_id, r.score)
        for r in wand_topk(spark, idx_dir, queries, k=10).collect()
    }
    b = {
        (r.query_id, r.rank): (r.doc_id, r.score)
        for r in wand_topk_docpart(spark, idx_dir, queries, k=10).collect()
    }
    assert a == b and a


def test_wand_salted_rank_identical(spark, built_index_salted, corpus_path):
    """The salted build repartitions its input, so its docID space differs
    from the plain build — compare by URL against a url-keyed oracle."""
    cat, _ = built_index_salted
    idx_dir = cat.index_dir("v1")
    # salting actually happened: head terms have multiple segment rows
    segs = spark.read.parquet(cat.table_path("v1", "segments"))
    from pyspark.sql import functions as F

    from osu_elastic_indexer_spark.operators.wand import wand_topk_with_urls

    multi = segs.groupBy("term_id").count().filter(F.col("count") > 1).count()
    assert multi > 0, "salting did not split any term"
    tbl = pq.read_table(corpus_path)
    rows = [
        (u, extract_text(h))
        for u, h, lang, txt in zip(
            tbl["url"].to_pylist(), tbl["html"].to_pylist(),
            tbl["lang"].to_pylist(), tbl["text"].to_pylist(),
        )
        if lang == "en" and txt
    ]
    rows.sort(key=lambda r: r[0])
    ourls = [u for u, _ in rows]
    oidx = oracle.build_index(list(enumerate(t for _, t in rows)))
    queries = [(qid, q) for qid, q, _k in reference_queries()]
    res = wand_topk_with_urls(spark, idx_dir, queries, k=10).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append((r.rank, r.url, r.score))
    for qid, qtext, k in reference_queries():
        got = [(u, s) for _rk, u, s in sorted(by_q.get(qid, []))]
        expect = [(ourls[d], s) for d, s in oracle.search(oidx, qtext, k)]
        full = [(ourls[d], s) for d, s in oracle.search(oidx, qtext, 200)]
        assert_rank_identical(
            got, expect, msg=f"salted q{qid} {qtext!r}", expect_full=full
        )


def test_resume_reruns_only_an_uncommitted_build(
    spark, corpus_path, built_index, tmp_path, monkeypatch
):
    """T8: resume=True returns a committed build untouched (nothing
    re-runs), and replays a build that crashed before its commit onto the
    same counters (idempotence, T7)."""
    import osu_elastic_indexer_spark.streaming.incremental as inc

    cat, m1 = built_index
    docs = spark.read.parquet(corpus_path)
    before = cat.read_manifest("v1")
    with monkeypatch.context() as mp:
        mp.setattr(inc, "_apply_batch", None)  # would raise if called
        assert build_index(spark, docs, cat, "v1", resume=True) == before

    crashed = Catalog(str(tmp_path / "crashed"))

    def crash(*_a, **_k):
        raise RuntimeError("injected crash")

    with monkeypatch.context() as mp:
        mp.setattr(inc, "write_segments", crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            build_index(spark, docs, crashed, "v1")
    assert "commit" not in crashed.read_manifest("v1")["phases"]
    m2 = build_index(spark, docs, crashed, "v1", resume=True)
    assert m2["counters"] == m1["counters"]
    assert m2["phases"]["commit"]["status"] == "done"


def test_stale_builder_refused(spark, corpus_path, built_index):
    """T6: a builder targeting a closed index must abort."""
    from osu_elastic_indexer_spark.sources.catalog import IndexClosedError

    cat, _ = built_index
    cat.close_index("v1")
    docs = spark.read.parquet(corpus_path)
    with pytest.raises(IndexClosedError):
        build_index(spark, docs, cat, "v1")
    cat.open_index("v1")


def test_bmw_pure_random_vs_oracle():
    """Property test of the BMW core against brute force on random tiny
    posting lists (no Spark)."""
    import numpy as np

    from osu_elastic_indexer_spark.functions.codec import encode_postings

    rng = np.random.default_rng(3)
    for trial in range(30):
        n_terms = int(rng.integers(1, 5))
        n_docs = int(rng.integers(5, 400))
        avgdl = 50.0
        # dl is a DOC property (one norms entry per doc), as in the engine
        norms = rng.integers(20, 100, n_docs).astype("int64")
        terms = []
        all_scores = {}
        for t in range(n_terms):
            size = int(rng.integers(1, n_docs + 1))
            ids = np.sort(rng.choice(n_docs, size=size, replace=False)).astype("int64")
            tfs = rng.integers(1, 6, size).astype("int64")
            dls = norms[ids]
            df = size
            idf = oracle.idf(n_docs, df)
            name = f"t{t:02d}"
            terms.append((name, idf, [dict(encode_postings(ids, tfs, dls), doc_min=int(ids[0]))]))
            for d, tf, dl in zip(ids, tfs, dls):
                all_scores.setdefault(int(d), []).append(
                    (name, idf * (tf / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))))
                )
        brute = []
        for d, contribs in all_scores.items():
            s = 0.0
            for _name, c in sorted(contribs):
                s += c
            brute.append((s, d))
        brute.sort(key=lambda sd: (-sd[0], sd[1]))
        k = int(rng.integers(1, 15))
        got = bmw_topk(terms, k, avgdl, norms)
        assert got == brute[:k], f"trial {trial}: {got} != {brute[:k]}"
        # the vectorized TAAT path must be bit-identical to BMW
        from osu_elastic_indexer_spark.operators.wand import taat_topk

        got2 = taat_topk(terms, k, avgdl, norms)
        assert got2 == brute[:k], f"trial {trial} taat: {got2} != {brute[:k]}"


def test_topk_from_dense_k_zero():
    """k=0 returns [] instead of crashing in argpartition(kth=-1)
    (ADVICE r3); both exhaustive finalizers share the guard."""
    import numpy as np

    from osu_elastic_indexer_spark.operators.wand import topk_from_dense

    sums = np.zeros(8)
    sums[3] = 1.5
    sums[5] = 0.5
    assert topk_from_dense(sums, 0) == []
    assert topk_from_dense(sums, -1) == []
    assert topk_from_dense(sums, 1) == [(1.5, 3)]


def test_topk_from_dense_est_matches_equivalence():
    """The match-dense finalize (est_matches hint) must be bit-identical
    to the sparse path for ANY estimate — the hint may only change the
    execution strategy, never the result (ties at the kth value, zero
    scores, fewer-than-k matches)."""
    import numpy as np

    from osu_elastic_indexer_spark.operators.wand import topk_from_dense

    rng = np.random.default_rng(123)
    for _ in range(300):
        n = int(rng.integers(1, 500))
        density = float(rng.random())
        sums = np.where(
            rng.random(n) < density, np.round(rng.random(n) * 3, 2), 0.0
        )
        k = int(rng.integers(0, 12))
        est = int(rng.integers(0, 3 * n))
        assert topk_from_dense(sums.copy(), k) == topk_from_dense(
            sums.copy(), k, est_matches=est
        )


def test_taat_single_term_fast_path_equivalence():
    """The single-term TAAT fast path (no dense accumulator) must match
    the accumulated dense path bit-for-bit, including tombstone exclusion
    and kth-value ties."""
    import numpy as np

    from osu_elastic_indexer_spark.functions import codec
    from osu_elastic_indexer_spark.operators.wand import (
        taat_topk,
        topk_from_dense,
    )

    rng = np.random.default_rng(77)
    for _ in range(60):
        n_docs = int(rng.integers(5, 300))
        n_post = int(rng.integers(1, n_docs + 1))
        docs = np.sort(
            rng.choice(n_docs, size=n_post, replace=False)
        ).astype(np.int64)
        tfs = rng.integers(1, 5, size=n_post).astype(np.int64)
        norms = rng.integers(1, 50, size=n_docs).astype(np.int64)
        enc = codec.encode_postings(docs, tfs)
        avgdl = float(norms.mean())
        idf = float(rng.random() + 0.1)
        n_tomb = int(rng.integers(0, n_docs // 2 + 1))
        tomb = (
            np.sort(rng.choice(n_docs, size=n_tomb, replace=False)).astype(
                np.int64
            )
            if n_tomb
            else None
        )
        k = int(rng.integers(0, 8))
        got = taat_topk([("t", idf, [enc])], k, avgdl, norms, tomb)
        # reference: the dense-accumulator path this fast path replaces
        dd, tt = codec.decode_postings(enc)
        tf = tt.astype(np.float64)
        dl = norms[dd].astype(np.float64)
        from osu_elastic_indexer_spark.operators.wand import B, K1

        tfn = tf / (tf + K1 * ((1.0 - B) + (B * dl) / avgdl))
        sums = np.zeros(n_docs, dtype=np.float64)
        sums[dd] += idf * tfn
        if tomb is not None and tomb.size:
            sums[tomb[tomb < sums.size]] = 0.0
        assert got == topk_from_dense(sums, k)


def test_closed_index_read_refusal(spark, built_index):
    """VERDICT r3 #3: a closed index must reject READS as well as writes
    (ES parity: CloseIndexCommand.cs; alias cutover closes old indices,
    OsuElasticClient.cs:70-86) — close -> both batch search paths and the
    serving tier refuse; open -> they serve again."""
    from osu_elastic_indexer_spark.operators.serve import LocalSearcher
    from osu_elastic_indexer_spark.operators.wand import (
        wand_topk,
        wand_topk_docpart,
    )
    from osu_elastic_indexer_spark.sources.catalog import IndexClosedError

    cat, _ = built_index
    idx = cat.index_dir("v1")
    cat.close_index("v1")
    try:
        with pytest.raises(IndexClosedError):
            wand_topk(spark, idx, [(0, "zebra")], 5)
        with pytest.raises(IndexClosedError):
            wand_topk_docpart(spark, idx, [(0, "zebra")], 5)
        with pytest.raises(IndexClosedError):
            LocalSearcher(idx)
    finally:
        cat.open_index("v1")
    assert wand_topk(spark, idx, [(0, "zebra")], 5).count() > 0
    assert LocalSearcher(idx).search("zebra", 5)
