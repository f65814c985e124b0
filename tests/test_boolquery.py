"""Boolean (must/should/must_not) and phrase query rank-identity vs the
pure-python oracle — the query surface the reference delegates to ES bool /
match_phrase queries (SURVEY.md §3.4)."""

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from osu_elastic_indexer_spark import oracle
from osu_elastic_indexer_spark.functions.textprep import extract_text, tokenize
from osu_elastic_indexer_spark.operators.boolquery import bool_topk, phrase_topk
from osu_elastic_indexer_spark.operators.build import build_index
from osu_elastic_indexer_spark.sources.catalog import Catalog

from util import assert_rank_identical


@pytest.fixture(scope="module")
def bq_index(spark, corpus_path, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("bq_indexes"))
    cat = Catalog(root)
    docs = spark.read.parquet(corpus_path)
    build_index(spark, docs, cat, "v1")
    return cat


@pytest.fixture(scope="module")
def bq_oracle(corpus_path, bq_index, spark):
    """(OracleIndex, texts map) in the engine's id space."""
    id_by_url = {
        r.url: r.doc_id
        for r in spark.read.parquet(bq_index.table_path("v1", "docmap")).collect()
    }
    tbl = pq.read_table(corpus_path)
    texts = {
        id_by_url[u]: (extract_text(h) or "")
        for u, h, lang, txt in zip(
            tbl["url"].to_pylist(),
            tbl["html"].to_pylist(),
            tbl["lang"].to_pylist(),
            tbl["text"].to_pylist(),
        )
        if lang == "en" and txt and u in id_by_url
    }
    idx = oracle.build_index(sorted(texts.items()))
    return idx, texts


BOOL_SPECS = [
    {"must": "w00100"},  # single must, scored
    {"must": "w00100 w00200"},  # conjunction
    {"must": "w00100", "should": "the"},  # must + head-term should
    {"should": "w00100 w00200"},  # pure disjunction
    {"must": "the", "must_not": "w00100"},  # head must, rare exclusion
    {"must": "w00100", "must_not": "the"},  # exclusion that nearly empties
    {"must": "xyzzyabsent w00100"},  # absent must term -> empty
    {"must": "w00200", "must_not": "w00200"},  # contradiction -> empty
    {"should": "the and of", "must_not": "w00100 w00200"},
    # ES filter context: required-but-unscored clauses
    {"must": "the", "filter": "w00100"},  # filter narrows a head must
    {"filter": "w00100"},  # filter-only -> all results score 0.0
    {"filter": "w00100", "should": "w00200"},  # zero-score tail mixes in
    {"must": "the", "filter": "xyzzyabsent"},  # absent filter -> empty
    {"filter": "the", "must_not": "w00100"},  # filter + exclusion
    # minimum_should_match: >= N DISTINCT should terms must match
    {"should": "the and of", "minimum_should_match": 2},
    {"should": "the and of", "minimum_should_match": 3},
    {"must": "the", "should": "w00100 w00200", "minimum_should_match": 1},
    {"should": "w00100 xyzzyabsent", "minimum_should_match": 2},  # -> empty
    {"filter": "the", "should": "w00100 w00200", "minimum_should_match": 1},
    {"should": "the and of", "minimum_should_match": 4},  # > len -> empty
]


def test_bool_matches_oracle(spark, bq_index, bq_oracle):
    idx, _texts = bq_oracle
    queries = list(enumerate(BOOL_SPECS))
    res = bool_topk(spark, bq_index.index_dir("v1"), queries, k=10).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    for qid, spec in queries:
        got = [(d, s) for _rk, d, s in sorted(by_q.get(qid, []))]
        expect = oracle.search_bool(idx, spec, k=10)
        assert_rank_identical(got, expect, msg=f"bool q{qid} {spec!r}")


def test_bool_must_restricts_and_scores_match_plain_bm25(bq_oracle):
    """Sanity on the oracle itself: a must doc's bool score equals its plain
    BM25 score over the same terms (eligibility filters, scoring doesn't)."""
    idx, _ = bq_oracle
    plain = dict(oracle.search(idx, "w00100 w00200", k=10**6))
    boolr = oracle.search_bool(idx, {"must": "w00100 w00200"}, k=10**6)
    assert boolr, "conjunction should match some docs"
    for d, s in boolr:
        assert plain[d] == s
        assert d in idx.postings["w00100"] and d in idx.postings["w00200"]


def test_bool_filter_only_scores_zero(spark, bq_index, bq_oracle):
    """ES filter-context scoring: a filter-only query matches docs with
    score 0.0 exactly (never BM25), ranked doc_id ascending."""
    idx, _texts = bq_oracle
    res = bool_topk(
        spark, bq_index.index_dir("v1"), [(0, {"filter": "w00100"})], k=10
    ).collect()
    assert res
    assert all(r.score == 0.0 for r in res)
    ids = [r.doc_id for r in sorted(res, key=lambda r: r.rank)]
    assert ids == sorted(ids)
    expect = oracle.search_bool(idx, {"filter": "w00100"}, k=10)
    assert [(r.doc_id, r.score) for r in sorted(res, key=lambda r: r.rank)] == expect


def test_bool_filter_scores_identical_to_unfiltered(spark, bq_index):
    """The 'done' criterion: a filter clause restricts WHICH docs survive
    but never changes a surviving doc's score — bit-identical to the
    unfiltered must query on the same scored terms."""
    idx_dir = bq_index.index_dir("v1")
    plain = {
        r.doc_id: r.score
        for r in bool_topk(
            spark, idx_dir, [(0, {"must": "the"})], k=10**6
        ).collect()
    }
    filtered = bool_topk(
        spark, idx_dir, [(0, {"must": "the", "filter": "w00100"})], k=10**6
    ).collect()
    assert filtered
    for r in filtered:
        assert plain[r.doc_id] == r.score


def test_bool_filter_range_matches_oracle(spark, bq_index, bq_oracle):
    """Structured filter_range on the docmap url (document key): all three
    tiers agree with the oracle restricted to the allowed doc set, and the
    restriction composes with term clauses."""
    from osu_elastic_indexer_spark.operators.serve import LocalSearcher

    idx, _texts = bq_oracle
    idx_dir = bq_index.index_dir("v1")
    dm = {
        r.url: r.doc_id
        for r in spark.read.parquet(
            bq_index.table_path("v1", "docmap")
        ).collect()
    }
    urls = sorted(dm)
    lo, hi = urls[len(urls) // 10], urls[len(urls) // 2]
    allowed = {d for u, d in dm.items() if lo <= u <= hi}
    spec = {"must": "the", "filter_range": {"url": (lo, hi)}}
    expect = oracle.search_bool(idx, {"must": "the"}, k=10, allowed_docs=allowed)
    assert expect, "range should keep some matching docs"
    got = [
        (r.doc_id, r.score)
        for r in sorted(
            bool_topk(spark, idx_dir, [(0, spec)], k=10).collect(),
            key=lambda r: r.rank,
        )
    ]
    assert_rank_identical(got, expect, msg="filter_range spark")
    from osu_elastic_indexer_spark.operators.boolquery import bool_topk_docpart

    got_dp = [
        (r.doc_id, r.score)
        for r in sorted(
            bool_topk_docpart(spark, idx_dir, [(0, spec)], k=10).collect(),
            key=lambda r: r.rank,
        )
    ]
    assert got == got_dp
    s = LocalSearcher(idx_dir)
    assert_rank_identical(s.search_bool(spec, k=10), expect, msg="serve range")
    # half-open range (hi=None) and a range matching nothing
    open_spec = {"must": "the", "filter_range": {"url": (lo, None)}}
    allowed_open = {d for u, d in dm.items() if u >= lo}
    assert_rank_identical(
        s.search_bool(open_spec, k=10),
        oracle.search_bool(idx, {"must": "the"}, k=10, allowed_docs=allowed_open),
        msg="half-open range",
    )
    assert (
        bool_topk(
            spark, idx_dir,
            [(0, {"must": "the", "filter_range": {"url": ("zzz", "zzzz")}})],
            k=10,
        ).count()
        == 0
    )


def test_bool_spec_validation_errors(spark, bq_index):
    """Unusable specs raise ValueError on every tier instead of silently
    returning empty (must_not-only, filter_range-only, unknown keys, bad
    range fields)."""
    from osu_elastic_indexer_spark.operators.boolquery import bool_topk_docpart
    from osu_elastic_indexer_spark.operators.serve import LocalSearcher

    idx_dir = bq_index.index_dir("v1")
    bad_specs = [
        {"must_not": "the"},
        {"filter_range": {"url": ("a", "b")}},
        {},
        {"must": "the", "bogus": 1},
        {"must": "the", "filter_range": {"lang": ("a", "b")}},
        {"must": "the", "filter_range": {"url": "notapair"}},
        {"must": "the", "minimum_should_match": 1},  # msm w/o should
        {"should": "the", "minimum_should_match": -1},
        {"should": "the", "minimum_should_match": "two"},
    ]
    s = LocalSearcher(idx_dir)
    for spec in bad_specs:
        with pytest.raises(ValueError):
            bool_topk(spark, idx_dir, [(0, spec)], k=5)
        with pytest.raises(ValueError):
            bool_topk_docpart(spark, idx_dir, [(0, spec)], k=5)
        with pytest.raises(ValueError):
            s.search_bool(spec, k=5)


def test_prefix_multi_token_rejected(spark, bq_index):
    from osu_elastic_indexer_spark.operators.boolquery import prefix_topk
    from osu_elastic_indexer_spark.operators.serve import LocalSearcher

    idx_dir = bq_index.index_dir("v1")
    with pytest.raises(ValueError):
        prefix_topk(spark, idx_dir, [(0, "w001 w002")], 5)
    with pytest.raises(ValueError):
        LocalSearcher(idx_dir).search_prefix("w001 w002", 5)


def test_phrase_matches_oracle(spark, bq_index, bq_oracle, corpus_path):
    idx, texts = bq_oracle
    # phrases harvested from real docs -> guaranteed matches; plus an
    # absent-adjacency pair and an absent term
    sample = texts[min(texts)]
    toks = tokenize(sample)
    harvested = [
        " ".join(toks[2:4]),
        " ".join(toks[5:8]),  # 3-token phrase
    ]
    queries = list(
        enumerate(harvested + ["the the", "w00100 xyzzyabsent"])
    )
    source = spark.read.parquet(corpus_path)
    res = phrase_topk(
        spark, bq_index.index_dir("v1"), source, queries, k=10
    ).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    matched_any = False
    for qid, qtext in queries:
        got = [(d, s) for _rk, d, s in sorted(by_q.get(qid, []))]
        expect = oracle.search_phrase(idx, texts, qtext, k=10)
        assert_rank_identical(got, expect, msg=f"phrase q{qid} {qtext!r}")
        matched_any = matched_any or bool(expect)
    assert matched_any, "fixture should yield at least one phrase match"


def test_phrase_excludes_nonadjacent_cooccurrence(bq_oracle):
    """The oracle itself: a doc containing both terms NON-adjacently must be
    in the conjunction but not the phrase result."""
    idx, texts = bq_oracle
    # find a pair of terms that co-occur somewhere non-adjacently
    d0 = min(texts)
    toks = tokenize(texts[d0])
    t1, t2 = toks[0], toks[len(toks) // 2]
    conj = {d for d, _ in oracle.search_bool(idx, {"must": f"{t1} {t2}"}, k=10**6)}
    phr = {d for d, _ in oracle.search_phrase(idx, texts, f"{t1} {t2}", k=10**6)}
    assert phr <= conj
    nonadj = conj - phr
    if nonadj:  # expected for random word-stream docs
        d = next(iter(nonadj))
        dt = tokenize(texts[d])
        assert not any(
            dt[i] == t1 and dt[i + 1] == t2 for i in range(len(dt) - 1)
        )


def test_prefix_matches_oracle(spark, bq_index, bq_oracle):
    """ES prefix-query parity: footer-stats range expansion + BM25 must be
    rank-identical to the oracle, including the term-asc max_expansions
    cap and absent prefixes."""
    from osu_elastic_indexer_spark.operators.boolquery import prefix_topk

    idx, _texts = bq_oracle
    cases = [
        ("w001", 50),  # multi-term expansion, uncapped
        ("w0", 7),  # cap binds: first 7 terms term-asc
        ("the", 50),  # exact-term-as-prefix
        ("zzznope", 50),  # no expansion -> empty
    ]
    queries = [(i, p) for i, (p, _c) in enumerate(cases)]
    by_q: dict[int, list] = {}
    for qid, (p, cap) in enumerate(cases):
        res = prefix_topk(
            spark, bq_index.index_dir("v1"), [(qid, p)], 10, max_expansions=cap
        ).collect()
        by_q[qid] = [(r.rank, r.doc_id, r.score) for r in res]
    for qid, (p, cap) in enumerate(cases):
        got = [(d, s) for _rk, d, s in sorted(by_q.get(qid, []))]
        expect = oracle.search_prefix(idx, p, k=10, max_expansions=cap)
        assert_rank_identical(got, expect, msg=f"prefix q{qid} {p!r} cap={cap}")
    assert by_q[0], "w001 should match docs"
    assert not by_q[3]


def test_prefix_seek_matches_merged_dictionary(spark, bq_index):
    """lookup_terms_by_prefix (pyarrow range seek) returns exactly the live
    merged-dictionary terms with the prefix, sorted, capped."""
    from osu_elastic_indexer_spark.operators.dictionary import (
        lookup_terms_by_prefix,
        read_dictionary_merged,
    )

    idx_dir = bq_index.index_dir("v1")
    merged = sorted(
        r.term
        for r in read_dictionary_merged(spark, idx_dir)
        .filter(F.col("df") > 0)
        .collect()
        if r.term.startswith("w00")
    )
    assert merged, "fixture vocabulary should include w00xxx terms"
    assert lookup_terms_by_prefix(idx_dir, "w00") == merged
    assert lookup_terms_by_prefix(idx_dir, "w00", 3) == merged[:3]
    assert lookup_terms_by_prefix(idx_dir, "qqqabsent") == []


def test_serve_prefix_matches_oracle(bq_index, bq_oracle):
    from osu_elastic_indexer_spark.operators.serve import LocalSearcher

    idx, _texts = bq_oracle
    s = LocalSearcher(bq_index.index_dir("v1"))
    for p, cap in (("w001", 50), ("w0", 7), ("zzznope", 50)):
        got = s.search_prefix(p, k=10, max_expansions=cap)
        expect = oracle.search_prefix(idx, p, k=10, max_expansions=cap)
        assert_rank_identical(got, expect, msg=f"serve prefix {p!r}")


def test_phrase_docpart_candidates_identical(
    spark, bq_index, bq_oracle, corpus_path
):
    """phrase_topk(docpart=True) routes candidate generation through the
    queries-to-data shape — results must be bit-identical to the default
    per-query-join path."""
    idx, texts = bq_oracle
    toks = tokenize(texts[min(texts)])
    queries = [(0, " ".join(toks[2:4])), (1, "the the")]
    source = spark.read.parquet(corpus_path)
    a = {
        (r.query_id, r.rank): (r.doc_id, r.score)
        for r in phrase_topk(
            spark, bq_index.index_dir("v1"), source, queries, k=10
        ).collect()
    }
    b = {
        (r.query_id, r.rank): (r.doc_id, r.score)
        for r in phrase_topk(
            spark, bq_index.index_dir("v1"), source, queries, k=10,
            docpart=True,
        ).collect()
    }
    assert a == b and a


def test_phrase_candidate_guard(spark, bq_index, bq_oracle, corpus_path):
    """Stopword-phrase protection (ES rewrite-guard analog): when the
    conjunctive candidate set exceeds max_candidates the default mode
    refuses with ValueError; on_overflow='scan' explicitly accepts the
    corpus-scan join and returns the SAME results as the pinned path."""
    from osu_elastic_indexer_spark.operators.serve import LocalSearcher

    idx, texts = bq_oracle
    source = spark.read.parquet(corpus_path)
    idx_dir = bq_index.index_dir("v1")
    toks = tokenize(texts[min(texts)])
    phrase = " ".join(toks[2:4])
    baseline = {
        (r.query_id, r.rank): (r.doc_id, r.score)
        for r in phrase_topk(spark, idx_dir, source, [(0, phrase)], k=10).collect()
    }
    assert baseline
    with pytest.raises(ValueError, match="max_candidates"):
        phrase_topk(
            spark, idx_dir, source, [(0, phrase)], k=10, max_candidates=1
        )
    scan = {
        (r.query_id, r.rank): (r.doc_id, r.score)
        for r in phrase_topk(
            spark, idx_dir, source, [(0, phrase)], k=10,
            max_candidates=1, on_overflow="scan",
        ).collect()
    }
    assert scan == baseline
    with pytest.raises(ValueError, match="max_candidates"):
        LocalSearcher(idx_dir).search_phrase(
            phrase, corpus_path, k=10, max_candidates=1
        )
    with pytest.raises(ValueError):
        phrase_topk(
            spark, idx_dir, source, [(0, phrase)], k=10, on_overflow="bogus"
        )


def test_phrase_verify_leaves_nothing_cached(
    spark, bq_index, bq_oracle, corpus_path
):
    """A successful positions-free phrase_topk call collects its bounded
    candidates once and ships them back as a driver-held table, so it
    leaves no persisted RDD behind in the session."""
    _idx, texts = bq_oracle
    source = spark.read.parquet(corpus_path)
    phrase = " ".join(tokenize(texts[min(texts)])[2:4])
    cached = spark.sparkContext._jsc.getPersistentRDDs
    before = set(cached().keySet())
    rows = phrase_topk(
        spark, bq_index.index_dir("v1"), source, [(0, phrase)], k=10
    ).collect()
    assert rows
    assert set(cached().keySet()) == before


def test_docpart_accumulators_are_cell_sized(spark, corpus_path, tmp_path):
    """Docpart memory honesty (VERDICT r4 #6): the cell runner
    (``wand._cell_body``) reads each (generation, salt) cell's rows in
    place, nothing shuffles, and the per-cell candidates merge on the
    driver; each cell's per-query dense accumulators are allocated at
    exactly ``_cell_bounds(...)[1]`` elements — measure that quantity over
    every cell of a REAL built index through the same helper, and pin
    peak accumulator size to the salted-grid cell span (a fraction of the
    corpus docID span), never the corpus. The per-query paths, by
    contrast, are O(n_docs) by design (wand.py TAAT note). salt_group_cap
    forces a multi-cell grid at test-corpus scale (production sizes it off
    id_span/partitions)."""
    from osu_elastic_indexer_spark.operators.boolquery import (
        bool_topk,
        bool_topk_docpart,
    )
    from osu_elastic_indexer_spark.operators.wand import _cell_bounds
    from osu_elastic_indexer_spark.sources.catalog import committed_gen_paths

    cat = Catalog(str(tmp_path / "salted_idx"))
    build_index(
        spark, spark.read.parquet(corpus_path), cat, "v1", salt_group_cap=200
    )
    idx_dir = cat.index_dir("v1")
    # the salted index must still answer identically to the per-query path
    spec = [(0, {"must": "w00100", "should": "the"})]
    a = [tuple(r) for r in bool_topk(spark, idx_dir, spec, 10).collect()]
    b = [tuple(r) for r in bool_topk_docpart(spark, idx_dir, spec, 10).collect()]
    assert a == b and a
    segs = (
        spark.read.parquet(*committed_gen_paths(idx_dir, "segments"))
        .select("generation", "salt", "doc_min", "doc_max")
        .collect()
    )
    cells: dict[tuple[int, int], list[tuple[int, int]]] = {}
    for r in segs:
        cells.setdefault((r.generation, r.salt), []).append(
            (r.doc_min, r.doc_max)
        )
    assert len(cells) > 1, "need a multi-cell grid for the bound to bite"
    corpus_lo = min(dm for rows in cells.values() for dm, _ in rows)
    corpus_hi = max(dx for rows in cells.values() for _, dx in rows)
    corpus_span = corpus_hi - corpus_lo + 1
    spans = {
        cell: _cell_bounds([dm for dm, _ in rows], [dx for _, dx in rows])[1]
        for cell, rows in cells.items()
    }
    peak = max(spans.values())
    n_salts = len({salt for _gen, salt in cells})
    # fixed docID grid: each salt owns ~corpus_span/n_salts ids; allow 2x
    # slack for gap rounding at cell edges
    assert peak <= 2 * corpus_span / n_salts, (peak, corpus_span, n_salts)
    assert peak < corpus_span, "accumulator must never span the corpus"
    # salt cells cover DISJOINT docID intervals (the union-of-topk
    # correctness argument AND why per-cell allocation sums to ~one
    # corpus-width total across the whole job, not n_cells x corpus)
    per_salt = {}
    for (gen, salt), rows in cells.items():
        lo, span = _cell_bounds([dm for dm, _ in rows], [dx for _, dx in rows])
        per_salt.setdefault(salt, []).append((lo, lo + span - 1))
    salts = sorted(per_salt)
    for a, b in zip(salts, salts[1:]):
        assert max(hi for _lo, hi in per_salt[a]) < min(
            lo for lo, _hi in per_salt[b]
        ), f"salt cells {a} and {b} overlap"


def test_matches_phrase_slop_semantics():
    """ES match_phrase slop contract, pinned case by case: slop=0 is exact
    adjacency, a one-token gap needs slop>=1, a transposition of adjacent
    terms costs 2, and repeated phrase terms need DISTINCT positions."""
    from osu_elastic_indexer_spark.operators.boolquery import _matches_phrase

    t = str.split
    assert _matches_phrase(t("hash join"), t("hash join"), 0)
    assert not _matches_phrase(t("hash x join"), t("hash join"), 0)
    assert _matches_phrase(t("hash x join"), t("hash join"), 1)
    assert not _matches_phrase(t("hash x x join"), t("hash join"), 1)
    assert _matches_phrase(t("hash x x join"), t("hash join"), 2)
    # transposition costs 2
    assert not _matches_phrase(t("join hash"), t("hash join"), 1)
    assert _matches_phrase(t("join hash"), t("hash join"), 2)
    # injectivity: one 'a' can't satisfy two slots at any slop
    assert not _matches_phrase(t("a b c"), t("a a"), 99)
    assert _matches_phrase(t("a b a"), t("a a"), 1)
    assert not _matches_phrase(t("a b a"), t("a a"), 0)


def test_matches_phrase_agrees_with_bruteforce():
    """Property cross-check: the engine's windowed-matching implementation
    must agree with the oracle's exponential enumerate-all-choices truth
    (a deliberately different algorithm) on random small token streams."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from osu_elastic_indexer_spark.operators.boolquery import _matches_phrase
    from osu_elastic_indexer_spark.oracle import _slop_match_bruteforce

    alphabet = st.sampled_from(["a", "b", "c", "d"])

    @settings(max_examples=300, deadline=None)
    @given(
        toks=st.lists(alphabet, max_size=12),
        ph=st.lists(alphabet, min_size=1, max_size=4),
        slop=st.integers(min_value=0, max_value=5),
    )
    def check(toks, ph, slop):
        got = _matches_phrase(toks, ph, slop)
        expect = (
            _slop_match_bruteforce(toks, ph, slop)
            if slop > 0
            else any(
                toks[i : i + len(ph)] == ph
                for i in range(len(toks) - len(ph) + 1)
            )
        )
        assert got == expect, (toks, ph, slop)

    check()


def test_phrase_slop_matches_oracle(spark, bq_index, bq_oracle, corpus_path):
    """phrase_topk(slop=N) vs the oracle's brute-force slop truth; the
    slop result must also be a superset of the exact-phrase result."""
    idx, texts = bq_oracle
    source = spark.read.parquet(corpus_path)
    idx_dir = bq_index.index_dir("v1")
    toks = tokenize(texts[min(texts)])
    phrase = " ".join(toks[2:4])
    transposed = " ".join(reversed(toks[2:4]))
    for q, slop in ((phrase, 1), (phrase, 3), (transposed, 2)):
        res = phrase_topk(
            spark, idx_dir, source, [(0, q)], k=10, slop=slop
        ).collect()
        got = [(r.doc_id, r.score) for r in sorted(res, key=lambda r: r.rank)]
        expect = oracle.search_phrase(idx, texts, q, k=10, slop=slop)
        assert_rank_identical(got, expect, msg=f"phrase {q!r} slop={slop}")
    big = 10**6  # un-truncated: slop only ever widens the match set
    exact = {
        r.doc_id
        for r in phrase_topk(spark, idx_dir, source, [(0, phrase)], k=big).collect()
    }
    sloppy = {
        r.doc_id
        for r in phrase_topk(
            spark, idx_dir, source, [(0, phrase)], k=big, slop=3
        ).collect()
    }
    assert exact and exact <= sloppy
    with pytest.raises(ValueError, match="slop"):
        phrase_topk(spark, idx_dir, source, [(0, phrase)], k=10, slop=-1)


def test_serve_phrase_slop_matches_oracle(bq_index, bq_oracle, corpus_path):
    from osu_elastic_indexer_spark.operators.serve import LocalSearcher

    idx, texts = bq_oracle
    s = LocalSearcher(bq_index.index_dir("v1"))
    toks = tokenize(texts[min(texts)])
    for q, slop in ((" ".join(toks[2:4]), 2), (" ".join(toks[5:8]), 1)):
        got = s.search_phrase(q, corpus_path, k=10, slop=slop)
        expect = oracle.search_phrase(idx, texts, q, k=10, slop=slop)
        assert_rank_identical(got, expect, msg=f"serve phrase {q!r} slop={slop}")


def test_serve_phrase_matches_oracle(bq_index, bq_oracle, corpus_path):
    from osu_elastic_indexer_spark.operators.serve import LocalSearcher

    idx, texts = bq_oracle
    s = LocalSearcher(bq_index.index_dir("v1"))
    toks = tokenize(texts[min(texts)])
    for q in (" ".join(toks[2:4]), " ".join(toks[5:8]), "w00100 zzznope"):
        got = s.search_phrase(q, corpus_path, k=10)
        expect = oracle.search_phrase(idx, texts, q, k=10)
        assert_rank_identical(got, expect, msg=f"serve phrase {q!r}")


def test_serve_bool_matches_oracle(bq_index, bq_oracle):
    """LocalSearcher.search_bool (no Spark, decode-cache path) must agree
    with the oracle on every spec — including repeats, which exercise
    cache hits for the eligibility masks."""
    from osu_elastic_indexer_spark.operators.serve import LocalSearcher

    idx, _texts = bq_oracle
    s = LocalSearcher(bq_index.index_dir("v1"))
    for _repeat in range(2):
        for qid, spec in enumerate(BOOL_SPECS):
            got = s.search_bool(spec, k=10)
            expect = oracle.search_bool(idx, spec, k=10)
            assert_rank_identical(got, expect, msg=f"serve bool q{qid} {spec!r}")


def test_bool_docpart_identical_to_per_query_path(spark, bq_index, bq_oracle):
    """The document-partitioned boolean batch path (blobs shuffle once per
    docID cell, independent of the query count) must be EXACTLY the
    per-query path: same docs, same scores to the last bit, same tie
    order — and both rank-identical to the oracle."""
    from osu_elastic_indexer_spark.operators.boolquery import bool_topk_docpart

    idx, _texts = bq_oracle
    queries = list(enumerate(BOOL_SPECS))
    idx_dir = bq_index.index_dir("v1")
    a = {
        (r.query_id, r.rank): (r.doc_id, r.score)
        for r in bool_topk(spark, idx_dir, queries, k=10).collect()
    }
    b = {
        (r.query_id, r.rank): (r.doc_id, r.score)
        for r in bool_topk_docpart(spark, idx_dir, queries, k=10).collect()
    }
    assert a == b
    by_q = {}
    for (qid, rk), (d, s) in b.items():
        by_q.setdefault(qid, []).append((rk, d, s))
    for qid, spec in queries:
        got = [(d, s) for _rk, d, s in sorted(by_q.get(qid, []))]
        expect = oracle.search_bool(idx, spec, k=10)
        assert_rank_identical(got, expect, msg=f"docpart bool q{qid} {spec!r}")


def test_bool_docpart_multigeneration(spark, corpus_path, tmp_path_factory):
    """Docpart bool over a 2-generation index (base + incremental adds and
    deletes): per-cell masks stay complete because a doc's postings live
    wholly in its generation's cell — parity with the per-query path."""
    from osu_elastic_indexer_spark.operators.boolquery import bool_topk_docpart
    from osu_elastic_indexer_spark.sources.fixtures import evolve_corpus
    from osu_elastic_indexer_spark.streaming.incremental import (
        incremental_update,
    )

    root = str(tmp_path_factory.mktemp("bq_dp_gen"))
    cat = Catalog(root)
    tbl = pq.read_table(corpus_path)
    import os

    p0 = os.path.join(root, "c0.parquet")
    pq.write_table(tbl, p0)
    build_index(spark, spark.read.parquet(p0), cat, "v1")
    tbl2 = evolve_corpus(tbl, n_new=60, n_update=15, n_flip=8)
    p1 = os.path.join(root, "c1.parquet")
    pq.write_table(tbl2, p1)
    m = incremental_update(spark, spark.read.parquet(p1), cat, "v1")
    assert m["generations"] == 2
    idx_dir = cat.index_dir("v1")
    queries = list(enumerate(BOOL_SPECS))
    a = {
        (r.query_id, r.rank): (r.doc_id, r.score)
        for r in bool_topk(spark, idx_dir, queries, k=10).collect()
    }
    b = {
        (r.query_id, r.rank): (r.doc_id, r.score)
        for r in bool_topk_docpart(spark, idx_dir, queries, k=10).collect()
    }
    assert a == b and a


def test_bool_phrase_prefix_exclude_tombstoned_docs(
    spark, corpus_path, tmp_path_factory
):
    """Reference-semantics fidelity (SURVEY §7.4 #6): a deleted doc must
    vanish from bool, phrase, AND prefix results at query time (tombstone
    applied before top-k), not just from plain BM25."""
    from osu_elastic_indexer_spark.operators.boolquery import prefix_topk
    from osu_elastic_indexer_spark.streaming.incremental import (
        incremental_update,
    )

    root = str(tmp_path_factory.mktemp("bq_tomb"))
    cat = Catalog(root)
    docs = spark.read.parquet(corpus_path)
    build_index(spark, docs, cat, "v1")
    idx = cat.index_dir("v1")
    source = docs

    res0 = bool_topk(spark, idx, [(0, {"must": "the"})], k=5).collect()
    assert res0
    doc0 = res0[0].doc_id
    dm = spark.read.parquet(cat.table_path("v1", "docmap"))
    url0 = dm.filter(F.col("doc_id") == doc0).collect()[0].url
    # harvest a phrase from doc0's own text so it matches pre-delete
    row0 = docs.filter(F.col("url") == url0).select("html").collect()[0]
    toks0 = tokenize(extract_text(row0.html))
    phrase = " ".join(toks0[:2])
    pre = phrase_topk(spark, idx, source, [(0, phrase)], k=10**6).collect()
    assert doc0 in [r.doc_id for r in pre]

    # delete url0 via the queue-consume path (missing from source -> delete)
    qurls = spark.createDataFrame([(url0,)], "url string")
    m = incremental_update(
        spark, docs.filter(F.col("url") != url0), cat, "v1", queue_urls=qurls
    )
    assert m["counters"]["deletes_total"] >= 1

    for name, got in (
        ("bool", bool_topk(spark, idx, [(0, {"must": "the"})], k=10**6)),
        ("filter", bool_topk(spark, idx, [(0, {"filter": "the"})], k=10**6)),
        ("phrase", phrase_topk(spark, idx, source, [(0, phrase)], k=10**6)),
        ("prefix", prefix_topk(spark, idx, [(0, "th")], k=10**6)),
    ):
        ids = [r.doc_id for r in got.collect()]
        assert doc0 not in ids, name
        assert ids, name  # other docs still served


def test_bool_closed_index_refused(spark, corpus_path, tmp_path_factory):
    from osu_elastic_indexer_spark.sources.catalog import IndexClosedError

    root = str(tmp_path_factory.mktemp("bq_closed"))
    cat = Catalog(root)
    docs = spark.read.parquet(corpus_path).limit(80)
    build_index(spark, docs, cat, "v1")
    cat.close_index("v1")
    with pytest.raises(IndexClosedError):
        bool_topk(spark, cat.index_dir("v1"), [(0, {"must": "the"})], k=5)
    cat.open_index("v1")
    bool_topk(spark, cat.index_dir("v1"), [(0, {"must": "the"})], k=5).collect()
