"""Hot serving tier: a LocalSearcher answers from the snapshot it pinned at
open, a repeated query mix reads no parquet, and its caches' running size
totals stay exact under eviction."""

import numpy as np
import pyarrow.parquet as pq

from osu_elastic_indexer_spark import oracle
from osu_elastic_indexer_spark.functions.textprep import tokenize
from osu_elastic_indexer_spark.operators import serve as serve_mod
from osu_elastic_indexer_spark.operators.build import build_index
from osu_elastic_indexer_spark.operators.serve import LocalSearcher, _SizedLRU
from osu_elastic_indexer_spark.sources.catalog import Catalog
from osu_elastic_indexer_spark.sources.fixtures import (
    evolve_corpus,
    generate_documents,
)
from osu_elastic_indexer_spark.streaming.incremental import incremental_update

from test_positional import pos_index, pos_truth  # noqa: F401  (fixtures)
from util import assert_rank_identical


def _query_mix(texts: dict[int, str], seed: int, n: int) -> list[tuple]:
    """Seeded (kind, query) draws over the corpus's own tokens: match and
    bool over single tokens, 2-3 token phrase windows of a document (slop
    0-2), and 1-3 character prefixes."""
    rng = np.random.default_rng(seed)
    docs = sorted(texts)
    out = []
    for _ in range(n):
        toks = tokenize(texts[docs[int(rng.integers(len(docs)))]])
        if len(toks) < 4:
            continue
        kind = ("match", "bool", "phrase", "prefix")[int(rng.integers(4))]
        pick = [toks[int(i)] for i in rng.integers(len(toks), size=3)]
        if kind == "match":
            out.append((kind, " ".join(pick[:2])))
        elif kind == "bool":
            out.append((kind, {"must": pick[0], "should": pick[1],
                               "must_not": pick[2]}))
        elif kind == "phrase":
            i = int(rng.integers(len(toks) - 3))
            m = 2 + int(rng.integers(2))
            out.append((kind, (" ".join(toks[i:i + m]), int(rng.integers(3)))))
        else:
            w = pick[0]
            out.append((kind, w[: 1 + int(rng.integers(min(3, len(w))))]))
    return out


def _ask(s: LocalSearcher, kind: str, q):
    if kind == "match":
        return s.search(q, 10)
    if kind == "bool":
        return s.search_bool(q, 10)
    if kind == "phrase":
        return s.search_phrase(q[0], k=10, slop=q[1])
    return s.search_prefix(q, 10)


def _oracle(orc, texts, kind: str, q):
    if kind == "match":
        return oracle.search(orc, q, 10)
    if kind == "bool":
        return oracle.search_bool(orc, q, 10)
    if kind == "phrase":
        return oracle.search_phrase(orc, texts, q[0], k=10, slop=q[1])
    return oracle.search_prefix(orc, tokenize(q)[0], 10)


def test_sized_lru_total_and_order_match_a_model():
    """Every way in and out of the mapping keeps ``total`` equal to the
    re-sum of the stored sizes, and the iteration order equal to a plain
    least- to most-recently-used model."""
    rng = np.random.default_rng(7)
    c = _SizedLRU(len)
    model: dict[str, int] = {}  # insertion-ordered: LRU head first
    for _ in range(3000):
        key = f"k{int(rng.integers(12))}"
        op = int(rng.integers(9))
        if op <= 2:
            val = "x" * int(rng.integers(0, 9))
            c[key] = val
            model.pop(key, None)
            model[key] = len(val)
        elif op == 3 and key in model:
            del c[key]
            del model[key]
        elif op == 4:
            assert c.pop(key, None) == (
                None if key not in model else "x" * model[key]
            )
            model.pop(key, None)
        elif op == 5:
            got = c.hit(key)
            if key in model:
                assert got == "x" * model[key]
                model[key] = model.pop(key)
            else:
                assert got is None
        elif op == 6 and model:
            k0, _v = c.popitem()
            assert k0 == next(iter(model))
            del model[k0]
        elif op == 7:
            budget, keep = int(rng.integers(0, 30)), int(rng.integers(0, 3))
            c.evict(budget, keep)
            while sum(model.values()) > budget and len(model) > keep:
                del model[next(iter(model))]
        elif op == 8 and rng.random() < 0.05:
            c.clear()
            model.clear()
        assert list(c) == list(model)
        assert c.total == sum(model.values()) == sum(
            c.sizer(v) for v in c.values()
        )


def test_hot_pass_reads_no_parquet(pos_index, pos_truth, monkeypatch):  # noqa: F811
    """After one warm pass over phrase, prefix, match and bool queries on a
    v2 index, a second pass opens no parquet file and reads no row group,
    and its answers equal the oracle's."""
    _truth, texts = pos_truth
    orc = oracle.build_index(sorted(texts.items()))
    s = LocalSearcher(pos_index.index_dir("v1"))
    mix = _query_mix(texts, seed=11, n=160)
    assert {k for k, _q in mix} == {"match", "bool", "phrase", "prefix"}
    for kind, q in mix:
        _ask(s, kind, q)
    reads = {"row_groups": 0, "opens": 0}
    read_row_groups = pq.ParquetFile.read_row_groups

    def counted_read(self, *a, **kw):
        reads["row_groups"] += 1
        return read_row_groups(self, *a, **kw)

    class CountedParquetFile(pq.ParquetFile):
        def __init__(self, *a, **kw):
            reads["opens"] += 1
            super().__init__(*a, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", counted_read)
    monkeypatch.setattr(pq, "ParquetFile", CountedParquetFile)
    for kind, q in mix:
        got = _ask(s, kind, q)
        assert_rank_identical(
            got, _oracle(orc, texts, kind, q), msg=f"hot {kind} {q!r}"
        )
    assert reads == {"row_groups": 0, "opens": 0}


def test_cache_totals_exact_under_tiny_budgets(
    pos_index, pos_truth, monkeypatch  # noqa: F811
):
    """A random query sequence against tiny budgets for all three caches:
    after every query each running total equals a fresh re-sum of the
    stored sizes and respects its budget (beyond the entries the query
    itself must keep), the query's own entries are the most recently used,
    and every answer still equals the oracle's."""
    _truth, texts = pos_truth
    orc = oracle.build_index(sorted(texts.items()))
    monkeypatch.setattr(serve_mod, "_DECODE_CACHE_MAX_POSTINGS", 400)
    monkeypatch.setattr(serve_mod, "_POS_CACHE_MAX_BYTES", 20_000)
    monkeypatch.setattr(serve_mod, "_PREFIX_MEMO_MAX_TERMS", 12)
    s = LocalSearcher(pos_index.index_dir("v1"))
    caches = {
        "decoded": (s._decoded, 400, 1),
        "positions": (s._pos_decoded, 20_000, 3),
        "prefix": (s._prefix_terms, 12, 1),
    }
    evictions = dict.fromkeys(caches, 0)
    for kind, q in _query_mix(texts, seed=5, n=300):
        held = {name: set(c) for name, (c, _b, _k) in caches.items()}
        got = _ask(s, kind, q)
        assert_rank_identical(
            got, _oracle(orc, texts, kind, q), msg=f"{kind} {q!r}"
        )
        for name, (c, budget, keep) in caches.items():
            assert c.total == sum(c.sizer(v) for v in c.values()), name
            assert c.total <= budget or len(c) <= keep, name
            evictions[name] += len(held[name] - set(c))
        # LRU order: the entries this query used sit at the tail
        if kind == "match" or kind == "prefix" or got:
            if kind == "prefix":
                key = (tokenize(q)[0], 50)
                assert list(s._prefix_terms)[-1] == key
                words = s._prefix_terms[key]
            elif kind == "bool":
                words = [w for c in q.values() for w in tokenize(c)]
            else:
                words = tokenize(q[0] if kind == "phrase" else q)
            used = [s._decoded] + ([s._pos_decoded] if kind == "phrase" else [])
            for c in used:
                keys = list(c)
                tail = [key for key in keys if key in set(words)]
                assert keys[len(keys) - len(tail):] == tail, (kind, q)
    assert all(evictions.values()), f"no eviction in some cache: {evictions}"


def test_open_searcher_keeps_its_snapshot_across_a_commit(
    spark, tmp_path_factory
):
    """A searcher opened before an incremental commit answers prefix,
    filtered bool, sort and agg queries exactly as before the commit; a
    searcher opened after it sees the delta."""
    d = tmp_path_factory.mktemp("snapshot")
    base = generate_documents(400)
    final = evolve_corpus(base, n_new=40, n_update=20, n_flip=5)
    pq.write_table(base, str(d / "base.parquet"))
    pq.write_table(final, str(d / "final.parquet"))
    cat = Catalog(str(d / "idx"))
    build_index(spark, spark.read.parquet(str(d / "base.parquet")), cat, "v1")
    idx = cat.index_dir("v1")
    s = LocalSearcher(idx)

    def answers(searcher):
        return {
            "prefix_new": searcher.search_prefix("updatedc", 10),
            "prefix_capped": searcher.search_prefix("r", 10, max_expansions=3),
            "prefix_w": searcher.search_prefix("w", 10, max_expansions=5),
            "bool_filtered": searcher.search_bool(
                {"should": "the w00001 recrawled",
                 "filter_term": {"lang": "en"}}, 10),
            "bool_range": searcher.search_bool(
                {"must": "the", "filter_range": {"url": ("https://", None)}},
                400),
            "sort": searcher.search_sort("warc_ts", 10),
            "agg": searcher.agg_terms("lang", 10),
        }

    before = answers(s)
    assert before["prefix_new"] == []
    incremental_update(spark, spark.read.parquet(str(d / "final.parquet")),
                       cat, "v1")
    assert answers(s) == before
    after = answers(LocalSearcher(idx))
    assert after["prefix_new"], "the commit added the term 'updatedcontent'"
    assert after["sort"] != before["sort"]
