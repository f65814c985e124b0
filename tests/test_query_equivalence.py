"""Differential fuzz across the three physical query shapes: per-query
``applyInPandas`` (``bool_topk`` / ``wand_topk``), document-partitioned
cells (``*_docpart``) and the no-Spark ``LocalSearcher`` are drivers around
one scoring kernel, so on random specs they must agree with each other and
with the pure-python oracle EXACTLY — same docs, same order, same float
scores — over a multi-generation index with tombstones.

Each drawn example is a BATCH of queries: every Spark driver runs once per
batch, which keeps the Spark job count (and the file's runtime) small."""

import os

import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from osu_elastic_indexer_spark import oracle
from osu_elastic_indexer_spark.functions.textprep import extract_text
from osu_elastic_indexer_spark.operators.boolquery import (
    bool_topk,
    bool_topk_docpart,
)
from osu_elastic_indexer_spark.operators.build import build_index
from osu_elastic_indexer_spark.operators.serve import LocalSearcher
from osu_elastic_indexer_spark.operators.wand import (
    wand_topk,
    wand_topk_docpart,
)
from osu_elastic_indexer_spark.sources.catalog import (
    Catalog,
    committed_gen_paths,
)
from osu_elastic_indexer_spark.sources.fixtures import (
    evolve_corpus,
    generate_documents,
)
from osu_elastic_indexer_spark.streaming.incremental import incremental_update

OOV = "xyzzyabsent"
FUZZ = settings(
    max_examples=20,
    deadline=None,
    derandomize=True,
    database=None,
    suppress_health_check=list(HealthCheck),
)


@pytest.fixture(scope="module")
def world(spark, tmp_path_factory):
    """Base build + one incremental generation (adds, re-crawl updates and
    lang flips, i.e. tombstones) over an all-langs index; the oracle is
    built over the LIVE docs in the engine's docID space."""
    root = str(tmp_path_factory.mktemp("equiv"))
    base = generate_documents(500)
    final = evolve_corpus(base, n_new=80, n_update=20, n_flip=10)
    bp, fp = os.path.join(root, "b.parquet"), os.path.join(root, "f.parquet")
    pq.write_table(base, bp)
    pq.write_table(final, fp)
    cat = Catalog(root)
    build_index(
        spark, spark.read.parquet(bp), cat, "v1", include_all_langs=True
    )
    m = incremental_update(spark, spark.read.parquet(fp), cat, "v1")
    assert m["generations"] == 2 and m["counters"]["deletes_total"] > 0
    idx_dir = cat.index_dir("v1")

    dead = set()
    for p in committed_gen_paths(idx_dir, "tombstones"):
        dead |= set(pq.read_table(p).column("doc_id").to_pylist())
    live = {}
    for p in committed_gen_paths(idx_dir, "docmap"):
        dm = pq.read_table(p, columns=["doc_id", "url"])
        for d, u in zip(dm.column("doc_id").to_pylist(), dm.column("url").to_pylist()):
            if d not in dead:
                assert u not in live, f"two live docIDs for {u}"
                live[u] = d
    texts, by_lang, by_url = [], {}, {}
    for u, h, lang in zip(
        final["url"].to_pylist(), final["html"].to_pylist(),
        final["lang"].to_pylist(),
    ):
        if u in live:
            texts.append((live[u], extract_text(h) or ""))
            by_lang.setdefault(lang, set()).add(live[u])
            by_url[u] = live[u]
    oidx = oracle.build_index(texts)
    by_df = sorted(oidx.postings, key=lambda t: (-len(oidx.postings[t]), t))
    vocab = by_df[:6] + by_df[len(by_df) // 3 :: max(1, len(by_df) // 30)][:18]
    return {
        "idx": idx_dir,
        "oracle": oidx,
        "searcher": LocalSearcher(idx_dir),
        "vocab": sorted(set(vocab)),
        "langs": sorted(lang for lang in by_lang if lang is not None),
        "by_lang": by_lang,
        "urls": sorted(by_url),
        "by_url": by_url,
    }


def _by_query(rows) -> dict:
    out: dict = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
        out.setdefault(r.query_id, []).append((r.doc_id, r.score))
    return out


def _oracle_bool(w: dict, spec: dict, k: int) -> list:
    allowed = None
    for field, vals in (spec.get("filter_term") or {}).items():
        index = w["by_lang"] if field == "lang" else {
            u: {d} for u, d in w["by_url"].items()
        }
        docs = set().union(*(index.get(v, set()) for v in vals))
        allowed = docs if allowed is None else allowed & docs
    return oracle.search_bool(w["oracle"], spec, k, allowed_docs=allowed)


def _spec_strategy(w: dict):
    term = st.sampled_from(w["vocab"])
    boosted = st.one_of(
        term, st.tuples(term, st.sampled_from([0.5, 2.0, 3.0]))
    )
    filter_term = st.one_of(
        st.builds(lambda v: {"lang": v},
                  st.lists(st.sampled_from(w["langs"]), min_size=1, max_size=2)),
        st.builds(lambda v: {"url": v},
                  st.lists(st.sampled_from(w["urls"]), min_size=1, max_size=40)),
    )

    @st.composite
    def spec(draw):
        def clause(elem, max_size):
            if not draw(st.booleans()):
                return []
            return draw(st.lists(elem, min_size=1, max_size=max_size))

        s = {
            # an out-of-vocabulary required term empties the query; OOV
            # scored terms are left out (every-term-OOV filter-context specs
            # are a documented engine/oracle divergence)
            "must": clause(st.one_of(boosted, st.just(OOV)), 2),
            "should": clause(boosted, 3),
            "must_not": clause(st.one_of(term, st.just(OOV)), 2),
            "filter": clause(term, 2),
        }
        if draw(st.booleans()):
            s["filter_term"] = draw(filter_term)
        if s["should"] and draw(st.booleans()):
            s["minimum_should_match"] = draw(st.integers(1, 3))
        if not (s["must"] or s["should"] or s["filter"]):
            s["should"] = [draw(term)]
        return s

    return spec()


def test_bool_drivers_agree_with_oracle(spark, world):
    w = world

    @FUZZ
    @given(
        specs=st.lists(_spec_strategy(w), min_size=1, max_size=8),
        k=st.sampled_from([3, 10]),
    )
    def check(specs, k):
        batch = list(enumerate(specs))
        per_query = _by_query(bool_topk(spark, w["idx"], batch, k).collect())
        docpart = _by_query(
            bool_topk_docpart(spark, w["idx"], batch, k).collect()
        )
        for qid, spec in batch:
            want = _oracle_bool(w, spec, k)
            assert per_query.get(qid, []) == want, (qid, spec)
            assert docpart.get(qid, []) == want, (qid, spec)
            assert w["searcher"].search_bool(spec, k) == want, (qid, spec)

    check()


def test_match_drivers_agree_with_oracle(spark, world):
    w = world
    text = st.lists(
        st.one_of(st.sampled_from(w["vocab"]), st.just(OOV)),
        min_size=0, max_size=4,
    ).map(" ".join)

    @FUZZ
    @given(texts=st.lists(text, min_size=1, max_size=8),
           k=st.sampled_from([1, 10]))
    def check(texts, k):
        batch = list(enumerate(texts))
        per_query = _by_query(wand_topk(spark, w["idx"], batch, k).collect())
        docpart = _by_query(
            wand_topk_docpart(spark, w["idx"], batch, k).collect()
        )
        for qid, q in batch:
            want = oracle.search(w["oracle"], q, k)
            assert per_query.get(qid, []) == want, (qid, q)
            assert docpart.get(qid, []) == want, (qid, q)
            assert w["searcher"].search(q, k) == want, (qid, q)

    check()
