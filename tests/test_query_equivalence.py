"""Differential fuzz across the three physical query shapes: per-query
Spark batches (``bool_topk`` / ``wand_topk`` / ``phrase_topk`` /
``match_phrase_prefix_topk``, each a ``mapInArrow`` over worker-side
searchers), document-partitioned cells (``*_docpart``) and the no-Spark
``LocalSearcher`` are drivers around one scoring kernel, so on random specs
they must agree with each other and with the pure-python oracle EXACTLY —
same docs, same order, same float scores — over a multi-generation index
with tombstones (positional for the phrase and match_phrase_prefix fuzz),
whose generations were committed through both commit routes.

Each drawn example is a BATCH of queries: every Spark driver runs once per
batch, which keeps the Spark job count (and the file's runtime) small."""

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from osu_elastic_indexer_spark import oracle
from osu_elastic_indexer_spark.functions.textprep import extract_text, tokenize
from osu_elastic_indexer_spark.operators.boolquery import (
    bool_topk,
    bool_topk_docpart,
    match_phrase_prefix_topk,
    phrase_topk,
)
from osu_elastic_indexer_spark.operators.build import build_index
from osu_elastic_indexer_spark.operators.serve import LocalSearcher
from osu_elastic_indexer_spark.operators.wand import (
    wand_topk,
    wand_topk_docpart,
)
from osu_elastic_indexer_spark.session import driver_frame
from osu_elastic_indexer_spark.sources.catalog import (
    Catalog,
    committed_gen_paths,
)
from osu_elastic_indexer_spark.sources.fixtures import (
    evolve_corpus,
    generate_documents,
)
from osu_elastic_indexer_spark.streaming import incremental as inc
from osu_elastic_indexer_spark.streaming.incremental import incremental_update

OOV = "xyzzyabsent"
FUZZ = settings(
    max_examples=20,
    deadline=None,
    derandomize=True,
    database=None,
    suppress_health_check=list(HealthCheck),
)


def _build_world(spark, root: str, queue_route: str, **build_kw) -> dict:
    """Base build + two incremental generations over an all-langs index:
    a cursor batch (adds, re-crawl updates and lang flips, i.e.
    tombstones) and a queue batch (re-queued live urls and urls gone from
    the source), the queue batch on ``queue_route`` ('driver' or 'spark')
    and the cursor batch on the other. The oracle is built over the LIVE
    docs in the engine's docID space."""
    base = generate_documents(500)
    final = evolve_corpus(base, n_new=80, n_update=20, n_flip=10)
    gone = final["url"].to_pylist()[::50]
    bp, fp = os.path.join(root, "b.parquet"), os.path.join(root, "f.parquet")
    rp = os.path.join(root, "r.parquet")
    pq.write_table(base, bp)
    pq.write_table(final, fp)
    pq.write_table(
        final.filter(pc.invert(pc.is_in(final["url"], pa.array(gone)))), rp
    )
    cat = Catalog(root)
    build_index(
        spark, spark.read.parquet(bp), cat, "v1", include_all_langs=True,
        **build_kw,
    )
    queue = [(u,) for u in final["url"].to_pylist()[7::40]] + [(u,) for u in gone]
    for route, kw in (
        ("spark" if queue_route == "driver" else "driver", {}),
        (queue_route, {"queue_urls": driver_frame(spark, queue, "url string")}),
    ):
        with pytest.MonkeyPatch.context() as mp:
            if route == "spark":
                mp.setattr(inc, "DRIVER_BATCH_ROWS", 0)
            m = incremental_update(
                spark, spark.read.parquet(rp if kw else fp), cat, "v1", **kw
            )
        ph = m["phases"][f"incremental_gen{m['generations'] - 1}"]
        assert ph["route"] == route and ph["deletes"] > 0
    assert m["generations"] == 3
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
        "texts": dict(texts),
        "doc_tokens": [toks for _d, t in sorted(texts) if (toks := tokenize(t))],
        "searcher": LocalSearcher(idx_dir),
        "vocab": sorted(set(vocab)),
        "langs": sorted(lang for lang in by_lang if lang is not None),
        "by_lang": by_lang,
        "urls": sorted(by_url),
        "by_url": by_url,
    }


@pytest.fixture(scope="module")
def world(spark, tmp_path_factory):
    return _build_world(spark, str(tmp_path_factory.mktemp("equiv")), "driver")


@pytest.fixture(scope="module")
def pos_world(spark, tmp_path_factory):
    """The same three-generation index with tombstones, built positional,
    its queue batch on the Spark route."""
    return _build_world(
        spark, str(tmp_path_factory.mktemp("equiv_pos")), "spark",
        positions=True,
    )


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


def _window_strategy(w: dict, max_len: int):
    """Token windows of live docs (so most drawn phrases match), as token
    lists of 1..max_len tokens."""

    @st.composite
    def window(draw):
        toks = draw(st.sampled_from(w["doc_tokens"]))
        n = draw(st.integers(1, max_len))
        i = draw(st.integers(0, max(0, len(toks) - n)))
        return toks[i : i + n]

    return window()


def _phrase_strategy(w: dict):
    """Phrases of 1-4 tokens: doc windows, some edited (a repeated token,
    an adjacent swap, an out-of-vocabulary token), and random vocab
    draws."""

    @st.composite
    def phrase(draw):
        if draw(st.integers(0, 4)) == 0:
            return " ".join(draw(st.lists(
                st.one_of(st.sampled_from(w["vocab"]), st.just(OOV)),
                min_size=1, max_size=4,
            )))
        ph = draw(_window_strategy(w, 4))
        j = draw(st.integers(0, len(ph) - 1))
        edit = draw(st.sampled_from(["none", "none", "repeat", "swap", "oov"]))
        if edit == "repeat" and len(ph) < 4:
            ph.insert(j, ph[j])
        elif edit == "swap" and j + 1 < len(ph):
            ph[j], ph[j + 1] = ph[j + 1], ph[j]
        elif edit == "oov":
            ph[j] = OOV
        return " ".join(ph)

    return phrase()


def _mpp_strategy(w: dict):
    """match_phrase_prefix texts: doc windows whose last token is cut to a
    prefix — sometimes a prefix of an earlier full token (so an expansion
    equals a full token), sometimes prefix-only input, sometimes a prefix
    with no expansion."""

    @st.composite
    def text(draw):
        ph = draw(_window_strategy(w, 3))
        full, last = ph[:-1], ph[-1]
        pick = draw(st.sampled_from(["last", "last", "full", "oov"]))
        if pick == "full" and full:
            last = draw(st.sampled_from(full))
        elif pick == "oov":
            last = OOV
        return " ".join(full + [last[: draw(st.integers(1, len(last)))]])

    return text()


def test_phrase_drivers_agree_with_oracle(spark, pos_world):
    w = pos_world

    @FUZZ
    @given(
        phrases=st.lists(_phrase_strategy(w), min_size=1, max_size=6),
        k=st.sampled_from([3, 10]),
        slop=st.integers(0, 2),
    )
    def check(phrases, k, slop):
        batch = list(enumerate(phrases))
        per_query = _by_query(phrase_topk(
            spark, w["idx"], None, batch, k, docpart=False, slop=slop
        ).collect())
        docpart = _by_query(phrase_topk(
            spark, w["idx"], None, batch, k, docpart=True, slop=slop
        ).collect())
        for qid, q in batch:
            want = oracle.search_phrase(w["oracle"], w["texts"], q, k, slop)
            assert per_query.get(qid, []) == want, (qid, q, slop)
            assert docpart.get(qid, []) == want, (qid, q, slop)
            got = w["searcher"].search_phrase(q, None, k, slop=slop)
            assert got == want, (qid, q, slop)

    check()


def test_match_phrase_prefix_agrees_with_oracle(spark, pos_world):
    w = pos_world

    @FUZZ
    @given(
        texts=st.lists(_mpp_strategy(w), min_size=1, max_size=6),
        k=st.sampled_from([3, 10]),
        max_expansions=st.sampled_from([3, 50]),
    )
    def check(texts, k, max_expansions):
        batch = list(enumerate(texts))
        got = _by_query(match_phrase_prefix_topk(
            spark, w["idx"], batch, k, max_expansions
        ).collect())
        for qid, q in batch:
            want = oracle.search_match_phrase_prefix(
                w["oracle"], w["texts"], q, k, max_expansions
            )
            assert got.get(qid, []) == want, (qid, q, max_expansions)
            served = w["searcher"].search_phrase_prefix(q, k, max_expansions)
            assert served == want, (qid, q, max_expansions)

    check()
