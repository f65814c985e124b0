"""The per-query Spark shape (``boolquery._searcher_batch``) and batch
snapshots: every Spark query batch plans from ONE manifest read, the
per-query shape answers on worker-side ``LocalSearcher``s pinned to that
manifest, and each worker holds one searcher with a share of the serve
cache budgets."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from osu_elastic_indexer_spark import oracle
from osu_elastic_indexer_spark.functions.textprep import extract_text, tokenize
from osu_elastic_indexer_spark.operators import boolquery as bq
from osu_elastic_indexer_spark.operators import dictionary as dict_mod
from osu_elastic_indexer_spark.operators import serve
from osu_elastic_indexer_spark.operators.boolquery import (
    bool_topk,
    bool_topk_docpart,
    match_phrase_prefix_topk,
    prefix_topk,
)
from osu_elastic_indexer_spark.operators.build import build_index
from osu_elastic_indexer_spark.operators.wand import (
    wand_topk,
    wand_topk_docpart,
)
from osu_elastic_indexer_spark.sources.catalog import (
    Catalog,
    committed_gen_paths,
    read_index_manifest,
)
from osu_elastic_indexer_spark.sources.fixtures import (
    evolve_corpus,
    generate_documents,
)
from osu_elastic_indexer_spark.streaming.incremental import incremental_update


class _World:
    """A 300-doc all-langs index plus the corpus its snapshot holds;
    ``commit`` applies one evolved delta as an incremental generation."""

    def __init__(self, spark, root: str, positions: bool = False):
        self.spark, self.root = spark, root
        self.corpus = generate_documents(300)
        self.cat = Catalog(root)
        self.idx = self.cat.index_dir("v1")
        self.n = 0
        build_index(
            spark, spark.read.parquet(self._write()), self.cat, "v1",
            include_all_langs=True, positions=positions,
        )

    def _write(self) -> str:
        self.n += 1
        path = os.path.join(self.root, f"corpus{self.n}.parquet")
        pq.write_table(self.corpus, path)
        return path

    def commit(self) -> None:
        self.corpus = evolve_corpus(
            self.corpus, n_new=60, n_update=15, n_flip=5, seed=100 + self.n
        )
        incremental_update(
            self.spark, self.spark.read.parquet(self._write()), self.cat, "v1"
        )

    def oracle(self) -> oracle.OracleIndex:
        """The oracle over the live docs of the committed snapshot, in the
        engine's docID space."""
        return oracle.build_index(list(self.texts().items()))

    def texts(self) -> dict:
        """{doc_id: extracted text} of the committed snapshot's live docs."""
        dead = set()
        for p in committed_gen_paths(self.idx, "tombstones"):
            dead |= set(pq.read_table(p).column("doc_id").to_pylist())
        live = {}
        for p in committed_gen_paths(self.idx, "docmap"):
            dm = pq.read_table(p, columns=["doc_id", "url"])
            for d, u in zip(
                dm.column("doc_id").to_pylist(), dm.column("url").to_pylist()
            ):
                if d not in dead:
                    live[u] = d
        return {
            live[u]: extract_text(h) or ""
            for u, h in zip(
                self.corpus["url"].to_pylist(), self.corpus["html"].to_pylist()
            )
            if u in live
        }


@pytest.fixture(scope="module")
def world(spark, tmp_path_factory):
    return _World(spark, str(tmp_path_factory.mktemp("searcher_batch")))


@pytest.fixture(scope="module")
def pos_world(spark, tmp_path_factory):
    return _World(
        spark, str(tmp_path_factory.mktemp("searcher_batch_pos")),
        positions=True,
    )


def _by_query(rows) -> dict:
    out: dict = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    return out


def _head_terms(orc: oracle.OracleIndex, n: int) -> list[str]:
    return sorted(orc.postings, key=lambda t: (-len(orc.postings[t]), t))[:n]


def _commit_inside_term_lookup(world, monkeypatch) -> list:
    """Make the next ``lookup_term_info`` call commit one generation before
    it delegates — a commit landing while a docpart batch is planned.
    Returns the list the commit's df changes are recorded in."""
    real = dict_mod.lookup_term_info
    committed = []

    def lookup(index_dir, terms, *args, **kw):
        if not committed:
            committed.append(real(index_dir, terms))
            world.commit()  # its own term lookups delegate straight away
            committed.append(real(index_dir, terms))
        return real(index_dir, terms, *args, **kw)

    monkeypatch.setattr(dict_mod, "lookup_term_info", lookup)
    return committed


def test_docpart_batch_plans_from_one_snapshot(spark, world, monkeypatch):
    """A commit that lands between a docpart batch's stats read and its
    dictionary lookup must not leak into the batch: n_docs/avgdl, df and
    the segment, norms and tombstone files all come from the snapshot the
    batch started on, so the answers equal the oracle of the pre-commit
    corpus — for a match batch and a bool batch, one commit each."""
    shapes = (
        (
            wand_topk_docpart, oracle.search,
            lambda h: [(0, f"{h[0]} {h[1]}"), (1, h[2]), (2, " ".join(h[3:6]))],
        ),
        (
            bool_topk_docpart, oracle.search_bool,
            lambda h: [
                (0, {"must": h[0], "should": [h[1], h[2]]}),
                (1, {"should": h[3:6], "must_not": h[1]}),
                (2, {"filter": h[4], "should": h[0]}),
            ],
        ),
    )
    for run, search, make in shapes:
        orc = world.oracle()
        queries = make(_head_terms(orc, 6))
        seq = read_index_manifest(world.idx)["commit_seq"]
        committed = _commit_inside_term_lookup(world, monkeypatch)
        got = _by_query(
            r.asDict() for r in run(spark, world.idx, queries, 10).collect()
        )
        monkeypatch.undo()
        assert read_index_manifest(world.idx)["commit_seq"] > seq
        before, after = committed
        assert any(before[t][1] != after[t][1] for t in before), (
            "the commit must change a queried term's df for the test to bite"
        )
        for qid, q in queries:
            assert got.get(qid, []) == search(orc, q, 10), (run.__name__, q)


def test_phrase_call_plans_from_one_snapshot(spark, pos_world, monkeypatch):
    """A commit that lands inside ``phrase_topk``'s 'auto' router (its df
    lookup) must not leak into the call: the route, the df split and both
    halves of the batch — heavy phrases on the docpart shape, light ones
    on the per-query shape — answer from the snapshot the call started
    on, so every answer equals the pre-commit oracle."""
    w = pos_world
    texts = w.texts()
    orc = oracle.build_index(list(texts.items()))
    # two-token windows of live docs, so the phrases match
    phrases = []
    for d in sorted(texts)[:40:5]:
        toks = tokenize(texts[d])
        if len(toks) > 12:
            phrases.append(" ".join(toks[10:12]))
    queries = list(enumerate(phrases))
    df_sum = {
        qid: sum(len(orc.postings[t]) for t in set(tokenize(q)))
        for qid, q in queries
    }
    split = sorted(df_sum.values())[len(df_sum) // 2]
    assert min(df_sum.values()) <= split < max(df_sum.values())
    monkeypatch.setattr(bq, "PHRASE_DOCPART_DF_SUM", split)
    want = {
        qid: oracle.search_phrase(orc, texts, q, 10) for qid, q in queries
    }
    assert all(want.values())
    seq = read_index_manifest(w.idx)["commit_seq"]
    committed = _commit_inside_term_lookup(w, monkeypatch)
    got = _by_query(
        r.asDict()
        for r in bq.phrase_topk(spark, w.idx, None, queries, 10).collect()
    )
    monkeypatch.undo()
    assert read_index_manifest(w.idx)["commit_seq"] > seq
    before, after = committed
    assert any(before[t][1] != after[t][1] for t in before), (
        "the commit must change a queried term's df for the test to bite"
    )
    for qid, q in queries:
        assert got.get(qid, []) == want[qid], (qid, q)


def test_per_query_batch_answers_from_planned_snapshot(spark, world):
    """A per-query DataFrame is planned when it is built: collected after a
    commit, it still answers from the snapshot it was planned on."""
    orc = world.oracle()
    head = _head_terms(orc, 4)
    match = [(0, " ".join(head[:2])), (1, head[3])]
    bools = [(0, {"must": head[0], "should": head[2], "must_not": head[3]})]
    df_match = wand_topk(spark, world.idx, match, 10)
    df_bool = bool_topk(spark, world.idx, bools, 10)
    world.commit()
    got = _by_query(r.asDict() for r in df_match.collect())
    for qid, q in match:
        assert got.get(qid, []) == oracle.search(orc, q, 10), (qid, q)
    got = _by_query(r.asDict() for r in df_bool.collect())
    for qid, spec in bools:
        assert got.get(qid, []) == oracle.search_bool(orc, spec, 10)


def _run_body(idx: str, m: dict, items: list, parallelism: int) -> dict:
    """The per-query shape's worker body, called in-process on one
    partition holding every query row."""
    body = bq._searcher_body(idx, m, "search", items, 10, {}, parallelism)
    rows = pa.record_batch(
        [pa.array(range(len(items)), pa.int64())], names=["id"]
    )
    return _by_query(r for b in body(iter([rows])) for r in b.to_pylist())


def test_worker_searcher_lifecycle_and_budget(world, monkeypatch):
    """One searcher per worker process: two bodies on one snapshot open
    it once, a new commit_seq replaces it (one entry held), and with a
    small budget a partition whose vocabulary exceeds the worker's share
    leaves the decode cache within that share — answers unchanged."""
    orc = world.oracle()
    m = read_index_manifest(world.idx)
    probe = serve.LocalSearcher(world.idx)
    terms = _head_terms(orc, 40)[20:32]
    probe.prefetch(terms)
    sizes = {t: probe._decoded[t][0].size for t in terms if t in probe._decoded}
    share = max(sizes.values())
    assert sum(sizes.values()) > share, "vocabulary must exceed the share"
    items = [(i, t) for i, t in enumerate(terms)] + [
        (100 + i, f"{a} {b}") for i, (a, b) in enumerate(zip(terms, terms[1:]))
    ]
    want = {qid: oracle.search(orc, q, 10) for qid, q in items}

    opened = []
    real_init = serve.LocalSearcher.__init__

    def counting_init(self, *args, **kw):
        opened.append(kw.get("manifest"))
        real_init(self, *args, **kw)

    monkeypatch.setattr(serve.LocalSearcher, "__init__", counting_init)
    bq._WORKER_SEARCHER.clear()
    assert _run_body(world.idx, m, items, 4) == want
    assert _run_body(world.idx, m, items, 4) == want
    assert opened == [m], "one searcher, opened on the driver's manifest"
    first = next(iter(bq._WORKER_SEARCHER.values()))
    assert first._cache_share == 0.25
    m_next = dict(m, commit_seq=m["commit_seq"] + 1)
    assert _run_body(world.idx, m_next, items, 4) == want
    assert len(opened) == 2 and len(bq._WORKER_SEARCHER) == 1
    assert next(iter(bq._WORKER_SEARCHER.values())) is not first

    monkeypatch.setattr(serve, "_DECODE_CACHE_MAX_POSTINGS", 4 * share)
    bq._WORKER_SEARCHER.clear()
    assert _run_body(world.idx, m, items, 4) == want
    (searcher,) = bq._WORKER_SEARCHER.values()
    assert searcher._decoded.total <= share
    assert searcher._decoded.total == sum(
        searcher._decoded.sizer(v) for v in searcher._decoded.values()
    )
    bq._WORKER_SEARCHER.clear()


def test_batches_validate_at_call_time(spark, world):
    """Validation stays on the driver and eager: building the DataFrame
    raises, no collect needed."""
    with pytest.raises(ValueError, match="single term"):
        prefix_topk(spark, world.idx, [(0, "w0 two tokens")])
    with pytest.raises(ValueError, match="no must/should/filter"):
        bool_topk(spark, world.idx, [(0, {"must_not": "the"})])
    with pytest.raises(ValueError, match="unknown bool spec key"):
        bool_topk(spark, world.idx, [(0, {"must": "the", "bogus": 1})])
    with pytest.raises(ValueError, match="POSITIONAL"):
        match_phrase_prefix_topk(spark, world.idx, [(0, "the a")])
