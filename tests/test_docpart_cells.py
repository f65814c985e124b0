"""Docpart cell enumeration and job shape.

The docpart shape lists its (generation, salt) docID cells on the driver
from the segment files' footers and row groups, then reads each cell in
place in one ``mapInArrow`` over ``spark.range(n_cells)``. Here the grid is
forced small (``salt_group_cap``) so the base generation and an incremental
generation each span several salts, beside a generation with tombstones
and an all-deletes generation that holds no segment rows at all. Every
docpart driver must equal the per-query shape and the oracle bit for bit on
that index, and a batch must run as one Spark job with no exchange."""

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from osu_elastic_indexer_spark import oracle
from osu_elastic_indexer_spark.functions.textprep import extract_text, tokenize
from osu_elastic_indexer_spark.operators import boolquery as bq
from osu_elastic_indexer_spark.operators import wand
from osu_elastic_indexer_spark.operators.build import build_index
from osu_elastic_indexer_spark.operators.wand import wand_topk, wand_topk_docpart
from osu_elastic_indexer_spark.session import driver_frame
from osu_elastic_indexer_spark.sources.catalog import Catalog, committed_gen_paths
from osu_elastic_indexer_spark.sources.fixtures import (
    evolve_corpus,
    generate_documents,
)
from osu_elastic_indexer_spark.streaming.incremental import incremental_update

CAP = 100  # docs per salt cell: a 400-doc base spans 4 salts


@pytest.fixture(scope="module")
def grid(spark, tmp_path_factory):
    """A positional index: a 400-doc base, a commit of 280 adds (several
    salts) with re-crawl updates (tombstones), and an all-deletes queue
    commit; plus the oracle over the live docs in the engine's docIDs."""
    root = str(tmp_path_factory.mktemp("docpart_cells"))
    base = generate_documents(400)
    final = evolve_corpus(base, n_new=250, n_update=30, n_flip=0)
    gone = final["url"].to_pylist()[3::37]
    rest = final.filter(pc.invert(pc.is_in(final["url"], pa.array(gone))))
    paths = {}
    for name, tbl in (("b", base), ("f", final), ("r", rest)):
        paths[name] = os.path.join(root, f"{name}.parquet")
        pq.write_table(tbl, paths[name])
    cat = Catalog(root)
    build_index(
        spark, spark.read.parquet(paths["b"]), cat, "v1",
        include_all_langs=True, positions=True, salt_group_cap=CAP,
    )
    m1 = incremental_update(
        spark, spark.read.parquet(paths["f"]), cat, "v1", salt_group_cap=CAP
    )
    assert m1["phases"]["incremental_gen1"]["deletes"] > 0
    m2 = incremental_update(
        spark, spark.read.parquet(paths["r"]), cat, "v1", salt_group_cap=CAP,
        queue_urls=driver_frame(spark, [(u,) for u in gone], "url string"),
    )
    assert m2["generations"] == 3
    assert m2["phases"]["incremental_gen2"]["deletes"] == len(gone)
    idx = cat.index_dir("v1")

    dead = set()
    for p in committed_gen_paths(idx, "tombstones"):
        dead |= set(pq.read_table(p).column("doc_id").to_pylist())
    live = {}
    for p in committed_gen_paths(idx, "docmap"):
        dm = pq.read_table(p, columns=["doc_id", "url"])
        for d, u in zip(dm["doc_id"].to_pylist(), dm["url"].to_pylist()):
            if d not in dead:
                live[u] = d
    texts = {
        live[u]: extract_text(h) or ""
        for u, h in zip(rest["url"].to_pylist(), rest["html"].to_pylist())
        if u in live
    }
    assert len(texts) == len(live)
    orc = oracle.build_index(sorted(texts.items()))
    head = sorted(orc.postings, key=lambda t: (-len(orc.postings[t]), t))
    return {
        "idx": idx, "oracle": orc, "texts": texts, "head": head,
        "urls": sorted(live), "by_url": live,
    }


def _cells_of(idx: str) -> dict[int, set[int]]:
    """generation -> the salts its committed segment rows carry."""
    out: dict[int, set[int]] = {}
    for p in committed_gen_paths(idx, "segments"):
        for f in sorted(os.listdir(p)):
            if f.endswith(".parquet"):
                t = pq.read_table(os.path.join(p, f), columns=["generation", "salt"])
                for g, s in zip(t["generation"].to_pylist(), t["salt"].to_pylist()):
                    out.setdefault(g, set()).add(s)
    return out


def _by_query(rows) -> dict:
    out: dict = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
        out.setdefault(r.query_id, []).append((r.doc_id, r.score))
    return out


def test_grid_spans_salts_and_an_empty_generation(grid):
    """The fixture holds what the enumeration must cope with: multi-salt
    base and incremental generations, and a committed generation with no
    segment rows; the planner lists exactly the cells the rows carry."""
    cells = _cells_of(grid["idx"])
    assert len(cells[0]) > 1 and len(cells[1]) > 1, cells
    assert 2 not in cells, "the all-deletes generation holds no segment rows"
    m = bq._snapshot(grid["idx"])
    spec = {"should": [grid["head"][0]], "must": [], "must_not": [],
            "filter": [], "boosts": {}}
    state, _plans, listed = bq._plan_batch(grid["idx"], m, {0: spec}, {0: 0})
    got = {}
    for (gen, salt), postings, _where in listed:
        assert postings > 0
        got.setdefault(gen, set()).add(salt)
    assert got == cells, (got, cells)
    assert state["tids"] and len(listed) == sum(map(len, cells.values()))


def test_stats_less_row_groups_keep_their_cells(grid, tmp_path):
    """A segment file written WITHOUT column statistics (and in many small
    row groups) lists the same cells with the same postings: a group
    lacking term_id stats stays a candidate, and cells come from the salt
    column, never from salt stats."""
    from osu_elastic_indexer_spark.operators.state import _parquet_files

    files = _parquet_files(tuple(committed_gen_paths(grid["idx"], "segments")))
    bare = []
    for i, f in enumerate(files):
        bare.append(str(tmp_path / f"bare-{i}.parquet"))
        pq.write_table(
            pq.read_table(f), bare[-1], write_statistics=False,
            row_group_size=16,
        )
        md = pq.ParquetFile(bare[-1]).metadata
        assert md.row_group(0).column(0).statistics is None
    tids = sorted(set(
        pq.read_table(files[0], columns=["term_id"]).column("term_id").to_pylist()
    ))[::7]
    want = [(k, n) for k, n, _w in wand._list_cells(files, tids)]
    got = [(k, n) for k, n, _w in wand._list_cells(bare, tids)]
    assert got == want and len(want) > 1


def test_docpart_drivers_match_per_query_and_oracle(spark, grid):
    """bool (filter_term, filter_range, the routed filter-only tail),
    match and positional phrase: docpart == per-query == oracle."""
    h, urls, orc = grid["head"], grid["urls"], grid["oracle"]
    lo, hi = urls[len(urls) // 4], urls[3 * len(urls) // 4]
    picked = urls[::9]
    in_range = {d for u, d in grid["by_url"].items() if lo <= u <= hi}
    picked_docs = {grid["by_url"][u] for u in picked}
    bools = [
        (0, {"must": h[0], "should": [h[3], h[5]], "must_not": h[7]}, None),
        (1, {"must": h[1], "should": h[9], "filter_term": {"url": picked}},
         picked_docs),
        (2, {"must": h[2], "filter_range": {"url": (lo, hi)}}, in_range),
        (3, {"filter": h[4], "should": h[6], "minimum_should_match": 1}, None),
        (4, {"should": h[40], "filter_range": {"url": (lo, None)},
             "filter_term": {"url": urls}},
         {d for u, d in grid["by_url"].items() if u >= lo}),
    ]
    batch = [(q, s) for q, s, _a in bools]
    docpart = _by_query(bq.bool_topk_docpart(spark, grid["idx"], batch, 10).collect())
    per_query = _by_query(bq.bool_topk(spark, grid["idx"], batch, 10).collect())
    for qid, spec, allowed in bools:
        want = oracle.search_bool(orc, spec, 10, allowed_docs=allowed)
        assert want, spec
        assert docpart.get(qid, []) == per_query.get(qid, []) == want, spec

    match = [(0, f"{h[0]} {h[12]}"), (1, h[30]), (2, " ".join(h[5:9])),
             (3, "xyzzyabsent")]
    docpart = _by_query(wand_topk_docpart(spark, grid["idx"], match, 10).collect())
    per_query = _by_query(wand_topk(spark, grid["idx"], match, 10).collect())
    for qid, q in match:
        want = oracle.search(orc, q, 10)
        assert docpart.get(qid, []) == per_query.get(qid, []) == want, q

    phrases = []
    for d in sorted(grid["texts"])[::60]:
        toks = tokenize(grid["texts"][d])
        if len(toks) > 12:
            phrases.append(" ".join(toks[10:12]))
    phrases.append(f"{h[0]} {h[1]}")
    batch = list(enumerate(phrases))
    for slop in (0, 1):
        docpart = _by_query(bq.phrase_topk(
            spark, grid["idx"], None, batch, 10, docpart=True, slop=slop
        ).collect())
        per_query = _by_query(bq.phrase_topk(
            spark, grid["idx"], None, batch, 10, docpart=False, slop=slop
        ).collect())
        for qid, q in batch:
            want = oracle.search_phrase(orc, grid["texts"], q, 10, slop)
            assert docpart.get(qid, []) == per_query.get(qid, []) == want, (q, slop)
        assert any(docpart.values())


def test_docpart_batch_runs_one_job_no_exchange(spark, grid):
    """A docpart batch with no filter-only tail runs exactly ONE Spark job
    — the ``mapInArrow`` over the cells' Range, no segments scan, no
    exchange — reading its result runs none, and nothing stays cached."""
    h = grid["head"]
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    cached_before = set(sc._jsc.getPersistentRDDs().keySet())
    before = set(tracker.getJobIdsForGroup(None))
    df = wand_topk_docpart(spark, grid["idx"], [(0, h[0]), (1, f"{h[2]} {h[8]}")], 5)
    jobs = set(tracker.getJobIdsForGroup(None)) - before
    rows = df.collect()
    assert len(jobs) == 1, jobs
    assert set(tracker.getJobIdsForGroup(None)) - before == jobs
    assert {r.query_id for r in rows} == {0, 1}
    # found by job id: the status store keeps a bounded window of executions
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = [
        e.physicalPlanDescription()
        for e in (execs.apply(i) for i in range(execs.size()))
        if any(e.jobs().contains(j) for j in jobs)
    ]
    assert len(plans) == 1, plans
    assert "MapInArrow" in plans[0] and "Range" in plans[0], plans[0]
    for node in ("Exchange", "FileScan", "FlatMapGroupsInPandas", "Window"):
        assert node not in plans[0], plans[0]
    assert set(sc._jsc.getPersistentRDDs().keySet()) == cached_before


def test_dictionary_readers_agree(spark, grid):
    """The three dictionary readers fold the grid's delta generations the
    same way: the driver lookup, a fresh searcher's seek and the merged
    Spark read give every term the same (term_id, df), including terms
    re-touched by a later generation and terms whose df sums to 0; a
    prefix expansion never returns a df-0 term."""
    from collections import Counter

    from osu_elastic_indexer_spark.operators import dictionary as D
    from osu_elastic_indexer_spark.operators.serve import LocalSearcher

    idx = grid["idx"]
    merged = {
        r.term: (r.term_id, r.df)
        for r in D.read_dictionary_merged(spark, idx).collect()
    }
    rows = Counter()
    for p in committed_gen_paths(idx, "dict_by_term"):
        rows.update(pq.read_table(p, columns=["term"]).column("term").to_pylist())
    dead = sorted(t for t, (_i, df) in merged.items() if df == 0)
    assert dead, "the fixture must hold a term whose df sums to 0"
    assert any(n > 1 for n in rows.values()), "and a term re-touched later"
    terms = sorted(merged) + ["zzz-absent"]
    assert D.lookup_term_info(idx, terms) == merged
    s = LocalSearcher(idx)
    s._resolve_terms(terms)
    assert {t: s._dict[t] for t in merged} == merged
    assert s._dict["zzz-absent"] is None
    for pre in sorted({t[:2] for t in dead}):
        live = D.lookup_terms_by_prefix(idx, pre)
        assert live == sorted(
            t for t, (_i, df) in merged.items() if t.startswith(pre) and df > 0
        )
        assert live == s._expansions(pre, 10**6)
