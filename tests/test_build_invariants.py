"""Build-time invariants checked at run time: a failed segments write
commits nothing, the forward kernel refuses to commit when its docmap and
fwd doc_id counts disagree, and it stages exactly the inputs a re-scan may
not reproduce."""

import pyarrow.parquet as pq
import pyspark.sql
import pytest
from pyspark.sql import functions as F

from osu_elastic_indexer_spark import oracle
from osu_elastic_indexer_spark.functions.textprep import extract_text
from osu_elastic_indexer_spark.operators import build as build_mod
from osu_elastic_indexer_spark.operators.build import build_index
from osu_elastic_indexer_spark.operators.wand import wand_topk
from osu_elastic_indexer_spark.session import driver_frame
from osu_elastic_indexer_spark.sources.catalog import (
    Catalog,
    committed_gen_paths,
)
from osu_elastic_indexer_spark.sources.fixtures import (
    evolve_corpus,
    generate_documents,
    reference_queries,
)
from osu_elastic_indexer_spark.streaming.incremental import incremental_update


class _FailingWrite:
    """Stands in for the segments DataFrame: its write plan raises."""

    def observe(self, *args, **kwargs):
        raise RuntimeError("injected segments write failure")


def _uncommitted(cat: Catalog) -> bool:
    m = cat.read_manifest("v1")
    return "commit" not in m["phases"] and m["generations"] == 0


def test_segments_write_failure_commits_nothing(
    spark, corpus_path, tmp_path, monkeypatch
):
    import osu_elastic_indexer_spark.streaming.incremental as inc

    monkeypatch.setattr(
        inc, "build_segments_spimi", lambda *a, **k: _FailingWrite()
    )
    cat = Catalog(str(tmp_path / "idx"))
    with pytest.raises(RuntimeError, match="injected segments write"):
        build_index(spark, spark.read.parquet(corpus_path), cat, "v1")
    assert _uncommitted(cat)
    assert committed_gen_paths(cat.index_dir("v1"), "segments") == []


def test_direct_docmap_count_mismatch_refuses_commit(
    spark, corpus_path, tmp_path, monkeypatch
):
    """The docmap job is a separate scan of the same lineage as the count
    pass; if it sees a different row count its doc_ids cannot match fwd's,
    so the build must raise before any phase commits."""
    assert build_mod._plan_is_deterministic_scan(
        spark.read.parquet(corpus_path)
    ), "the corpus scan must be read without staging in this test"

    class _SkewedObservation(pyspark.sql.Observation):
        @property
        def get(self):
            got = dict(super().get)
            if self._name.startswith("dm_stats"):
                got["n"] = int(got["n"] or 0) + 1
            return got

    monkeypatch.setattr(pyspark.sql, "Observation", _SkewedObservation)
    cat = Catalog(str(tmp_path / "idx"))
    with pytest.raises(
        RuntimeError, match="docmap write saw .* rows but the count pass saw"
    ):
        build_index(spark, spark.read.parquet(corpus_path), cat, "v1")
    assert _uncommitted(cat)


def _snapshot_oracle(idx_dir: str, corpus) -> oracle.OracleIndex:
    """The oracle over the live docs of an index's committed snapshot, in
    the engine's docID space."""
    dead = set()
    for p in committed_gen_paths(idx_dir, "tombstones"):
        dead |= set(pq.read_table(p).column("doc_id").to_pylist())
    live = {}
    for p in committed_gen_paths(idx_dir, "docmap"):
        dm = pq.read_table(p, columns=["doc_id", "url"])
        for d, u in zip(
            dm.column("doc_id").to_pylist(), dm.column("url").to_pylist()
        ):
            if d not in dead:
                live[u] = d
    return oracle.build_index([
        (live[u], extract_text(h) or "")
        for u, h in zip(corpus["url"].to_pylist(), corpus["html"].to_pylist())
        if u in live
    ])


def _answers(spark, idx_dir: str, queries) -> dict:
    out: dict = {}
    for r in sorted(
        wand_topk(spark, idx_dir, queries, 10).collect(),
        key=lambda r: (r.query_id, r.rank),
    ):
        out.setdefault(r.query_id, []).append((r.doc_id, r.score))
    return out


def test_forward_route_follows_input_shape(spark, tmp_path, monkeypatch):
    """materialize_forward stages exactly the inputs a re-scan may not
    reproduce, and records the route as ``input_staged``: a file scan and
    the cdc cursor batch (filters and a projection over the scan) are read
    directly; a queue batch (a join), a persisted frame, an in-memory
    frame and a ``where`` on the clock are staged. The clock build indexes
    the same rows as the plain build: same counters, and both answer like
    the oracle over their own snapshot. The two commits run with a driver
    bound of 0 rows, so they take the Spark route, the one that calls
    materialize_forward; a queue batch on the driver route stages
    nothing."""
    base = generate_documents(300)
    final = evolve_corpus(base, n_new=40, n_update=10, n_flip=5, seed=7)
    base_p, final_p = str(tmp_path / "base.parquet"), str(tmp_path / "final.parquet")
    pq.write_table(base, base_p)
    pq.write_table(final, final_p)
    queries = [(qid, q) for qid, q, _k in reference_queries()]

    def build(name, docs, **kw):
        cat = Catalog(str(tmp_path / name))
        m = build_index(spark, docs, cat, "v1", **kw)
        return cat, m, m["phases"]["postings"]["input_staged"]

    cat, m_scan, staged = build("scan", spark.read.parquet(base_p))
    assert staged is False
    _cat, m_clock, staged = build(
        "clock", spark.read.parquet(base_p),
        where="warc_ts <= current_timestamp()",
    )
    assert staged is True
    assert m_clock["counters"] == m_scan["counters"]
    for c in (cat, _cat):
        idx = c.index_dir("v1")
        orc = _snapshot_oracle(idx, base)
        got = _answers(spark, idx, queries)
        for qid, q in queries:
            assert got.get(qid, []) == oracle.search(orc, q, 10), (idx, q)

    persisted = spark.read.parquet(base_p).filter(F.col("url").isNotNull())
    persisted.persist()
    try:
        assert build("persisted", persisted)[2] is True
    finally:
        persisted.unpersist()
    assert build("memory", spark.createDataFrame(base.to_pandas()))[2] is True

    import osu_elastic_indexer_spark.streaming.incremental as inc

    urls = [(u,) for u in final["url"].to_pylist()[-20:]]
    with monkeypatch.context() as mp:
        mp.setattr(inc, "DRIVER_BATCH_ROWS", 0)
        m = incremental_update(spark, spark.read.parquet(final_p), cat, "v1")
        assert m["phases"]["incremental_gen1"]["input_staged"] is False
        m = incremental_update(
            spark, spark.read.parquet(final_p), cat, "v1",
            queue_urls=driver_frame(spark, urls, "url string"),
        )
        ph = m["phases"]["incremental_gen2"]
        assert ph["route"] == "spark" and ph["input_staged"] is True
    m = incremental_update(
        spark, spark.read.parquet(final_p), cat, "v1",
        queue_urls=driver_frame(spark, urls[:10], "url string"),
    )
    ph = m["phases"]["incremental_gen3"]
    assert ph["route"] == "driver" and ph["input_staged"] is False
    orc = _snapshot_oracle(cat.index_dir("v1"), final)
    got = _answers(spark, cat.index_dir("v1"), queries)
    for qid, q in queries:
        assert got.get(qid, []) == oracle.search(orc, q, 10), q
