"""``build_index`` is the index's first commit: it commits an empty state
and applies its whole input as one cursor batch on the commit's Spark
route. These pin what that shape must keep: a crash anywhere in the build
commits nothing and ``resume=True`` replays it onto the crash-free state;
the corner cases of a first commit (no cursor yet, a wide vocabulary over
an empty dictionary, an input without an indexable row, one shared
warc_ts); and the build's manifest entries and split sizing."""

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from osu_elastic_indexer_spark import oracle
from osu_elastic_indexer_spark.functions.textprep import extract_text
from osu_elastic_indexer_spark.operators import build as build_mod
from osu_elastic_indexer_spark.operators.build import build_index
from osu_elastic_indexer_spark.operators.serve import LocalSearcher
from osu_elastic_indexer_spark.operators.state import _parquet_files
from osu_elastic_indexer_spark.operators.wand import wand_topk
from osu_elastic_indexer_spark.sources.catalog import Catalog, committed_gen_paths
from osu_elastic_indexer_spark.sources.fixtures import (
    generate_documents,
    reference_queries,
)
from osu_elastic_indexer_spark.streaming import incremental as inc
from osu_elastic_indexer_spark.streaming.incremental import incremental_update

QUERIES = [(qid, q) for qid, q, _k in reference_queries()]


@pytest.fixture(scope="module")
def small_corpus(tmp_path_factory):
    tbl = generate_documents(300)
    p = str(tmp_path_factory.mktemp("build_commit") / "docs.parquet")
    pq.write_table(tbl, p)
    return p, tbl


@pytest.fixture(scope="module")
def reference_build(spark, small_corpus, tmp_path_factory):
    """The crash-free build, with the route probe disabled: a build must
    never probe its input."""
    p, _tbl = small_corpus
    cat = Catalog(str(tmp_path_factory.mktemp("ref")))
    mp = pytest.MonkeyPatch()

    def no_probe(*_a, **_k):
        raise AssertionError("a build must not probe its input")

    mp.setattr(inc, "_probe_batch", no_probe)
    try:
        m = build_index(spark, spark.read.parquet(p), cat, "v1")
    finally:
        mp.undo()
    return cat, m


def _segments(idx_dir: str) -> pa.Table:
    files = _parquet_files(tuple(committed_gen_paths(idx_dir, "segments")))
    segs = pa.concat_tables([pq.read_table(f) for f in files])
    return segs.sort_by([("term_id", "ascending"), ("salt", "ascending")])


def _stats(cat: Catalog) -> dict:
    return pq.read_table(cat.table_path("v1", "stats")).to_pylist()[0]


def _engine_oracle(idx_dir: str, tbl: pa.Table) -> oracle.OracleIndex:
    """The oracle over the index's docs, in the engine's docID space."""
    ids = {}
    for p in committed_gen_paths(idx_dir, "docmap"):
        dm = pq.read_table(p, columns=["url", "doc_id"])
        ids.update(zip(dm["url"].to_pylist(), dm["doc_id"].to_pylist()))
    return oracle.build_index([
        (ids[u], extract_text(h))
        for u, h in zip(tbl["url"].to_pylist(), tbl["html"].to_pylist())
        if u in ids
    ])


def _answers(spark, idx_dir: str) -> dict:
    out: dict = {}
    for r in sorted(
        wand_topk(spark, idx_dir, QUERIES, 10).collect(),
        key=lambda r: (r.query_id, r.rank),
    ):
        out.setdefault(r.query_id, []).append((r.doc_id, r.score))
    return out


def _assert_oracle_answers(spark, idx_dir: str, tbl: pa.Table) -> None:
    orc = _engine_oracle(idx_dir, tbl)
    got = _answers(spark, idx_dir)
    for qid, q in QUERIES:
        assert got.get(qid, []) == oracle.search(orc, q, 10), q


def test_build_manifest_records_the_commit(spark, small_corpus, reference_build):
    """The first commit fills the counters a build always had, the phase
    entries the benchmark and the writers read, and a stats row whose
    dl_min is the shortest doc's length (not the empty state's 0)."""
    _p, tbl = small_corpus
    cat, m = reference_build
    idx = cat.index_dir("v1")
    orc = _engine_oracle(idx, tbl)
    c = m["counters"]
    assert c["docs"] == orc.n_docs
    assert c["postings"] == sum(len(p) for p in orc.postings.values())
    assert c["terms"] == len(orc.postings) == c["max_term_id"] + 1
    assert c["next_doc_id"] == orc.n_docs and c["deletes_total"] == 0
    assert m["generations"] == 1
    ph = m["phases"]
    assert ph["commit"]["status"] == "done" and ph["commit"]["route"] == "spark"
    assert ph["incremental_gen0"]["route"] == "spark"
    assert ph["postings"]["wall_sec"] > 0
    assert ph["postings"]["input_staged"] is False
    assert ph["segments"]["wall_sec"] > 0
    assert ph["segments"]["segment_rows"] == _segments(idx).num_rows > 0
    fwd = pa.concat_tables(
        pq.read_table(f, columns=["dl"])
        for f in _parquet_files(tuple(committed_gen_paths(idx, "fwd")))
    )
    st = _stats(cat)
    assert st["dl_min"] == pc.min(fwd["dl"]).as_py() > 0
    assert st["n_docs"] == orc.n_docs
    _assert_oracle_answers(spark, idx, tbl)


def test_build_crash_replays_cleanly(
    spark, small_corpus, reference_build, tmp_path, monkeypatch
):
    """Crash the build after its forward write, after its segments write,
    after its dictionary write, and at the manifest swap. Each crash
    commits nothing — no ``phases.commit``, no generation a reader can
    see — and ``resume=True`` replays the build onto the crash-free
    counters and segment rows."""
    p, _tbl = small_corpus
    cat_ok, m_ok = reference_build
    segs_ok = _segments(cat_ok.index_dir("v1"))
    cat = Catalog(str(tmp_path / "idx"))
    idx = cat.index_dir("v1")

    def crash_after(fn):
        def fake(*args, **kwargs):
            fn(*args, **kwargs)
            raise RuntimeError(f"injected crash after {fn.__name__}")

        return fake

    real_gen_file = inc._write_gen_file

    def crash_after_dictionary(path, table, **kw):
        real_gen_file(path, table, **kw)
        if os.path.basename(os.path.dirname(path)) == "dictionary":
            raise RuntimeError("injected crash after the dictionary write")

    real_write = Catalog.write_manifest

    def crash_at_swap(self, schema, manifest):
        if manifest.get("generations", 0) > 0:
            raise RuntimeError("injected crash at the manifest swap")
        return real_write(self, schema, manifest)

    # (target, name, fake, the table dir the crashed attempt left)
    for target, name, fake, left in (
        (inc, "materialize_forward", crash_after(inc.materialize_forward), "fwd"),
        (inc, "write_segments", crash_after(inc.write_segments), "segments"),
        (inc, "_write_gen_file", crash_after_dictionary, "dictionary"),
        (Catalog, "write_manifest", crash_at_swap, "dict_by_term"),
    ):
        with monkeypatch.context() as mp:
            mp.setattr(target, name, fake)
            with pytest.raises(RuntimeError, match="injected crash"):
                build_index(spark, spark.read.parquet(p), cat, "v1")
        assert os.listdir(os.path.join(idx, left, "gen=0")), (name, left)
        m = cat.read_manifest("v1")
        assert "commit" not in m["phases"], name
        assert m["generations"] == 0
        for table in ("segments", "docmap", "fwd", "dictionary"):
            assert committed_gen_paths(idx, table) == [], (name, table)

        m2 = build_index(spark, spark.read.parquet(p), cat, "v1", resume=True)
        assert m2["phases"]["commit"]["status"] == "done"
        assert m2["counters"] == m_ok["counters"], name
        assert m2["cursor"] == m_ok["cursor"]
        assert _segments(idx).equals(segs_ok), name
        assert _stats(cat) == _stats(cat_ok)


def test_build_forward_splits_follow_input_size(
    spark, small_corpus, tmp_path, monkeypatch
):
    """The build's forward pass scans its input in splits sized for ~3
    tasks a core (``input_split_bytes``), not at the session's 32 MB
    default: the 4.6 MB benchmark corpus is two tasks, not one."""
    p, _tbl = small_corpus
    docs = spark.read.parquet(p)
    want = build_mod.input_split_bytes(spark, docs)
    assert want is not None
    seen = []
    real = inc.materialize_forward

    def spy(spark_, *a, **k):
        seen.append(int(spark_.conf.get("spark.sql.files.maxPartitionBytes")))
        return real(spark_, *a, **k)

    monkeypatch.setattr(inc, "materialize_forward", spy)
    build_index(spark, docs, Catalog(str(tmp_path / "idx")), "v1")
    assert seen == [want]
    assert int(spark.conf.get("spark.sql.files.maxPartitionBytes")) != want


def test_build_wide_vocabulary_on_empty_index(
    spark, small_corpus, reference_build, tmp_path, monkeypatch
):
    """A build whose vocabulary is wider than ``KNOWN_ID_IN_MAX`` takes
    the distributed dictionary branch over an empty dictionary: same
    counters, segment rows and answers as the default build."""
    p, tbl = small_corpus
    cat_ok, m_ok = reference_build
    assert m_ok["counters"]["terms"] > 10
    monkeypatch.setattr(inc, "KNOWN_ID_IN_MAX", 10)
    cat = Catalog(str(tmp_path / "idx"))
    m = build_index(spark, spark.read.parquet(p), cat, "v1")
    assert m["phases"]["incremental_gen0"]["batch_terms"] > 10
    assert m["counters"] == m_ok["counters"]
    assert _segments(cat.index_dir("v1")).equals(
        _segments(cat_ok.index_dir("v1"))
    )
    _assert_oracle_answers(spark, cat.index_dir("v1"), tbl)


def test_build_without_indexable_rows_commits_empty_index(
    spark, small_corpus, tmp_path
):
    """An input with no indexable row (no 'en' doc) commits an empty
    index that readers accept, and the next commit grows it like a
    build."""
    from pyspark.sql import functions as F

    p, tbl = small_corpus
    cat = Catalog(str(tmp_path / "idx"))
    idx = cat.index_dir("v1")
    none = spark.read.parquet(p).withColumn("lang", F.lit("xx"))
    m = build_index(spark, none, cat, "v1")
    assert m["phases"]["commit"]["status"] == "done"
    assert m["counters"]["docs"] == 0 and m["counters"]["terms"] == 0
    assert m["generations"] == 0
    assert m["cursor"] is not None  # past the rows it read
    assert LocalSearcher(idx).search("alpha", 10) == []
    assert wand_topk(spark, idx, QUERIES, 10).collect() == []

    # the same docs, re-crawled later in their own langs
    later = spark.read.parquet(p).withColumn(
        "warc_ts", F.lit("2100-01-01 00:00:00").cast("timestamp")
    )
    m2 = incremental_update(spark, later, cat, "v1")
    orc = _engine_oracle(idx, tbl)
    assert m2["generations"] == 1
    assert m2["counters"]["docs"] == orc.n_docs > 0
    assert m2["counters"]["terms"] == len(orc.postings)
    assert _stats(cat)["dl_min"] > 0
    _assert_oracle_answers(spark, idx, tbl)


def test_build_rows_sharing_one_warc_ts_sets_cursor(spark, small_corpus, tmp_path):
    """Every row at one warc_ts (the driver-contract corpus has this
    shape): the build reads them all, sets the cursor to that instant, and
    a cursor batch over the same rows afterwards is a no-op."""
    from pyspark.sql import functions as F

    p, tbl = small_corpus
    docs = spark.read.parquet(p).withColumn(
        "warc_ts", F.lit("2025-01-01 00:00:00").cast("timestamp")
    )
    cat = Catalog(str(tmp_path / "idx"))
    m = build_index(spark, docs, cat, "v1")
    orc = _engine_oracle(cat.index_dir("v1"), tbl)
    assert m["counters"]["docs"] == orc.n_docs > 0
    assert m["cursor"] is not None and m["cursor"].startswith("2025-01-01 00:00:00")
    m2 = incremental_update(spark, docs, cat, "v1")
    assert m2["generations"] == 1 and m2["counters"] == m["counters"]
