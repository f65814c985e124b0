"""M5: incremental semantics parity (SURVEY.md §5.2 #4) — cursor-driven
updates, add/delete routing, idempotence, cutover catch-up, compaction."""

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from osu_elastic_indexer_spark import oracle
from osu_elastic_indexer_spark.functions.textprep import extract_text
from osu_elastic_indexer_spark.operators.build import build_index
from osu_elastic_indexer_spark.operators.wand import wand_topk_with_urls
from osu_elastic_indexer_spark.session import driver_frame
from osu_elastic_indexer_spark.sources.catalog import Catalog
from osu_elastic_indexer_spark.sources.fixtures import (
    evolve_corpus,
    generate_documents,
    reference_queries,
)
from osu_elastic_indexer_spark.streaming.incremental import (
    TOMB_SCHEMA,
    _read_committed,
    backfill_with_switch,
    compact_index,
    incremental_update,
)

from util import assert_rank_identical


def _oracle_for(tbl):
    rows = [
        (u, extract_text(h))
        for u, h, lang, txt in zip(
            tbl["url"].to_pylist(),
            tbl["html"].to_pylist(),
            tbl["lang"].to_pylist(),
            tbl["text"].to_pylist(),
        )
        if lang == "en" and txt
    ]
    rows.sort(key=lambda r: r[0])
    urls = [u for u, _ in rows]
    return oracle.build_index(list(enumerate(t for _, t in rows))), urls


def _collect_by_query(res_rows):
    by_q = {}
    for r in res_rows:
        by_q.setdefault(r.query_id, []).append((r.rank, r.url, r.score))
    return {
        q: [(u, s) for _rk, u, s in sorted(v)] for q, v in by_q.items()
    }


@pytest.fixture(scope="module")
def evolved(tmp_path_factory):
    base = generate_documents(1000)
    final = evolve_corpus(base, n_new=200, n_update=30, n_flip=20)
    d = tmp_path_factory.mktemp("cdc")
    pq.write_table(base, str(d / "base.parquet"))
    pq.write_table(final, str(d / "final.parquet"))
    return str(d / "base.parquet"), str(d / "final.parquet"), base, final


@pytest.fixture(scope="module")
def incr_index(spark, evolved, tmp_path_factory):
    base_p, final_p, _base, _final = evolved
    root = str(tmp_path_factory.mktemp("idx_incr"))
    cat = Catalog(root)
    build_index(spark, spark.read.parquet(base_p), cat, "v1")
    m = incremental_update(spark, spark.read.parquet(final_p), cat, "v1")
    return cat, m


def _check_all_queries(spark, idx_dir, oracle_idx, oracle_urls, tag):
    queries = [(qid, q) for qid, q, _k in reference_queries()]
    queries.append((100, "recrawled updatedcontent"))  # hits updated docs only
    res = wand_topk_with_urls(spark, idx_dir, queries, k=10).collect()
    by_q = _collect_by_query(res)
    for qid, qtext in queries:
        got = by_q.get(qid, [])
        expect = [
            (oracle_urls[d], s) for d, s in oracle.search(oracle_idx, qtext, 10)
        ]
        # engine/oracle id spaces differ -> ties may permute; check boundary
        # ties against a deeper oracle ranking
        full = [
            (oracle_urls[d], s) for d, s in oracle.search(oracle_idx, qtext, 200)
        ]
        assert_rank_identical(
            got, expect, msg=f"{tag} q{qid} {qtext!r}", expect_full=full
        )


def test_crash_mid_generation_replays_cleanly(
    spark, evolved, incr_index, tmp_path_factory, monkeypatch
):
    """Atomicity (T7): kill the update mid-generation — right after the
    driver route's fwd/docmap write, right after the tombstone generation
    is written (before any segment), right after its segments write, then
    AT the commit point (every table dir is already written but the
    manifest swap never happens). After each crash the index must keep
    serving the OLD state, and a replay (the foreachBatch retry path) must
    clean the orphan generation and land on the same final state as a
    crash-free run: no double-appended docID ranges, no lost delete deltas,
    no stats drift."""
    import os

    import osu_elastic_indexer_spark.streaming.incremental as inc

    base_p, final_p, base, final = evolved
    root = str(tmp_path_factory.mktemp("idx_crash"))
    cat = Catalog(root)
    build_index(spark, spark.read.parquet(base_p), cat, "v1")
    m_before = cat.read_manifest("v1")
    oidx_base, ourls_base = _oracle_for(base)
    gen = m_before["generations"]

    real_gen_file = inc._write_gen_file

    def crash_after(table):
        def fake(path, tbl, **kw):
            real_gen_file(path, tbl, **kw)
            if os.path.basename(os.path.dirname(path)).startswith(table):
                raise RuntimeError(f"injected crash after the {table} write")

        return fake

    real_write = Catalog.write_manifest

    def crash_at_commit(self, schema, manifest):
        if manifest.get("generations", 0) > m_before["generations"]:
            raise RuntimeError("injected crash at commit")
        return real_write(self, schema, manifest)

    def gen_dir(table):
        return os.path.join(cat.table_path("v1", table), f"gen={gen}")

    # (fake, tables written before the crash, the table written next)
    for target, name, fake, written, unwritten in (
        (inc, "_write_gen_file", crash_after("docmap"), ("fwd", "docmap"), "tombstones"),
        (inc, "_write_gen_file", crash_after("tombstones"), ("tombstones",), "segments"),
        (inc, "_write_gen_file", crash_after("segments"), ("segments",), "dictionary"),
        (Catalog, "write_manifest", crash_at_commit, (), None),
    ):
        with monkeypatch.context() as mp:
            mp.setattr(target, name, fake)
            with pytest.raises(RuntimeError, match="injected crash"):
                incremental_update(spark, spark.read.parquet(final_p), cat, "v1")
        for table in written:
            assert pq.read_table(gen_dir(table)).num_rows > 0, table
        if unwritten:
            assert not os.path.exists(gen_dir(unwritten)), unwritten

        # uncommitted generation is invisible: queries still serve the base state
        m_crashed = cat.read_manifest("v1")
        assert m_crashed["generations"] == m_before["generations"]
        assert m_crashed["counters"] == m_before["counters"]
        st = spark.read.parquet(cat.table_path("v1", "stats")).collect()[0]
        assert st.n_docs == oidx_base.n_docs
        _check_all_queries(
            spark, cat.index_dir("v1"), oidx_base, ourls_base, f"crashed in {name}"
        )

    # replay: orphans cleaned, update applied once, final state == oracle
    m2 = incremental_update(spark, spark.read.parquet(final_p), cat, "v1")
    assert m2["generations"] == m_before["generations"] + 1
    oidx, ourls = _oracle_for(final)
    st2 = spark.read.parquet(cat.table_path("v1", "stats")).collect()[0]
    assert st2.n_docs == oidx.n_docs
    assert abs(st2.avgdl - oidx.avgdl) < 1e-9
    # the crash-free run of the same batch: same counters and stats
    cat_ok, m_ok = incr_index
    assert m2["phases"][f"incremental_gen{gen}"]["route"] == "driver"
    assert m2["counters"] == m_ok["counters"]  # next_doc_id included
    assert m2["cursor"] == m_ok["cursor"]
    st_ok = spark.read.parquet(cat_ok.table_path("v1", "stats")).collect()[0]
    assert st2.asDict() == st_ok.asDict()
    _check_all_queries(spark, cat.index_dir("v1"), oidx, ourls, "replayed")


def test_failed_writers_leave_nothing_cached(
    spark, evolved, tmp_path_factory, monkeypatch
):
    """A commit or a compaction that fails leaves no frame cached in the
    session, as one that lands: the queue batch, the wide dictionary
    branch's frames and compaction's merged dictionary are unpersisted on
    the way out. Crashed here: a driver-route queue batch right after its
    docmap write, a Spark-route queue batch with a vocabulary over
    KNOWN_ID_IN_MAX at its manifest swap, and a compaction at its swap."""
    import os

    import osu_elastic_indexer_spark.streaming.incremental as inc

    base_p, final_p, _base, final = evolved
    cat = Catalog(str(tmp_path_factory.mktemp("idx_uncache")))
    build_index(spark, spark.read.parquet(base_p), cat, "v1")
    docs = spark.read.parquet(final_p)
    queued = spark.createDataFrame(
        [(u,) for u in final["url"].to_pylist()[:20]], "url string"
    )
    real_gen_file = inc._write_gen_file
    real_write = Catalog.write_manifest

    def crash_after_docmap(path, tbl, **kw):
        real_gen_file(path, tbl, **kw)
        if os.path.basename(os.path.dirname(path)).startswith("docmap"):
            raise RuntimeError("injected crash after the docmap write")

    def crash_at_swap(self, schema, manifest):
        if manifest.get("table_ver", 0) > ver:
            raise RuntimeError("injected crash at the manifest swap")
        return real_write(self, schema, manifest)

    def commit():
        incremental_update(spark, docs, cat, "v1", queue_urls=queued)

    cases = {
        "driver-route queue batch": (
            commit, [(inc, "_write_gen_file", crash_after_docmap)],
        ),
        "wide Spark-route queue batch": (
            commit,
            [
                (Catalog, "write_manifest", crash_at_swap),
                (inc, "DRIVER_BATCH_ROWS", 0),
                (inc, "KNOWN_ID_IN_MAX", 5),
            ],
        ),
        "compaction": (
            lambda: compact_index(spark, cat, "v1"),
            [(Catalog, "write_manifest", crash_at_swap)],
        ),
    }
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    for case, (run, patches) in cases.items():
        ver = int(cat.read_manifest("v1").get("table_ver", 0))
        with monkeypatch.context() as mp:
            for target, attr, value in patches:
                mp.setattr(target, attr, value)
            with pytest.raises(RuntimeError, match="injected crash"):
                run()
        assert cache.isEmpty(), case
    assert int(cat.read_manifest("v1")["generations"]) == 1


def test_incremental_matches_oracle_on_final_corpus(spark, evolved, incr_index):
    _bp, _fp, _base, final = evolved
    cat, m = incr_index
    oidx, ourls = _oracle_for(final)
    assert m["generations"] == 2
    assert m["counters"]["docs"] == oidx.n_docs
    st = spark.read.parquet(cat.table_path("v1", "stats")).collect()[0]
    assert st.n_docs == oidx.n_docs
    assert abs(st.avgdl - oidx.avgdl) < 1e-12
    _check_all_queries(spark, cat.index_dir("v1"), oidx, ourls, "incr")


def test_incremental_equals_full_rebuild(spark, evolved, incr_index, tmp_path_factory):
    """The acid test: incremental(base -> final) must serve the same
    (url, score) rankings as a from-scratch build of final."""
    _bp, final_p, _base, final = evolved
    cat, _ = incr_index
    root2 = str(tmp_path_factory.mktemp("idx_full"))
    cat2 = Catalog(root2)
    build_index(spark, spark.read.parquet(final_p), cat2, "v1")
    oidx, ourls = _oracle_for(final)
    queries = [(qid, q) for qid, q, _k in reference_queries()]
    a = _collect_by_query(
        wand_topk_with_urls(spark, cat.index_dir("v1"), queries, 10).collect()
    )
    b = _collect_by_query(
        wand_topk_with_urls(spark, cat2.index_dir("v1"), queries, 10).collect()
    )
    for qid, qtext in queries:
        full = [(ourls[d], s) for d, s in oracle.search(oidx, qtext, 200)]
        assert_rank_identical(
            a.get(qid, []), b.get(qid, []),
            msg=f"incr-vs-full q{qid} {qtext!r}", expect_full=full,
        )


def test_deleted_docs_absent_from_topk(spark, evolved, incr_index):
    """Reference routing parity (SURVEY.md §7.4 #6): docs routed to delete
    must not appear in served top-k."""
    _bp, _fp, base, final = evolved
    cat, _ = incr_index
    flipped_urls = {
        u for u, l_old, l_new in zip(
            base["url"].to_pylist(),
            base["lang"].to_pylist(),
            final["lang"].to_pylist()[: base.num_rows],
        )
        if l_old == "en" and l_new != "en"
    }
    assert flipped_urls
    queries = [(qid, q) for qid, q, _k in reference_queries()]
    res = wand_topk_with_urls(spark, cat.index_dir("v1"), queries, 50).collect()
    served = {r.url for r in res}
    assert not (served & flipped_urls)


def test_idempotent_noop_batch(spark, evolved, incr_index):
    """T7: re-running with an advanced cursor (empty batch) changes nothing."""
    _bp, final_p, _b, _f = evolved
    cat, m1 = incr_index
    m2 = incremental_update(spark, spark.read.parquet(final_p), cat, "v1")
    assert m2["generations"] == m1["generations"]
    assert m2["counters"] == m1["counters"]


def test_rebuild_over_lived_index_resets_old_life(
    spark, evolved, tmp_path_factory
):
    """A full (non-resume) rebuild of a schema that went through incremental
    generations must start a FRESH life: no stale gen=1+ dirs in stats, no
    old-life tombstones poisoning the new docIDs, no versioned dictionary
    pointer shadowing the new dictionary. The rebuilt index must equal a
    from-scratch build of the same corpus."""
    base_p, final_p, _base, final = evolved
    root = str(tmp_path_factory.mktemp("idx_rebuild"))
    cat = Catalog(root)
    build_index(spark, spark.read.parquet(base_p), cat, "v1")
    incremental_update(spark, spark.read.parquet(final_p), cat, "v1")
    m_lived = cat.read_manifest("v1")
    assert m_lived["generations"] == 2  # precondition: index has a history

    # the one behind the current stats dir is kept as a grace window
    assert _versioned_dirs(cat.index_dir("v1"))["stats"] == ["stats_v1", "stats_v2"]

    m_rebuilt = build_index(spark, spark.read.parquet(final_p), cat, "v1")
    assert m_rebuilt["generations"] == 1
    # nothing of the old life is left: every table dir is the new build's
    assert m_rebuilt["table_ver"] == 1
    assert _versioned_dirs(cat.index_dir("v1")) == {
        "dict_by_term": ["dict_by_term"], "dictionary": ["dictionary"],
        "docmap": ["docmap"], "fwd": ["fwd"], "segments": ["segments"],
        "stats": ["stats", "stats_v1"],
    }

    fresh_root = str(tmp_path_factory.mktemp("idx_fresh"))
    fresh_cat = Catalog(fresh_root)
    m_fresh = build_index(
        spark, spark.read.parquet(final_p), fresh_cat, "v1"
    )
    assert m_rebuilt["counters"]["docs"] == m_fresh["counters"]["docs"]
    assert m_rebuilt["counters"]["postings"] == m_fresh["counters"]["postings"]

    oidx, urls = _oracle_for(final)
    _check_all_queries(spark, cat.index_dir("v1"), oidx, urls, "rebuilt")


def test_compaction_preserves_results(spark, evolved, incr_index):
    _bp, _fp, _base, final = evolved
    cat, _ = incr_index
    oidx, ourls = _oracle_for(final)
    compact_index(spark, cat, "v1")
    import os

    assert not os.path.isdir(cat.table_path("v1", "tombstones")) or not any(
        f.endswith(".parquet")
        for f in os.listdir(cat.table_path("v1", "tombstones"))
    )
    segs = spark.read.parquet(cat.table_path("v1", "segments"))
    assert segs.agg(F.max("generation")).collect()[0][0] == 0
    _check_all_queries(spark, cat.index_dir("v1"), oidx, ourls, "compacted")


def test_compaction_grace_window_for_pinned_readers(
    spark, evolved, tmp_path_factory
):
    """A searcher that pinned its snapshot BEFORE compaction must finish its
    queries after the swap (superseded dirs go to gc_pending, deleted only
    on the next writer entry — never under a live reader)."""
    import os

    from osu_elastic_indexer_spark.operators.serve import LocalSearcher

    base_p, final_p, _base, _final = evolved
    root = str(tmp_path_factory.mktemp("idx_grace"))
    cat = Catalog(root)
    build_index(spark, spark.read.parquet(base_p), cat, "v1")
    incremental_update(spark, spark.read.parquet(final_p), cat, "v1")

    pinned = LocalSearcher(cat.index_dir("v1"))
    before = pinned.search("zebra", 10)
    compact_index(spark, cat, "v1")
    # pinned reader still serves identical results from the old snapshot
    assert pinned.search("zebra", 10) == before
    m = cat.read_manifest("v1")
    assert m["gc_pending"], "compaction must defer deletion"
    for d in m["gc_pending"]:
        assert os.path.isdir(d), f"deleted under a pinned reader: {d}"
    # next writer entry drains the pending dirs
    incremental_update(spark, spark.read.parquet(final_p), cat, "v1")
    m2 = cat.read_manifest("v1")
    assert not m2.get("gc_pending")
    for d in m["gc_pending"]:
        assert not os.path.isdir(d)
    # a fresh searcher over the compacted index agrees
    assert LocalSearcher(cat.index_dir("v1")).search("zebra", 10) == before


def test_incrementals_after_compaction_keep_live_data(
    spark, evolved, tmp_path_factory
):
    """Regression (ADVICE r2, high): the post-commit version GC must never
    delete a versioned dir the NEW manifest still points at. After
    compact_index repoints segments/fwd/docmap/tombstones to *_vK,
    incremental commits only move dictionary/stats pointers — the second
    incremental after a compaction used to rmtree the live segments_vK."""
    import os

    base_p, final_p, _base, final = evolved
    root = str(tmp_path_factory.mktemp("idx_gc_live"))
    cat = Catalog(root)
    build_index(spark, spark.read.parquet(base_p), cat, "v1")
    compact_index(spark, cat, "v1")
    seg_dir = cat.table_path("v1", "segments")
    assert seg_dir.rpartition("_v")[2].isdigit()  # pinned at a versioned dir

    # two incrementals past the compaction: first moves ver to K+1 (grace
    # window holds), second to K+2 (the old bug's deletion point)
    incremental_update(spark, spark.read.parquet(final_p), cat, "v1")
    extra = evolve_corpus(final, n_new=50, n_update=10, n_flip=5)
    extra_p = os.path.join(root, "extra.parquet")
    pq.write_table(extra, extra_p)
    incremental_update(spark, spark.read.parquet(extra_p), cat, "v1")

    assert cat.table_path("v1", "segments") == seg_dir
    assert os.path.isdir(seg_dir), "live segments dir was GC'd"
    oidx, ourls = _oracle_for(extra)
    _check_all_queries(spark, cat.index_dir("v1"), oidx, ourls, "post-compact-gc")


def test_orphan_gen_cleanup_inside_versioned_dirs(
    spark, evolved, tmp_path_factory
):
    """Regression (ADVICE r2, medium): a crashed incremental AFTER a
    compaction stages gen=N inside the pointed-at versioned dirs
    (segments_vK/gen=1, tombstones_vK/gen=1); clean_orphan_generations must
    remove those exactly like plain-name gen orphans."""
    import os

    from osu_elastic_indexer_spark.sources.catalog import (
        clean_orphan_generations,
    )

    base_p, _fp, _base, _final = evolved
    root = str(tmp_path_factory.mktemp("idx_vgen_orphan"))
    cat = Catalog(root)
    build_index(spark, spark.read.parquet(base_p), cat, "v1")
    compact_index(spark, cat, "v1")
    idx = cat.index_dir("v1")
    m = cat.read_manifest("v1")
    assert m["generations"] == 1

    # simulate a crashed incremental: stale gen=1 staged inside the
    # pointed-at versioned tables, plus one in a plain-named table
    planted = []
    for table in ("segments", "tombstones"):
        d = os.path.join(cat.table_path("v1", table), "gen=1")
        os.makedirs(d, exist_ok=True)
        open(os.path.join(d, "part-0.parquet"), "wb").close()
        planted.append(d)

    removed = clean_orphan_generations(idx)
    for d in planted:
        assert not os.path.isdir(d), f"stale orphan survived: {d}"
        assert d in removed


def test_dictionary_delta_write_is_batch_sized(
    spark, evolved, tmp_path_factory
):
    """Scale contract (VERDICT r2 #3): an incremental commit writes
    dictionary rows proportional to the BATCH's vocabulary, not the
    corpus's — gen=1 carries only the touched terms, and the merged read
    (sum of deltas, stable term_ids) equals the df a full rebuild computes."""
    import os

    from osu_elastic_indexer_spark.operators.dictionary import (
        read_dictionary_merged,
    )

    base_p, final_p, _base, final = evolved
    root = str(tmp_path_factory.mktemp("idx_dictdelta"))
    cat = Catalog(root)
    build_index(spark, spark.read.parquet(base_p), cat, "v1")
    m = incremental_update(spark, spark.read.parquet(final_p), cat, "v1")
    idx = cat.index_dir("v1")

    gen0 = spark.read.parquet(f"{cat.table_path('v1', 'dictionary')}/gen=0")
    gen1_dir = f"{cat.table_path('v1', 'dictionary')}/gen=1"
    assert os.path.isdir(gen1_dir), "delta generation not written"
    gen1 = spark.read.parquet(gen1_dir)
    n_full, n_delta = gen0.count(), gen1.count()
    # the evolved batch touches a small fraction of the corpus vocabulary
    assert n_delta < n_full * 0.6, (n_delta, n_full)

    # merged dictionary == the df a from-scratch build of `final` computes
    root2 = str(tmp_path_factory.mktemp("idx_dictref"))
    cat2 = Catalog(root2)
    build_index(spark, spark.read.parquet(final_p), cat2, "v1")
    merged = {
        r.term: r.df
        for r in read_dictionary_merged(spark, idx)
        .filter(F.col("df") > 0)
        .collect()
    }
    ref = {
        r.term: r.df
        for r in read_dictionary_merged(spark, cat2.index_dir("v1")).collect()
    }
    assert merged == ref
    # vocab counters stay consistent with the merged view
    assert m["counters"]["terms"] == read_dictionary_merged(spark, idx).count()


def test_dictionary_fold_across_many_generations(spark, tmp_path_factory):
    """Five successive incremental generations: term lookups, served
    queries, and the merged dictionary must stay exact through the whole
    delta chain (the fold depth the single-batch tests never reach), and a
    compaction at the end folds back to one generation with identical
    results."""
    import os

    from osu_elastic_indexer_spark.operators.dictionary import (
        lookup_term_info,
        read_dictionary_merged,
    )

    corpus = generate_documents(500)
    root = str(tmp_path_factory.mktemp("idx_deep"))
    p0 = os.path.join(root, "c0.parquet")
    pq.write_table(corpus, p0)
    cat = Catalog(root)
    build_index(spark, spark.read.parquet(p0), cat, "v1")
    for g in range(1, 5):
        corpus = evolve_corpus(corpus, n_new=40, n_update=10, n_flip=5)
        pg = os.path.join(root, f"c{g}.parquet")
        pq.write_table(corpus, pg)
        incremental_update(spark, spark.read.parquet(pg), cat, "v1")
    m = cat.read_manifest("v1")
    assert m["generations"] == 5
    idx = cat.index_dir("v1")
    # the build and every commit write both dictionary tables in the same
    # generation (readers seek dict_by_term only)
    assert _gens(idx, "dictionary") == _gens(idx, "dict_by_term") == list(range(5))

    oidx, ourls = _oracle_for(corpus)
    # merged dictionary == oracle df for every live term
    merged = {
        r.term: r.df
        for r in read_dictionary_merged(spark, idx)
        .filter(F.col("df") > 0)
        .collect()
    }
    odf = {t: len(pl) for t, pl in oidx.postings.items()}
    assert merged == odf
    # the pruned seek path agrees with the merged read for a probe set
    probe = list(merged)[:25] + ["zzz-absent"]
    info = lookup_term_info(idx, probe)
    for t in probe[:25]:
        assert info[t][1] == merged[t], t
    assert "zzz-absent" not in info
    # end-to-end ranking across the 5-generation index, then post-compaction
    _check_all_queries(spark, idx, oidx, ourls, "gen5")
    compact_index(spark, cat, "v1")
    assert cat.read_manifest("v1")["generations"] == 1
    assert _gens(idx, "dictionary") == _gens(idx, "dict_by_term") == [0]
    _check_all_queries(spark, idx, oidx, ourls, "gen5-compacted")


def _gens(idx: str, table: str) -> list[int]:
    """The committed generation numbers of ``table`` holding parquet."""
    import os

    from osu_elastic_indexer_spark.operators.state import _parquet_files
    from osu_elastic_indexer_spark.sources.catalog import committed_gen_paths

    return [
        int(os.path.basename(p).split("=")[1])
        for p in committed_gen_paths(idx, table) if _parquet_files((p,))
    ]


def _versioned_dirs(idx: str) -> dict[str, list[str]]:
    """table -> its ``{table}`` / ``{table}_vK`` dirs on disk."""
    import os

    from osu_elastic_indexer_spark.sources.catalog import TABLES

    out: dict[str, list[str]] = {}
    for name in sorted(os.listdir(idx)):
        base, _, k = name.rpartition("_v")
        if name in TABLES or (base in TABLES and k.isdigit()):
            out.setdefault(base if base in TABLES else name, []).append(name)
    return out


def test_writers_refuse_legacy_on_disk_format(spark, evolved, tmp_path_factory):
    """A writer applied to an older-format index must REFUSE (rebuild
    required): staging gen= dirs inside a legacy flat dictionary layout
    would make committed_gen_paths drop the flat base files — the whole
    pre-existing vocabulary silently vanishes."""
    base_p, final_p, _b, _f = evolved
    root = str(tmp_path_factory.mktemp("idx_fmt"))
    cat = Catalog(root)
    build_index(spark, spark.read.parquet(base_p), cat, "v1")
    m = cat.read_manifest("v1")
    m["format"] = 3  # simulate an index left by the previous engine version
    cat.write_manifest("v1", m)
    with pytest.raises(RuntimeError, match="on-disk format"):
        incremental_update(spark, spark.read.parquet(final_p), cat, "v1")
    with pytest.raises(RuntimeError, match="on-disk format"):
        compact_index(spark, cat, "v1")


def test_metric_tail_seeks_from_end(tmp_path):
    """read_metric_events(last=N) must return the LAST N events and survive
    windows that start mid-line (seek-from-end tailing)."""
    import json as _json
    import os

    from osu_elastic_indexer_spark.sources.catalog import (
        emit_metric_event,
        read_metric_events,
    )

    idx = str(tmp_path)
    for i in range(500):
        emit_metric_event(idx, "incremental_commit", generation=i,
                          pad="x" * 100)
    evs = read_metric_events(idx, last=7)
    assert [e["generation"] for e in evs] == list(range(493, 500))
    assert len(read_metric_events(idx)) == 500
    # a torn tail line (crashed writer) is skipped, not fatal
    with open(os.path.join(idx, "metrics.jsonl"), "a") as f:
        f.write('{"event": "torn')
    evs2 = read_metric_events(idx, last=3)
    assert [e["generation"] for e in evs2] == [497, 498, 499]


def test_metric_event_stream_per_batch(spark, evolved, tmp_path_factory):
    """U2 granularity (VERDICT r2 missing #2): every commit appends ONE
    tagged event to metrics.jsonl — the per-batch DogStatsd counter stream
    a metrics sink consumes (reference tags each add/delete batch)."""
    from osu_elastic_indexer_spark.sources.catalog import read_metric_events

    base_p, final_p, _base, _final = evolved
    root = str(tmp_path_factory.mktemp("idx_metrics"))
    cat = Catalog(root)
    build_index(spark, spark.read.parquet(base_p), cat, "v1")
    incremental_update(spark, spark.read.parquet(final_p), cat, "v1")
    compact_index(spark, cat, "v1")

    evs = read_metric_events(cat.index_dir("v1"))
    kinds = [e["event"] for e in evs]
    assert kinds == ["full_build", "incremental_commit", "compact"]
    inc = evs[1]
    assert inc["adds"] > 0 and inc["deletes"] > 0
    assert inc["generation"] == 1 and inc["batch_terms"] > 0
    assert evs[0]["adds"] > 0 and evs[2]["bytes"] > 0
    # tail semantics
    assert [e["event"] for e in read_metric_events(cat.index_dir("v1"), 1)] == [
        "compact"
    ]


def test_counters_bytes_track_commits(spark, evolved, tmp_path_factory):
    """Regression (VERDICT r2 #5): counters.bytes must grow with each
    incremental generation's segment blobs and be recomputed (exactly, from
    live postings only) at compaction — not pinned at the gen-0 value."""
    base_p, final_p, _base, _final = evolved
    root = str(tmp_path_factory.mktemp("idx_bytes"))
    cat = Catalog(root)
    build_index(spark, spark.read.parquet(base_p), cat, "v1")
    b0 = cat.read_manifest("v1")["counters"]["bytes"]
    assert b0 > 0

    incremental_update(spark, spark.read.parquet(final_p), cat, "v1")
    b1 = cat.read_manifest("v1")["counters"]["bytes"]
    assert b1 > b0, "incremental commit must add the new gen's blob bytes"

    compact_index(spark, cat, "v1")
    m = cat.read_manifest("v1")
    b2 = m["counters"]["bytes"]
    # exact: recomputed from the rewritten segments
    expected = (
        spark.read.parquet(cat.table_path("v1", "segments"))
        .agg(F.sum(F.length("docs_blob") + F.length("tfs_blob")))
        .collect()[0][0]
    )
    assert b2 == int(expected)
    assert b2 < b1, "compaction drops dead postings' bytes"


def test_searcher_on_index_with_no_segments(spark, tmp_path_factory):
    """Regression (ADVICE r2, low): an index whose live corpus is empty
    (all docs deleted, compacted away) commits zero segment files; the
    searcher must serve empty results, not raise in pyarrow."""
    from osu_elastic_indexer_spark.operators.serve import LocalSearcher

    base = generate_documents(60)
    root = str(tmp_path_factory.mktemp("idx_empty"))
    import os

    base_p = os.path.join(root, "base.parquet")
    pq.write_table(base, base_p)
    cat = Catalog(root)
    docs = spark.read.parquet(base_p)
    build_index(spark, docs, cat, "v1")
    # delete every indexed url via the queue path (urls missing from source)
    indexed = spark.read.parquet(cat.table_path("v1", "docmap")).select("url")
    m = incremental_update(
        spark, docs.limit(0), cat, "v1", queue_urls=indexed
    )
    assert m["counters"]["docs"] == 0
    compact_index(spark, cat, "v1")
    s = LocalSearcher(cat.index_dir("v1"))
    assert s.search("zebra", 10) == []


def test_two_phase_cutover(spark, evolved, tmp_path_factory):
    """T9: pump-all --switch analog — build at snapshot, catch-up, swap."""
    base_p, final_p, _b, final = evolved
    root = str(tmp_path_factory.mktemp("idx_cutover"))
    cat = Catalog(root)
    cat.set_current_schema(None)
    backfill_with_switch(
        spark,
        spark.read.parquet(base_p),
        spark.read.parquet(final_p),
        cat,
        "v2",
    )
    assert cat.get_current_schema() == "v2"
    oidx, ourls = _oracle_for(final)
    _check_all_queries(spark, cat.current_index_dir(), oidx, ourls, "cutover")


def test_queue_path_explicit_urls(spark, evolved, tmp_path_factory):
    """S4/J2: queue-driven update — explicit url list resolved against the
    source; urls missing from the source become deletes."""
    base_p, _fp, base, _f = evolved
    root = str(tmp_path_factory.mktemp("idx_queue"))
    cat = Catalog(root)
    docs = spark.read.parquet(base_p)
    build_index(spark, docs, cat, "v1")
    # queue: 5 live urls (re-index, LWW no-op semantics) + 2 vanished urls
    live_urls = [
        u for u, l in zip(base["url"].to_pylist(), base["lang"].to_pylist())
        if l == "en"
    ][:5]
    gone = ["https://gone.test/1", "https://gone.test/2"]
    queue = spark.createDataFrame([(u,) for u in live_urls + gone], "url string")
    m = incremental_update(spark, docs, cat, "v1", queue_urls=queue)
    # re-indexed live urls stay served under their NEW docIDs; results match
    # an oracle over the unchanged corpus
    oidx, ourls = _oracle_for(base)
    assert m["counters"]["docs"] == oidx.n_docs
    _check_all_queries(spark, cat.index_dir("v1"), oidx, ourls, "queue")


def test_incremental_known_id_lookup_is_pruned(
    spark, evolved, tmp_path, monkeypatch
):
    """VERDICT r3 #2: known-id resolution must be a point lookup against the
    term-sorted dict_by_term projection with the batch vocabulary as an IN
    filter (read ∝ batch vocab x gens), not a scan of the whole committed
    dictionary per micro-batch."""
    base_p, final_p, _b, _f = evolved
    root = str(tmp_path / "idx")
    cat = Catalog(root)
    build_index(spark, spark.read.parquet(base_p), cat, "v1")

    import osu_elastic_indexer_spark.operators.dictionary as dict_mod

    calls = []
    orig = dict_mod.lookup_term_info

    def spy(index_dir, terms):
        calls.append(list(terms))
        return orig(index_dir, terms)

    monkeypatch.setattr(dict_mod, "lookup_term_info", spy)
    m = incremental_update(spark, spark.read.parquet(final_p), cat, "v1")
    assert m["generations"] == 2
    # the fast (pruned) path ran exactly once, on the batch vocabulary
    assert len(calls) == 1 and 0 < len(calls[0]) <= 100_000

    # and the term-sorted layout supports pushed-IN row-group pruning for
    # ANY reader (lookup_term_info itself seeks with pyarrow footer stats —
    # no Spark job — but the layout property is what makes both forms
    # O(probe), and this pins it)
    from osu_elastic_indexer_spark.sources.catalog import committed_gen_paths

    dfp = spark.read.parquet(
        *committed_gen_paths(cat.index_dir("v1"), "dict_by_term")
    ).filter(F.col("term").isin(sorted(calls[0])[:50]))
    plan = dfp._jdf.queryExecution().toString()
    assert "PushedFilters" in plan
    assert "term" in plan.split("PushedFilters")[-1]


def _committed_docmap(spark, cat) -> dict:
    """url -> doc_id over every committed docmap row (dead ones included)."""
    from osu_elastic_indexer_spark.sources.catalog import committed_gen_paths

    rows = spark.read.parquet(
        *committed_gen_paths(cat.index_dir("v1"), "docmap")
    ).select("url", "doc_id").collect()
    return {r.url: r.doc_id for r in rows}


def _gen_rows(cat, table: str, gen: int) -> list:
    """The rows of one committed generation of ``table``, sorted."""
    t = pq.read_table(f"{cat.table_path('v1', table)}/gen={gen}")
    return sorted(zip(*(t.column(c).to_pylist() for c in sorted(t.column_names))))


def test_docids_never_reused_after_compaction(spark, evolved, tmp_path_factory):
    """Dead docIDs are never handed out again: compaction drops the dead
    docmap rows, but the manifest's next_doc_id survives it, so a doc added
    after compacting away the highest-id doc gets an id above every id the
    index ever held."""
    base_p, _fp, base, _f = evolved
    root = str(tmp_path_factory.mktemp("idx_noreuse"))
    cat = Catalog(root)
    docs = spark.read.parquet(base_p)
    build_index(spark, docs, cat, "v1")
    ids = _committed_docmap(spark, cat)
    old_max = max(ids.values())
    top_url = next(u for u, d in ids.items() if d == old_max)

    idx = cat.index_dir("v1")
    # every commit keeps two stats dirs: the current one and the one it
    # superseded (the build's own empty state is the plain ``stats``)
    assert _versioned_dirs(idx)["stats"] == ["stats", "stats_v1"]
    queue = spark.createDataFrame([(top_url,)], "url string")
    m = incremental_update(
        spark, docs.filter(F.col("url") != top_url), cat, "v1", queue_urls=queue
    )
    assert m["counters"]["deletes_total"] == 1
    assert _versioned_dirs(idx)["stats"] == ["stats_v1", "stats_v2"]
    compact_index(spark, cat, "v1")
    assert top_url not in _committed_docmap(spark, cat)

    # the url comes back: its fresh id must not be the compacted-away one
    m = incremental_update(spark, docs, cat, "v1", queue_urls=queue)
    # compaction took v3 without moving stats: v2 is the superseded dir
    assert m["tables"]["stats"] == "stats_v4"
    assert _versioned_dirs(idx)["stats"] == ["stats_v2", "stats_v4"]
    assert _committed_docmap(spark, cat)[top_url] == old_max + 1
    assert m["counters"]["next_doc_id"] == old_max + 2
    oidx, ourls = _oracle_for(base)
    _check_all_queries(spark, cat.index_dir("v1"), oidx, ourls, "re-added")


def test_wide_vocabulary_branch_matches_fast_path(
    spark, evolved, tmp_path_factory, monkeypatch
):
    """A Spark-route batch vocabulary wider than KNOWN_ID_IN_MAX takes the
    distributed dictionary branch (the driver route always assigns term ids
    on the driver); it must commit exactly what the driver-resolved branch
    commits — manifest counters, dictionary generation rows, served
    answers — on an update+delete batch and on a delete-only batch."""
    import os
    import shutil

    import osu_elastic_indexer_spark.streaming.incremental as inc

    base_p, final_p, _base, final = evolved
    root = str(tmp_path_factory.mktemp("idx_wide"))
    fast_cat = Catalog(os.path.join(root, "fast"))
    build_index(spark, spark.read.parquet(base_p), fast_cat, "v1")
    shutil.copytree(os.path.join(root, "fast"), os.path.join(root, "wide"))
    wide_cat = Catalog(os.path.join(root, "wide"))

    # delete-only batch: queued live urls that are gone from the source
    live = [
        u for u, lang, txt in zip(
            final["url"].to_pylist(), final["lang"].to_pylist(),
            final["text"].to_pylist(),
        )
        if lang == "en" and txt
    ]
    gone = live[:3]
    rest = final.filter(
        pc.invert(pc.is_in(final["url"], value_set=pa.array(gone)))
    )
    rest_p = os.path.join(root, "rest.parquet")
    pq.write_table(rest, rest_p)

    def run(cat):
        return [
            incremental_update(spark, spark.read.parquet(final_p), cat, "v1"),
            incremental_update(
                spark, spark.read.parquet(rest_p), cat, "v1",
                queue_urls=spark.createDataFrame([(u,) for u in gone], "url string"),
            ),
        ]

    fast = run(fast_cat)
    with monkeypatch.context() as mp:
        _driver_bound(mp, 0)
        mp.setattr(inc, "KNOWN_ID_IN_MAX", 5)
        wide = run(wide_cat)
    for gen, (mf, mw) in enumerate(zip(fast, wide), start=1):
        assert mw["counters"] == mf["counters"], gen
        pf, pw = (x["phases"][f"incremental_gen{gen}"] for x in (mf, mw))
        assert (pf["route"], pw["route"]) == ("driver", "spark")
        assert pw["batch_terms"] == pf["batch_terms"] > 5
        assert (pw["adds"], pw["deletes"]) == (pf["adds"], pf["deletes"])
        for table in ("dictionary", "dict_by_term"):
            assert _gen_rows(wide_cat, table, gen) == _gen_rows(fast_cat, table, gen)
    assert (pw["adds"], pw["deletes"]) == (0, 3)
    oidx, ourls = _oracle_for(rest)
    _check_all_queries(spark, wide_cat.index_dir("v1"), oidx, ourls, "wide")


def test_legacy_manifest_and_cursor_edge_cases(spark, evolved, tmp_path_factory):
    """(1) A manifest without next_doc_id (an index from before the counter)
    assigns the same docIDs through the fallback scan and gains the counter
    at its next commit. (2) A batch of purely non-indexable rows commits no
    generation but still advances the cursor. (3) A queued url missing from
    the source is tombstoned."""
    import os
    import shutil

    base_p, final_p, _base, final = evolved
    root = str(tmp_path_factory.mktemp("idx_legacy"))
    cat = Catalog(os.path.join(root, "new"))
    build_index(spark, spark.read.parquet(base_p), cat, "v1")
    shutil.copytree(os.path.join(root, "new"), os.path.join(root, "legacy"))
    legacy = Catalog(os.path.join(root, "legacy"))
    m = legacy.read_manifest("v1")
    del m["counters"]["next_doc_id"]
    legacy.write_manifest("v1", m)

    m_new = incremental_update(spark, spark.read.parquet(final_p), cat, "v1")
    m_old = incremental_update(spark, spark.read.parquet(final_p), legacy, "v1")
    assert _committed_docmap(spark, legacy) == _committed_docmap(spark, cat)
    assert m_old["counters"] == m_new["counters"]

    # (2) brand-new urls, all non-English: nothing to add, nothing to delete
    extra = evolve_corpus(final, n_new=5, n_update=0, n_flip=0)
    langs = extra["lang"].to_pylist()
    langs[final.num_rows:] = ["de"] * 5
    extra = extra.set_column(
        extra.column_names.index("lang"), "lang", pa.array(langs, pa.string())
    )
    extra_p = os.path.join(root, "extra.parquet")
    pq.write_table(extra, extra_p)
    m1 = incremental_update(spark, spark.read.parquet(extra_p), cat, "v1")
    assert m1["generations"] == m_new["generations"]
    assert m1["counters"] == m_new["counters"]
    assert m1["cursor"] > m_new["cursor"]

    # (3) queue a live url the source no longer has
    ids = _committed_docmap(spark, cat)
    url = next(u for u in sorted(ids) if u.startswith("https://example-new"))
    rest = spark.read.parquet(extra_p).filter(F.col("url") != url)
    m3 = incremental_update(
        spark, rest, cat, "v1",
        queue_urls=spark.createDataFrame([(url,)], "url string"),
    )
    gen = m1["generations"]
    assert m3["generations"] == gen + 1
    assert m3["counters"]["deletes_total"] == m1["counters"]["deletes_total"] + 1
    assert m3["counters"]["docs"] == m1["counters"]["docs"] - 1
    assert _gen_rows(cat, "tombstones", gen) == [(ids[url],)]


def test_commit_jobs_named_by_phase(
    spark, evolved, tmp_path_factory, monkeypatch
):
    """Every Spark job of a commit on the Spark route (the batch is over
    the driver bound), and of a compaction after it, carries a job
    description naming its phase; the manifest's phase entry records
    per-phase seconds, and the caller's job description is restored."""
    base_p, final_p, _b, _f = evolved
    root = str(tmp_path_factory.mktemp("idx_phases"))
    cat = Catalog(root)
    build_index(spark, spark.read.parquet(base_p), cat, "v1")
    _driver_bound(monkeypatch, 0)
    sc = spark.sparkContext
    docs = spark.read.parquet(final_p)
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    for write, label, entry, phases in (
        (
            lambda: incremental_update(spark, docs, cat, "v1"),
            "incremental gen=1", "incremental_gen1",
            {"tombstones", "forward", "dictionary", "segments"},
        ),
        (
            lambda: compact_index(spark, cat, "v1"),
            "compact", "compact", {"forward", "dictionary", "segments"},
        ),
    ):
        before = set(tracker.getJobIdsForGroup(None))
        sc.setJobDescription("caller")
        try:
            m = write()
            assert sc.getLocalProperty("spark.job.description") == "caller"
        finally:
            sc.setJobDescription(None)
        names = {}
        for j in set(tracker.getJobIdsForGroup(None)) - before:
            d = store.job(j).description()
            names[j] = d.get() if d.isDefined() else None
        assert names and all(
            d is not None and d.startswith(f"{label}: ")
            and d.split(": ", 1)[1] in phases
            for d in names.values()
        ), names
        assert {d.split(": ", 1)[1] for d in names.values()} == phases
        rec = m["phases"][entry]
        for p in phases:
            assert rec[f"{p}_s"] >= 0
    rec = m["phases"]["incremental_gen1"]
    assert rec["route"] == "spark"
    assert rec["wall_sec"] >= 0


def test_driver_tables_run_no_python_tasks(spark, tmp_path):
    """A commit's driver-held tables — an absent table read as empty (the
    first commit's tombstones), the dictionary delta, the staging offsets —
    ship to the JVM as Arrow batches: scanning them runs no Python worker.
    A ``createDataFrame`` of a Python list is a Python RDD, one Python
    task per core on every scan."""

    def lineage(df):
        return df._jdf.queryExecution().toRdd().toDebugString()

    schema = "term_id bigint, term string, df bigint"
    rows = [(3, "b", 2), (1, "a", -1)]
    assert "PythonRDD" in lineage(spark.createDataFrame(rows, schema))
    df = driver_frame(spark, rows, schema)
    assert df.schema.simpleString() == "struct<term_id:bigint,term:string,df:bigint>"
    assert sorted(tuple(r) for r in df.collect()) == sorted(rows)
    empty = _read_committed(spark, str(tmp_path), "tombstones", TOMB_SCHEMA, pinned=True)
    assert empty.columns == ["doc_id"] and empty.count() == 0
    assert driver_frame(spark, [], "pid int, off bigint").count() == 0
    for d in (df, empty):
        assert "PythonRDD" not in lineage(d), lineage(d)


def _driver_bound(monkeypatch, rows: int) -> None:
    """Set the driver route's row bound (``DRIVER_BATCH_ROWS``) for one
    test: a batch of more rows takes the Spark route."""
    import osu_elastic_indexer_spark.streaming.incremental as inc

    monkeypatch.setattr(inc, "DRIVER_BATCH_ROWS", rows)


def _with_rank(tbl):
    """The fixture corpus plus an integer column to declare numeric."""
    ranks = [len(u) % 7 for u in tbl["url"].to_pylist()]
    return tbl.append_column("rank", pa.array(ranks, pa.int64()))


@pytest.mark.parametrize("positions", [False, True], ids=["v1", "v2"])
def test_driver_and_spark_routes_commit_identical_generations(
    spark, tmp_path, monkeypatch, positions
):
    """One cursor batch (off a file scan) committed through the driver
    route and through the Spark route writes the same generation rows —
    fwd, docmap, segments (blobs, block metadata, positions), tombstones,
    dictionary, dict_by_term — the same stats row and the same manifest
    counters and cursor. The driver's pyarrow files read back through
    Spark's pinned schemas (warc_ts a UTC-adjusted timestamp) and through
    ``LocalSearcher``. The Spark side's bound is one row (v1) or one html
    byte (v2) short of the batch, so a bound itself picks the route."""
    import os
    import shutil

    from pyspark.sql.types import TimestampType

    import osu_elastic_indexer_spark.streaming.incremental as inc
    from osu_elastic_indexer_spark.operators.build import (
        FWD_SCHEMA,
        SEGMENT_SCHEMA,
        SEGMENT_SCHEMA_POS,
    )
    from osu_elastic_indexer_spark.operators.serve import LocalSearcher
    from osu_elastic_indexer_spark.streaming.incremental import DOCMAP_SCHEMA

    base = _with_rank(generate_documents(300))
    final = _with_rank(
        evolve_corpus(base.drop(["rank"]), n_new=40, n_update=10, n_flip=5, seed=3)
    )
    base_p, final_p = str(tmp_path / "base.parquet"), str(tmp_path / "final.parquet")
    pq.write_table(base, base_p)
    pq.write_table(final, final_p)
    build_index(
        spark, spark.read.parquet(base_p), Catalog(str(tmp_path / "driver")), "v1",
        keyword_fields=["lang"], numeric_fields=["rank"], positions=positions,
    )
    shutil.copytree(str(tmp_path / "driver"), str(tmp_path / "spark"))
    cats = {r: Catalog(str(tmp_path / r)) for r in ("driver", "spark")}
    n_batch = 40 + 10 + 5
    ms = {"driver": incremental_update(spark, spark.read.parquet(final_p), cats["driver"], "v1")}
    html_bytes = ms["driver"]["phases"]["incremental_gen1"]["collected_html_bytes"]
    with monkeypatch.context() as mp:
        if positions:
            mp.setattr(inc, "DRIVER_BATCH_HTML_BYTES", html_bytes - 1)
        else:
            _driver_bound(mp, n_batch - 1)
        ms["spark"] = incremental_update(
            spark, spark.read.parquet(final_p), cats["spark"], "v1"
        )
    for route, m in ms.items():
        ph = m["phases"]["incremental_gen1"]
        assert ph["route"] == route and ph["collected_rows"] == n_batch
        assert (ph["collected_html_bytes"] > 0) == (route == "driver")
        assert ph["input_staged"] is False
        assert ph["adds"] > 0 and ph["deletes"] > 0
    assert ms["driver"]["counters"] == ms["spark"]["counters"]
    assert ms["driver"]["cursor"] == ms["spark"]["cursor"]

    d, s = cats["driver"], cats["spark"]
    for table in ("fwd", "docmap", "segments", "tombstones", "dictionary", "dict_by_term"):
        assert _gen_rows(d, table, 1) == _gen_rows(s, table, 1), table
    stats = [
        pq.read_table(c.table_path("v1", "stats")).to_pylist() for c in (d, s)
    ]
    assert stats[0] == stats[1]

    # the pyarrow-written generation through Spark's pinned schemas
    pinned = {
        "fwd": FWD_SCHEMA + (", poss array<bigint>" if positions else ""),
        "docmap": DOCMAP_SCHEMA + ", lang string, rank double",
        "segments": SEGMENT_SCHEMA_POS if positions else SEGMENT_SCHEMA,
    }
    for table, schema in pinned.items():
        rows = [
            sorted(
                spark.read.schema(schema)
                .parquet(f"{c.table_path('v1', table)}/gen=1")
                .collect()
            )
            for c in (d, s)
        ]
        assert rows[0] == rows[1] and rows[0], table
    dm = spark.read.parquet(f"{d.table_path('v1', 'docmap')}/gen=1")
    assert dm.schema["warc_ts"].dataType == TimestampType()

    searchers = [LocalSearcher(c.index_dir("v1")) for c in (d, s)]
    answered = 0
    for _qid, q, _k in reference_queries():
        got = [sr.search(q, 10) for sr in searchers]
        assert got[0] == got[1], q
        answered += bool(got[0])
        spec = {"should": q.split(), "filter_term": {"lang": ["en"]}}
        assert searchers[0].search_bool(spec, 10) == searchers[1].search_bool(spec, 10)
        if positions:
            assert searchers[0].search_phrase(q, None, 10) == searchers[1].search_phrase(q, None, 10)
    assert answered > len(reference_queries()) // 2
    for field in ("warc_ts", "rank"):
        got = [sr.search_sort(field, 20) for sr in searchers]
        assert got[0] == got[1] and got[0], field
    if not positions:
        oidx, ourls = _oracle_for(final)
        _check_all_queries(spark, d.index_dir("v1"), oidx, ourls, "driver route")


def test_driver_route_commit_runs_two_jobs_no_python(
    spark, evolved, tmp_path, monkeypatch
):
    """A commit on the driver route runs at most two Spark jobs — the
    html-free route probe and the adds' collect, which carries the
    tombstone lookup — each named by its phase, and neither runs a Python
    worker: the build's kernels run in the driver process. A batch
    vocabulary wider than KNOWN_ID_IN_MAX (patched to 5) changes nothing:
    the driver route assigns its term ids on the driver."""
    import shutil

    import osu_elastic_indexer_spark.streaming.incremental as inc

    base_p, final_p, _b, _f = evolved
    build_index(spark, spark.read.parquet(base_p), Catalog(str(tmp_path / "idx")), "v1")
    shutil.copytree(str(tmp_path / "idx"), str(tmp_path / "wide"))
    docs = spark.read.parquet(final_p)  # its schema read is not the commit's
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    for name, known_id_in_max in (("idx", inc.KNOWN_ID_IN_MAX), ("wide", 5)):
        before = set(tracker.getJobIdsForGroup(None))
        with monkeypatch.context() as mp:
            mp.setattr(inc, "KNOWN_ID_IN_MAX", known_id_in_max)
            m = incremental_update(spark, docs, Catalog(str(tmp_path / name)), "v1")
        jobs = set(tracker.getJobIdsForGroup(None)) - before
        assert m["phases"]["incremental_gen1"]["route"] == "driver"
        assert m["phases"]["incremental_gen1"]["batch_terms"] > 5
        assert 0 < len(jobs) <= 2, (name, jobs)
        names = {store.job(j).description().get() for j in jobs}
        assert names <= {"incremental gen=1: forward", "incremental gen=1: tombstones"}
        execs = spark._jsparkSession.sharedState().statusStore().executionsList()
        plans = [
            e.physicalPlanDescription()
            for e in (execs.apply(i) for i in range(execs.size()))
            if any(e.jobs().contains(j) for j in jobs)
        ]
        assert plans
        for plan in plans:
            for node in ("Python", "MapInArrow", "MapInPandas", "ArrowEval"):
                assert node not in plan, (name, plan)
