"""Physical-plan assertions (SURVEY.md §4): the optimizations we rely on must
actually appear in the plan — filter pushdown to the parquet scan, broadcast
joins for dims, TakeOrderedAndProject for top-N (no global sort), column
pruning of unused blobs."""

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_cursor_filter_pushed_to_scan(spark):
    df = entry_mod.queries()["s1_cursor_scan"](spark, SF)
    plan = df._jdf.queryExecution().toString()
    assert "PushedFilters" in plan
    assert "GreaterThan(event_id,5000)" in plan.replace(" ", "")


def test_j1_broadcasts_dimensions(spark):
    df = entry_mod.queries()["j1_three_way_join"](spark, SF)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2  # customer and nation
    assert "SortMergeJoin" not in plan


def test_o2_topn_is_take_ordered(spark):
    df = entry_mod.queries()["o2_sorted_topn"](spark, SF)
    assert "TakeOrderedAndProject" in _plan(df)


def test_bm25_brute_no_cartesian_beyond_stats(spark):
    """The only cross join in the brute scorer is the broadcast of the
    1-row stats — everything else is (broadcast) hash joins."""
    df = entry_mod.queries()["ft_bm25_topk"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_column_pruning_docmap_scan(spark, corpus_path):
    """Reading only (url, warc_ts) from the corpus must prune html from the
    parquet ReadSchema — blobs never move unless needed."""
    df = spark.read.parquet(corpus_path).select("url", "warc_ts")
    plan = df._jdf.queryExecution().toString()
    assert "html" not in plan.split("ReadSchema")[-1]


def test_spimi_dict_join_flips_over_threshold(spark, tmp_path):
    """build_segments_spimi must FORCE-broadcast the dictionary only under
    the threshold; above it (10^8 terms at corpus scale) no broadcast hint is
    attached and the join falls back to Catalyst's size-based choice — with
    auto-broadcast disabled (emulating an over-the-size-limit dictionary)
    that is a shuffle join. Forcing the broadcast unconditionally was the
    scale-killer this guards against."""
    from osu_elastic_indexer_spark.operators.build import build_segments_spimi

    fwd = spark.createDataFrame(
        [(0, 3, ["aa", "bb"], [1, 2]), (1, 2, ["bb", "cc"], [1, 1])],
        "doc_id bigint, dl bigint, terms array<string>, tfs array<bigint>",
    )
    norms_path = str(tmp_path / "fwd_norms")
    fwd.write.parquet(norms_path)
    fwdr = spark.read.parquet(norms_path)
    dictionary = spark.createDataFrame(
        [(0, "bb", 2), (1, "aa", 1), (2, "cc", 1)],
        "term_id bigint, term string, df bigint",
    )

    def join_plan(dict_broadcast_max):
        segs = build_segments_spimi(
            spark, fwdr, 2, 10, norms_path, 0, dictionary,
            dict_broadcast_max=dict_broadcast_max,
        )
        return segs._jdf.queryExecution().executedPlan().toString()

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        assert "BroadcastHashJoin" in join_plan(5_000_000)  # hint forces it
        assert "BroadcastHashJoin" not in join_plan(0)      # no forced hint
    finally:
        spark.conf.set(key, old)


def test_dict_by_term_lookup_is_pruned_seek(spark, tmp_path):
    """Query-time term lookups must hit the term-SORTED dict_by_term
    projection with the IN filter pushed to the scan (the term-seek analog;
    the primary dictionary is term_id-ordered so a term filter on it prunes
    nothing), and the projection must be term-sorted within files so parquet
    min/max stats actually cut row groups."""
    import pyarrow.parquet as pq_
    from pyspark.sql import functions as F

    from osu_elastic_indexer_spark.operators.build import build_index
    from osu_elastic_indexer_spark.sources.catalog import Catalog
    from osu_elastic_indexer_spark.sources.fixtures import write_corpus

    from osu_elastic_indexer_spark.sources.catalog import committed_gen_paths

    p = write_corpus(str(tmp_path / "c.parquet"), 300)
    cat = Catalog(str(tmp_path / "idx"))
    build_index(spark, spark.read.parquet(p), cat, "v1")
    bt_paths = committed_gen_paths(cat.index_dir("v1"), "dict_by_term")
    scan = spark.read.parquet(*bt_paths).filter(F.col("term").isin(["zebra"]))
    plan = scan._jdf.queryExecution().toString()
    assert "PushedFilters" in plan and "term" in plan.split("PushedFilters")[-1]
    # physically sorted by term within every file
    import glob
    import os as _os

    for gen_dir in bt_paths:
        for f in glob.glob(_os.path.join(gen_dir, "*.parquet")):
            terms = pq_.read_table(f, columns=["term"]).column("term").to_pylist()
            assert terms == sorted(terms), f
    # projection is consistent with the primary dictionary
    d1 = spark.read.parquet(*committed_gen_paths(cat.index_dir("v1"), "dictionary"))
    d2 = spark.read.parquet(*bt_paths)
    assert d1.count() == d2.count()
    assert d1.select("term", "term_id").exceptAll(
        d2.select("term", "term_id")
    ).count() == 0


def test_ann_index_scans_are_partition_pruned(spark, tmp_path):
    """The materialized ANN structures must answer queries with PARTITION
    pruning: the IVF probe is a PartitionFilters entry on the stored cid
    column (and only the probed cells' files are listed), likewise the LSH
    probe on the stored bucket column — never a full-corpus scan with a
    computed-expression filter."""
    import numpy as np
    from pyspark.sql import functions as F

    from osu_elastic_indexer_spark.operators.ann_index import (
        build_ann_index,
        ivf_topk_indexed,
        lsh_topk_indexed,
        read_ann_meta,
    )

    rs = np.random.RandomState(3)
    rows = [
        (i, [float(x) for x in rs.standard_normal(8)]) for i in range(200)
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    idx = str(tmp_path / "ann")
    build_ann_index(spark, emb, idx, bits=4, stride=40)
    assert read_ann_meta(idx)["dim"] == 8
    q = rows[0][1]

    ivf_plan = ivf_topk_indexed(
        spark, idx, q, 5, nprobe=2
    )._jdf.queryExecution().toString()
    assert "PartitionFilters" in ivf_plan
    assert "cid" in ivf_plan.split("PartitionFilters")[-1].split("]")[0]

    lsh_plan = lsh_topk_indexed(
        spark, idx, q, 5, probes=3
    )._jdf.queryExecution().toString()
    assert "bucket" in lsh_plan.split("PartitionFilters")[-1].split("]")[0]

    # pruning is real: the pruned candidate set is a strict subset
    n_probed = (
        spark.read.parquet(f"{idx}/ivf")
        .filter(F.col("cid").isin([0]))
        .count()
    )
    assert 0 < n_probed < 200


def test_segments_scan_prunes_by_term_id(spark, tmp_path):
    """Query-time term_id IN (...) must reach the segments scan as a pushed
    filter (the Lucene term-seek analog)."""
    from pyspark.sql import functions as F

    from osu_elastic_indexer_spark.operators.build import build_index
    from osu_elastic_indexer_spark.sources.catalog import Catalog
    from osu_elastic_indexer_spark.sources.fixtures import write_corpus

    p = write_corpus(str(tmp_path / "c.parquet"), 300)
    cat = Catalog(str(tmp_path / "idx"))
    build_index(spark, spark.read.parquet(p), cat, "v1")
    segs = spark.read.parquet(cat.table_path("v1", "segments")).filter(
        F.col("term_id").isin([1, 2, 3])
    )
    plan = segs._jdf.queryExecution().toString()
    assert "PushedFilters" in plan and "term_id" in plan.split("PushedFilters")[-1]


def test_near_dup_pairs_indexed_is_single_exchange_no_join(spark, tmp_path):
    """VERDICT r3 #1: pair generation over the stored LSH table must be a
    grouped pass, not a bucket self-join — a self-join hash-exchanges the
    raw embedding vectors on BOTH sides (2x full-corpus shuffle at scale).
    The accepted shape is Scan -> one Exchange(bucket) ->
    FlatMapGroupsInPandas, with pairs emitted in-worker."""
    import numpy as np

    from osu_elastic_indexer_spark.operators.ann_index import (
        build_ann_index,
        near_dup_pairs_indexed,
    )

    rs = np.random.RandomState(5)
    rows = [
        (i, [float(x) for x in rs.standard_normal(8)]) for i in range(150)
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    idx = str(tmp_path / "ann")
    build_ann_index(spark, emb, idx, bits=4, stride=40)

    plan = near_dup_pairs_indexed(
        spark, idx, 0.5
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "FlatMapGroupsInPandas" in plan, plan
    # the embedding column crosses the wire exactly once: one exchange
    assert plan.count("Exchange") == 1, plan


def test_phrase_verify_joins_are_broadcast_pinned(spark, tmp_path):
    """VERDICT r4 #1: the phrase verify joins (candidates -> docmap ->
    SOURCE) must broadcast the candidate side of BOTH joins — a sort-merge
    fallback would shuffle the full (url, html) corpus at scale. For a
    normal phrase the executed plan must show two BroadcastHashJoins and
    no SortMergeJoin / Exchange on the source scan side. The candidates
    ship back as a driver-held table, so a phrase with none (a needle that
    never meets "the" in this corpus) plans no join and no source scan at
    all."""
    import pyarrow.parquet as pq

    from osu_elastic_indexer_spark.functions.textprep import (
        extract_text,
        tokenize,
    )
    from osu_elastic_indexer_spark.operators.boolquery import phrase_topk
    from osu_elastic_indexer_spark.operators.build import build_index
    from osu_elastic_indexer_spark.sources.catalog import Catalog
    from osu_elastic_indexer_spark.sources.fixtures import write_corpus

    p = write_corpus(str(tmp_path / "c.parquet"), 300)
    cat = Catalog(str(tmp_path / "idx"))
    source = spark.read.parquet(p)
    build_index(spark, source, cat, "v1")
    empty = _plan(phrase_topk(
        spark, cat.index_dir("v1"), source, [(0, "needleunique the")], k=5
    ))
    assert "Join" not in empty and "FileScan" not in empty, empty
    tbl = pq.read_table(p, columns=["html", "lang"])
    html = next(
        h for h, lang in zip(tbl["html"].to_pylist(), tbl["lang"].to_pylist())
        if lang == "en"
    )
    phrase = " ".join(tokenize(extract_text(html))[2:4])
    df = phrase_topk(spark, cat.index_dir("v1"), source, [(0, phrase)], k=5)
    assert df.collect()
    plan = _plan(df)
    # both verify joins broadcast with the CANDIDATE side as build
    # (BuildLeft: pin(cands)⋈docmap, pin(cands⋈docmap)⋈source); a
    # sort-merge or shuffled-hash fallback anywhere would mean the
    # docmap/source side got exchanged
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert plan.count("BuildLeft") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan


def _assert_ships_queries(df) -> None:
    """The per-query shape ships queries, not index data: one Python
    map-in-Arrow over local query rows (a Range), no segments scan and no
    exchange of anything."""
    plan = _plan(df)
    assert plan.count("MapInArrow") == 1, plan
    assert "Range" in plan, plan
    assert "FileScan" not in plan, plan
    assert "Exchange" not in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan


def _docpart_call(spark, monkeypatch, call):
    """Run one docpart ``call`` -> (its result rows, the physical plans of
    the SQL executions it ran, the column lists its cell reads requested).
    The cell body is also run in-process, under a ``read_row_groups``
    spy, on every cell the driver planned — the same body the job runs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from osu_elastic_indexer_spark.operators import boolquery as bq

    real_body, real_read = bq._cell_body, pq.ParquetFile.read_row_groups
    requested = []

    def read(self, groups, columns=None, **kw):
        requested.append(list(columns))
        return real_read(self, groups, columns=columns, **kw)

    def spy_body(state, cells, score, positions):
        body = real_body(state, cells, score, positions)
        with monkeypatch.context() as mp:
            mp.setattr(pq.ParquetFile, "read_row_groups", read)
            out = list(body([pa.record_batch(
                [pa.array(range(len(cells)), pa.int64())], names=["id"]
            )]))
        assert out and out[0].num_rows, "the cells must hold candidates"
        return body

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    with monkeypatch.context() as mp:
        mp.setattr(bq, "_cell_body", spy_body)
        df = call()
    assert "LocalTableScan" in _plan(df)  # merged on the driver
    return df.collect(), _job_plans(
        spark, set(tracker.getJobIdsForGroup(None)) - before
    ), requested


def _job_plans(spark, jobs) -> list:
    """The physical plans of the SQL executions that ran ``jobs`` (found
    by job id: the status store keeps a bounded window of executions)."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [
        e.physicalPlanDescription()
        for e in (execs.apply(i) for i in range(execs.size()))
        if any(e.jobs().contains(j) for j in jobs)
    ]


def _assert_reads_cells_in_place(plans) -> None:
    """The docpart shape: ONE job, a Python map-in-Arrow over the cells'
    Range — no segments FileScan (cells are read by pyarrow in the task),
    no Exchange and no window (the top-k finishes on the driver)."""
    assert len(plans) == 1, plans
    plan = plans[0]
    assert "MapInArrow" in plan and "Range" in plan, plan
    for node in ("FileScan", "Exchange", "FlatMapGroupsInPandas", "Window"):
        assert node not in plan, plan


def test_bool_query_plan_prunes_and_broadcasts(spark, tmp_path, monkeypatch):
    """bool_topk runs the per-query shape (``_assert_ships_queries``);
    bool_topk_docpart reads its cells in place
    (``_assert_reads_cells_in_place``): every cell read requests the v1
    cell columns only and keeps only the batch's term ids."""
    from osu_elastic_indexer_spark.operators import boolquery as bq
    from osu_elastic_indexer_spark.operators import wand
    from osu_elastic_indexer_spark.operators.boolquery import (
        bool_topk,
        bool_topk_docpart,
    )
    from osu_elastic_indexer_spark.operators.build import build_index
    from osu_elastic_indexer_spark.sources.catalog import Catalog
    from osu_elastic_indexer_spark.sources.fixtures import write_corpus

    p = write_corpus(str(tmp_path / "c.parquet"), 300)
    cat = Catalog(str(tmp_path / "idx"))
    build_index(spark, spark.read.parquet(p), cat, "v1")
    spec = [(0, {"must": "the", "should": "w00100", "must_not": "w00200"})]
    df = bool_topk(spark, cat.index_dir("v1"), spec, k=5)
    _assert_ships_queries(df)
    want = sorted(tuple(r) for r in df.collect())
    assert want
    rows, plans, requested = _docpart_call(
        spark, monkeypatch,
        lambda: bool_topk_docpart(spark, cat.index_dir("v1"), spec, k=5),
    )
    assert sorted(tuple(r) for r in rows) == want
    _assert_reads_cells_in_place(plans)
    assert requested and all(c == wand._CELL_COLS for c in requested), requested
    # the read keeps the batch's term ids only (row groups are pruned on
    # term_id statistics before it)
    m = bq._snapshot(cat.index_dir("v1"))
    specs, msms, _st = bq._bool_plans(m, spec)
    state, _plans, cells = bq._plan_batch(
        cat.index_dir("v1"), m, specs, msms
    )
    got = wand._read_cells(cells, state["tids"], False)
    assert set(got.column("term_id").to_pylist()) == set(state["tids"])
    assert len(state["tids"]) == 3


def test_positional_phrase_plan_prunes_and_broadcasts(
    spark, tmp_path, monkeypatch
):
    """The positional phrase keeps the per-query discipline of bool/wand
    (``_assert_ships_queries``, match_phrase_prefix and prefix too); its
    docpart shape reads its cells in place WITH the position sidecar, and
    a positions-FREE docpart query on the same index must NOT request the
    sidecar columns."""
    from osu_elastic_indexer_spark.operators.boolquery import (
        match_phrase_prefix_topk,
        phrase_topk,
        prefix_topk,
    )
    from osu_elastic_indexer_spark.operators.build import build_index
    from osu_elastic_indexer_spark.operators.wand import (
        wand_topk,
        wand_topk_docpart,
    )
    from osu_elastic_indexer_spark.sources.catalog import Catalog
    from osu_elastic_indexer_spark.sources.fixtures import write_corpus

    p = write_corpus(str(tmp_path / "c.parquet"), 300)
    cat = Catalog(str(tmp_path / "idx"))
    build_index(spark, spark.read.parquet(p), cat, "v1", positions=True)
    idx = cat.index_dir("v1")
    for df in (
        phrase_topk(spark, idx, None, [(0, "the and")], k=5),
        match_phrase_prefix_topk(spark, idx, [(0, "the a")], k=5),
        prefix_topk(spark, idx, [(0, "w001")], k=5),
        wand_topk(spark, idx, [(0, "the and")], 5),
    ):
        _assert_ships_queries(df)
        assert df.collect()
    rows, plans, requested = _docpart_call(
        spark, monkeypatch,
        lambda: phrase_topk(spark, idx, None, [(0, "the and")], k=5, docpart=True),
    )
    assert rows
    _assert_reads_cells_in_place(plans)
    assert requested and all(
        "pos_blob" in c and "pos_offs" in c for c in requested
    ), requested
    # positions-free query on the SAME index: sidecar never requested
    rows, plans, requested = _docpart_call(
        spark, monkeypatch,
        lambda: wand_topk_docpart(spark, idx, [(0, "the and")], 5),
    )
    assert rows
    _assert_reads_cells_in_place(plans)
    assert requested and not any(
        "pos_blob" in c or "pos_offs" in c for c in requested
    ), requested


def test_terms_agg_plan_partial_agg_single_exchange(spark, tmp_path):
    """ES terms agg must lower to partial (map-side) HashAggregates around
    ONE shuffle that carries a row per (partition, distinct bucket) —
    never the doc rows — plus TakeOrderedAndProject for the top-k."""
    from osu_elastic_indexer_spark.operators.aggquery import terms_agg
    from osu_elastic_indexer_spark.operators.build import build_index
    from osu_elastic_indexer_spark.sources.catalog import Catalog
    from osu_elastic_indexer_spark.sources.fixtures import write_corpus

    cat = Catalog(str(tmp_path / "aggidx"))
    corpus = write_corpus(str(tmp_path / "c.parquet"), n_docs=300)
    build_index(
        spark, spark.read.parquet(corpus), cat, "v1",
        include_all_langs=True, keyword_fields=("lang",),
    )
    df = terms_agg(spark, cat.index_dir("v1"), "lang", 5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final
    # exactly one exchange below the agg (the bucket-key shuffle); the
    # left-anti tombstone join broadcasts (no second shuffle) on this
    # no-tombstone index
    assert plan.count("Exchange") <= 1
