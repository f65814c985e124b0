"""Dictionary operators (J4): dense termID assignment and the thresholded
broadcast-or-shuffle tokens⋈dictionary join — results identical either way,
join strategy flipping with the threshold (the 10^8-term scale path)."""

from pyspark.sql import functions as F

from osu_elastic_indexer_spark.operators.dictionary import (
    build_dictionary,
    encode_terms,
)


def _postings(spark):
    rows = [
        # (doc_id, term, tf, dl)
        (0, "the", 3, 10), (0, "cat", 1, 10), (0, "sat", 1, 10),
        (1, "the", 2, 8), (1, "dog", 2, 8),
        (2, "the", 1, 5), (2, "cat", 1, 5),
        (3, "zebra", 4, 4),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, term string, tf bigint, dl bigint")


def test_build_dictionary_df_desc_dense_ids(spark):
    d = {r.term: (r.term_id, r.df) for r in build_dictionary(_postings(spark)).collect()}
    assert d["the"] == (0, 3)          # highest df -> smallest id
    assert d["cat"] == (1, 2)
    assert d["dog"][1] == 1 and d["sat"][1] == 1 and d["zebra"][1] == 1
    assert sorted(tid for tid, _ in d.values()) == [0, 1, 2, 3, 4]  # dense


def test_encode_terms_broadcast_vs_shuffle_identical(spark):
    tf = _postings(spark)
    dictionary = build_dictionary(tf)
    bc = encode_terms(tf, dictionary)  # tiny dict -> broadcast hint
    sh = encode_terms(tf, dictionary, broadcast_threshold=0)  # no hint
    # disable auto-broadcast so the plan reflects OUR hint only (emulates an
    # over-the-size-limit dictionary, where forcing broadcast would OOM)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        bc_plan = bc._jdf.queryExecution().executedPlan().toString()
        sh_plan = sh._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    assert "BroadcastHashJoin" in bc_plan
    assert "BroadcastHashJoin" not in sh_plan
    assert sorted(map(tuple, bc.collect())) == sorted(map(tuple, sh.collect()))
    assert bc.count() == tf.count()
