"""Build-time invariants checked at run time: a failed segments write reaps
the concurrent dictionary writer, and the direct forward path refuses to
commit when its docmap and fwd doc_id counts disagree."""

import threading

import pyspark.sql
import pytest

from osu_elastic_indexer_spark.operators import build as build_mod
from osu_elastic_indexer_spark.operators.build import build_index
from osu_elastic_indexer_spark.sources.catalog import Catalog


class _FailingWrite:
    """Stands in for the segments DataFrame: its write plan raises."""

    def observe(self, *args, **kwargs):
        raise RuntimeError("injected segments write failure")


def test_segments_write_failure_reaps_dictionary_writer(
    spark, corpus_path, tmp_path, monkeypatch
):
    real = build_mod.build_segments_spimi

    def failing_spimi(*args, **kwargs):
        _segments, dictionary, sub = real(*args, **kwargs)
        return _FailingWrite(), dictionary, sub

    monkeypatch.setattr(build_mod, "build_segments_spimi", failing_spimi)
    cat = Catalog(str(tmp_path / "idx"))
    with pytest.raises(RuntimeError, match="injected segments write"):
        build_index(spark, spark.read.parquet(corpus_path), cat, "v1")
    alive = [
        t.name for t in threading.enumerate()
        if t.name.startswith("build-dictionary") and t.is_alive()
    ]
    assert alive == []
    assert not cat.phase_done("v1", "segments")


def test_direct_docmap_count_mismatch_refuses_commit(
    spark, corpus_path, tmp_path, monkeypatch
):
    """The docmap job is a separate scan of the same lineage as the count
    pass; if it sees a different row count its doc_ids cannot match fwd's,
    so the build must raise before any phase commits."""
    assert build_mod._plan_is_deterministic_scan(
        spark.read.parquet(corpus_path)
    ), "the corpus scan must take the direct path this test targets"

    class _SkewedObservation(pyspark.sql.Observation):
        @property
        def get(self):
            got = dict(super().get)
            if self._name.startswith("dm_stats"):
                got["n"] = int(got["n"] or 0) + 1
            return got

    monkeypatch.setattr(pyspark.sql, "Observation", _SkewedObservation)
    cat = Catalog(str(tmp_path / "idx"))
    with pytest.raises(RuntimeError, match="direct docmap write saw"):
        build_index(spark, spark.read.parquet(corpus_path), cat, "v1")
    assert not cat.phase_done("v1", "postings")
    assert not cat.phase_done("v1", "commit")
