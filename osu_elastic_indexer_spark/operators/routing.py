"""Add/delete routing — the reference's ShouldIndex split (P1, U1, J2).

Reference semantics: ``ShouldIndex = preserve && ranked && user_warnings == 0``
(osu.ElasticIndexer/Score.cs:33); each queued batch is split into additions
and deletions (IndexQueueProcessor.cs:41-60), and ids that no longer resolve
in the database also become deletions (ElasticModel.cs:57-66 hydration miss
-> delete, i.e. a left join with null-routing).

Webtext analog (SURVEY.md §1.5): a document is indexable iff
``lang = 'en' AND text IS NOT NULL`` (after extraction). Non-indexable docs
must be ABSENT from served top-k, including ones that were indexable in a
previous version (delete path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def should_index_expr(include_all_langs: bool = False):
    """The P1 predicate as a Column (built lazily — Column construction
    requires an active session in classic PySpark). ``include_all_langs``
    lifts the lang gate — the `--include-unranked` analog; an index built
    with it must route its INCREMENTAL batches through the same widened
    predicate (the flag is an index-level membership property, recorded in
    the manifest) or a non-en doc re-crawled later would be routed to
    delete."""
    pred = F.col("text").isNotNull() & (F.length("text") > 0)
    if not include_all_langs:
        pred = (F.col("lang") == "en") & pred
    return pred


def with_should_index(
    docs: DataFrame, include_all_langs: bool = False
) -> DataFrame:
    """P1: attach the indexability flag as a column."""
    return docs.withColumn(
        "should_index", should_index_expr(include_all_langs)
    )


def split_batch(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """U1: one batch -> (additions, deletions), disjoint — mirrors
    IndexQueueProcessor.cs:41-60. Caller should cache ``docs`` if both sides
    are consumed."""
    flagged = with_should_index(docs)
    return (
        flagged.filter(F.col("should_index")).drop("should_index"),
        flagged.filter(~F.col("should_index")).drop("should_index"),
    )


def dedup_last_write_wins(
    df: DataFrame, key: str = "url", order_col: str = "warc_ts"
) -> DataFrame:
    """J3: within-batch dedup by key, keeping the newest row — the
    reference's ToDictionary(s => s.id) re-key (IndexQueueProcessor.cs:46)
    with explicit last-write-wins (T11). Window row_number, no driver state.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(key).orderBy(F.desc(order_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
