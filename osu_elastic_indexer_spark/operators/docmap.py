"""Scalable dense docID assignment: doc_id = dense rank of url.

The reference's docID is the MySQL surrogate key (Score.cs:17,38 —
``[ElasticsearchType(IdProperty = nameof(id))]``); for webtext the stable key
is ``url`` (FIXTURES.md §1). A naive ``row_number() OVER (ORDER BY url)``
funnels the whole table through ONE partition — fine at 10^4 docs, dead at
10^12. This implements the scalable pattern:

  1. range-partition by url (sampled boundaries, ~even partitions)
  2. sort within partitions (no global shuffle beyond the range partition)
  3. per-partition counts -> cumulative offsets (tiny driver array,
     O(#partitions), NOT O(rows) — SURVEY.md §7.4 #5 "no driver-side collect
     proportional to corpus size")
  4. mapInPandas adds offset + local position, vectorized

The result is the exact dense rank, computed with one range shuffle and one
pass — the same technique as RDD zipWithIndex, expressed on DataFrames.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ranged_with_offsets(
    df: DataFrame,
    order_cols: list,
    num_partitions: int | None = None,
    start_id: int = 0,
):
    """Range-partition + sort df by ``order_cols`` and compute each
    partition's dense-rank offset. Returns (part_df_with___pid, offsets_bc).

    This is the shared core of dense-id assignment; build pipelines use it
    directly so they can FUSE the id computation into their own mapInPandas
    pass (one python stage instead of chained ones — chained Arrow-python
    stages each spawn their own worker per task, which at high core counts
    oversubscribes the box and inverts scaling)."""
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    num_partitions = max(1, min(num_partitions, 2000))

    part = (
        df.repartitionByRange(num_partitions, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
    )
    part = part.persist()
    counts = dict(
        part.groupBy("__pid").count().collect()  # O(#partitions) rows only
    )
    offsets = {}
    acc = start_id
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    offsets_bc = spark.sparkContext.broadcast(offsets)
    return part, offsets_bc


def assign_dense_ids(
    df: DataFrame,
    order_cols: list,
    id_col: str,
    num_partitions: int | None = None,
    start_id: int = 0,
) -> DataFrame:
    """Add a dense-rank int64 ``id_col`` over the total order ``order_cols``.

    ``start_id`` offsets all ids, so new rows can extend an id space.
    Requires the order to be a total order over rows (unique composite key).
    The range-partitioned input stays persisted; a caller that must release
    it calls ``ranged_with_offsets`` and ``with_dense_ids`` itself (the
    commit's wide dictionary branch, streaming/incremental.py).
    """
    part, offsets_bc = ranged_with_offsets(df, order_cols, num_partitions, start_id)
    return with_dense_ids(part, offsets_bc, id_col)


def with_dense_ids(part: DataFrame, offsets_bc, id_col: str) -> DataFrame:
    """``ranged_with_offsets``' frame without ``__pid``, plus ``id_col``:
    each partition's offset plus the row's position in it."""
    fields = [f for f in part.schema.fields if f.name != "__pid"]
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in fields]
        + [f"{id_col} bigint"]
    )

    def add_ids(batches):
        local = 0
        offset = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if offset is None:
                offset = offsets_bc.value[int(pdf["__pid"].iloc[0])]
            pdf = pdf.drop(columns=["__pid"])
            pdf[id_col] = offset + local + np.arange(len(pdf), dtype=np.int64)
            local += len(pdf)
            yield pdf

    return part.mapInPandas(add_ids, schema=out_schema)


def assign_doc_ids(
    df: DataFrame,
    key_col: str = "url",
    doc_id_col: str = "doc_id",
    num_partitions: int | None = None,
    start_id: int = 0,
) -> DataFrame:
    """doc_id = dense rank of url (unique PK — FIXTURES.md §1)."""
    return assign_dense_ids(df, [key_col], doc_id_col, num_partitions, start_id)
