"""ES ``sort`` query over stored docmap fields — match + sort, no scoring.

The reference's consumers page the scores index ordered by stored numeric
fields with keyword restrictions (the leaderboard shape: ES ``sort`` on
doc-value fields like total_score/pp with term filters on country_code /
ruleset_id — osu.ElasticIndexer/schemas/scores.json declares those fields
keyword/numeric precisely so ES builds doc_values for them). Our docmap IS
the doc-value store: every generation carries url + warc_ts plus the
declared keyword (string) and numeric (double) columns
(``build_index(keyword_fields=..., numeric_fields=...)``).

Spark-first shape: the whole query is a declarative DataFrame plan over
the committed docmap generations — filters push into the parquet scan
(PushedFilters), column pruning reads only (doc_id, url, sort field,
filter fields), tombstones drop via a left-anti join (broadcast when
small), and ``orderBy(...).limit(k)`` lowers to TakeOrderedAndProject:
per-partition top-k then a driver merge of k-row heaps — no global sort,
no shuffle of the matching set. At 100-TB that is one column-pruned scan
with predicate pushdown and O(k) driver state, exactly the plan a
hand-built index would emulate.

The serving tier mirrors it JVM-free (``LocalSearcher.search_sort``):
one pushed pyarrow scan of the docmap columns + tombstone mask + lexsort.

Output schema: (doc_id, url, <sort_field>) — except that sorting BY url
yields two columns, (doc_id, url): the sort column is not repeated. Code
that reads url-sorted pages positionally, or expects a third column, must
use the two-column shape (older releases returned url twice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .boolquery import (
    _RANGE_FIELDS,
    _check_spec,
    index_keyword_fields,
    index_numeric_fields,
)

# sort_topk reuses the bool-spec filter validation with a term clause
# exempt: a sort query is ES match_all + filter context (scores are not
# computed, so "no scored clause" is the point, not an error)
_SORT_SPEC_STUB = {"must": ["_"], "should": [], "must_not": [], "filter": []}


def sortable_fields(
    index_dir: str, keyword_fields=None, numeric_fields=None
) -> tuple[str, ...]:
    """Fields ``sort_topk`` may order by: the structured columns every
    docmap carries (url, warc_ts) plus this index's declared keyword and
    numeric doc-value columns (read from the manifest unless given)."""
    if keyword_fields is None:
        keyword_fields = index_keyword_fields(index_dir)
    if numeric_fields is None:
        numeric_fields = index_numeric_fields(index_dir)
    return tuple(sorted(
        _RANGE_FIELDS | set(keyword_fields) | set(numeric_fields)
    ))


def _sort_field_sql_type(index_dir: str, field: str) -> str:
    """Spark SQL type of a sortable docmap column as the REAL scan yields
    it: declared numeric doc-values load as double, warc_ts is a
    timestamp, everything else (url + declared keywords) is string."""
    if field in index_numeric_fields(index_dir):
        return "double"
    if field == "warc_ts":
        return "timestamp"
    return "string"


def _validated_filters(
    index_dir: str, filter_term, filter_range,
    keyword_fields=None, numeric_fields=None,
) -> tuple[dict, dict]:
    """Normalize + validate filter_term/filter_range against THIS index's
    declared fields (same rules and error messages as the bool surface;
    fields read from the manifest unless given)."""
    spec = {"must": "placeholder"}
    if filter_term:
        spec["filter_term"] = filter_term
    if filter_range:
        spec["filter_range"] = filter_range
    if keyword_fields is None:
        keyword_fields = index_keyword_fields(index_dir)
    if numeric_fields is None:
        numeric_fields = index_numeric_fields(index_dir)
    fr, ft, _fe = _check_spec(
        spec, dict(_SORT_SPEC_STUB), keyword_fields, numeric_fields
    )
    return fr, ft


def _apply_filters(df: DataFrame, fr: dict, ft: dict) -> DataFrame:
    """Declarative filter predicates — Catalyst pushes them into the
    parquet scan (PushedFilters), so a selective term/range restriction
    prunes IO before anything is read."""
    for field, vals in ft.items():
        df = df.filter(F.col(field).isin(list(vals)))
    for field, (lo, hi) in fr.items():
        if lo is not None:
            df = df.filter(F.col(field) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(field) <= F.lit(hi))
    return df


def _after_predicate(sort_field: str, ascending: bool, after: tuple):
    """ES ``search_after`` cursor -> Column predicate: keep docs STRICTLY
    after the (sort value, doc_id) key in sort order. Nulls rank last, so
    a non-null cursor keeps the whole null tail; a null cursor (the
    caller is already inside the tail) keeps only later-docID nulls."""
    av, ad = after
    c, d = F.col(sort_field), F.col("doc_id")
    if av is None:
        return c.isNull() & (d > F.lit(int(ad)))
    further = (c > F.lit(av)) if ascending else (c < F.lit(av))
    return c.isNull() | further | ((c == F.lit(av)) & (d > F.lit(int(ad))))


def sort_topk(
    spark: SparkSession,
    index_dir: str,
    sort_field: str,
    k: int = 10,
    ascending: bool = False,
    filter_term: dict | None = None,
    filter_range: dict | None = None,
    after: tuple | None = None,
) -> DataFrame:
    """Top-k docs ordered by a STORED docmap field (ES ``sort`` — no
    relevance scoring), optionally restricted by the same
    ``filter_term`` / ``filter_range`` context the bool surface takes.

    Returns (doc_id, url, <sort_field>); missing (null) sort values rank
    last like ES's ``missing: _last`` default, ties break doc_id
    ascending. Tombstoned docs are excluded; a closed index refuses reads
    like every other query path.

    ``after``: ES ``search_after`` deep paging — the (sort value, doc_id)
    key of the previous page's LAST row; the next page starts strictly
    after it. Unlike offset paging, every page costs one pushed-filter
    scan + TakeOrderedAndProject with O(k) driver state — page 10^6 is as
    cheap as page 1 (the reason ES deprecated deep from+size).
    """
    from ..sources.catalog import assert_index_readable, committed_gen_paths

    assert_index_readable(index_dir)
    if sort_field not in sortable_fields(index_dir):
        raise ValueError(
            f"sort field {sort_field!r} not a stored docmap field of this "
            f"index; it carries: {list(sortable_fields(index_dir))} "
            "(declare columns at build time via build_index("
            "keyword_fields=... / numeric_fields=...))"
        )
    fr, ft = _validated_filters(index_dir, filter_term, filter_range)
    # the projection below dedupes url, so derive the matching column list
    # once and type the empty-result schema from the field's DECLARED type
    # (numeric -> double, warc_ts -> timestamp) so callers unioning or
    # dtype-inspecting an empty page see the same schema as a real one
    out_cols = ["doc_id", "url"] + ([sort_field] if sort_field != "url" else [])
    dm_paths = committed_gen_paths(index_dir, "docmap")
    if not dm_paths:
        types = {"doc_id": "bigint", "url": "string",
                 sort_field: _sort_field_sql_type(index_dir, sort_field)}
        return spark.createDataFrame(
            [], ", ".join(f"{c} {types[c]}" for c in out_cols)
        )
    docmap = _apply_filters(spark.read.parquet(*dm_paths), fr, ft)
    if after is not None:
        docmap = docmap.filter(
            _after_predicate(sort_field, ascending, after)
        )
    tomb_paths = committed_gen_paths(index_dir, "tombstones")
    if tomb_paths:
        tombs = spark.read.parquet(*tomb_paths).select("doc_id")
        docmap = docmap.join(tombs, "doc_id", "left_anti")
    key = (
        F.col(sort_field).asc_nulls_last()
        if ascending
        else F.col(sort_field).desc_nulls_last()
    )
    return (
        docmap.select(*out_cols)
        .orderBy(key, F.asc("doc_id"))
        .limit(int(k))
    )
