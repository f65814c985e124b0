"""Term dictionary: term -> dense int termID + document frequency (J4).

Not present in the reference repo — Lucene interns terms internally; the
north_star mandates an explicit "termID dictionary via broadcast hash join".

Scale notes (SURVEY.md §7.4 #5): at 10^12 docs the dictionary has ~10^8
terms — too big to broadcast whole. Strategy:
  * a commit assigns its batch's fresh term ids (streaming/incremental.py)
    on the driver, except a Spark-route batch vocabulary over
    KNOWN_ID_IN_MAX terms: that one by a distributed dense rank
    (operators/docmap.py);
  * the segments' tokens⋈dictionary join broadcasts only when the
    dictionary is small, else relies on a shuffle join where AQE's
    skew-join splitting handles head terms (build.build_segments_spimi);
  * QUERY-time lookups never scan: query terms are a tiny set, so
    ``lookup_term_info`` seeks the term-sorted projection's row groups by
    their footer statistics (``state.RowGroupSeek``, no Spark job).

term_id ordering: df desc, term asc — head terms get the smallest ids, which
clusters hot posting rows together in the segments table (locality, and a
cheap "is head" test: term_id < n_head).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# generational dictionary (per-batch deltas, merged at read)
#
# The dictionary is an APPEND table like segments: gen=0 holds the full build
# (df = absolute), every incremental generation appends ONLY the batch's
# vocabulary as delta rows (new terms with fresh term_ids; changed terms with
# df deltas, possibly negative). Merged-at-read semantics:
#     term_id(term) = max over gens (constant once assigned: new terms carry
#                     the only non-null id, re-touched terms repeat theirs)
#     df(term)      = sum of deltas
# Compaction folds all generations back into one full gen=0 snapshot. This
# keeps the per-batch dictionary WRITE proportional to the batch vocabulary,
# not the corpus's (a 10^8-term full rewrite per micro-batch was the round-2
# scale gap).
# ---------------------------------------------------------------------------


def read_dictionary_merged(spark, index_dir: str) -> DataFrame:
    """(term_id, term, df) merged over the committed dictionary generations.
    Single-generation indexes (fresh build / post-compaction) read straight
    through with no shuffle; multi-gen indexes pay one groupBy(term)."""
    from ..sources.catalog import committed_gen_paths

    paths = committed_gen_paths(index_dir, "dictionary")
    if not paths:
        return spark.createDataFrame([], "term_id bigint, term string, df bigint")
    df = spark.read.parquet(*paths).select("term_id", "term", "df")
    if len(paths) == 1:
        return df
    return df.groupBy("term").agg(
        F.max("term_id").alias("term_id"),
        F.sum("df").cast("bigint").alias("df"),
    ).select("term_id", "term", "df")


def fold_delta_rows(rows) -> dict[str, tuple[int, int]]:
    """Fold (term, term_id, df) delta rows -> {term: (term_id, df)} with
    THE generational-merge invariant: term_id = max over generations
    (constant once assigned — new terms carry the only fresh id), df = sum
    of deltas. Every python-side reader (driver lookups, the serving
    tier's eager load and its pruned seeks) must fold through this one
    helper so the tiers can never diverge."""
    out: dict[str, tuple[int, int]] = {}
    for term, tid, df in rows:
        old_tid, old_df = out.get(term, (-1, 0))
        out[term] = (max(old_tid, int(tid)), old_df + int(df))
    return out


_DICT_COLS = ["term", "term_id", "df"]


def dict_seek(index_dir: str, manifest: dict | None = None):
    """The ``RowGroupSeek`` over the term-SORTED ``dict_by_term``
    generations of the snapshot ``manifest`` (default: the one committed
    now). Every format-4 writer commits it beside the primary dictionary."""
    from ..sources.catalog import committed_gen_paths
    from .state import RowGroupSeek, _parquet_files

    paths = committed_gen_paths(index_dir, "dict_by_term", manifest)
    return RowGroupSeek(_parquet_files(tuple(paths)), "term")


def _fold(tbl) -> dict[str, tuple[int, int]]:
    return fold_delta_rows(
        zip(*(tbl.column(c).to_pylist() for c in _DICT_COLS))
    )


def seek_term_info(seek, terms) -> dict[str, tuple[int, int]]:
    """{term: (term_id, df)} for ``terms`` through a dictionary seek
    (``dict_seek``): only the row groups whose footer [min, max] can hold
    a probe term are read, and the <= |terms| x gens delta rows fold."""
    return _fold(seek.read(_DICT_COLS, values=list(terms)))


def lookup_term_info(
    index_dir: str, terms: list[str], manifest: dict | None = None
) -> dict[str, tuple[int, int]]:
    """Driver-side point lookups for a query's terms -> {term: (tid, df)}:
    one footer-pruned seek (``seek_term_info``) of the snapshot's
    dict_by_term generations, no Spark job (a Spark ``isin`` literal
    plans in O(|terms|): 15 s for a 25k-term batch vocabulary).
    ``manifest``: the snapshot to look up in (a query batch passes the one
    it plans from); default the one committed now."""
    return seek_term_info(dict_seek(index_dir, manifest), terms) if terms else {}


def _successor(prefix: str) -> str | None:
    """The smallest string above every string starting with ``prefix``
    (None when there is none), so a prefix is the range [prefix,
    successor). Surrogates are skipped: no stored term holds one."""
    if not prefix:
        return None
    c = ord(prefix[-1]) + 1
    if c > 0x10FFFF:
        return _successor(prefix[:-1])
    return prefix[:-1] + chr(0xE000 if 0xD800 <= c <= 0xDFFF else c)


def lookup_terms_by_prefix(
    index_dir: str,
    prefix: str,
    max_expansions: int | None = None,
    seek=None,
) -> list[str]:
    """ES prefix-query term expansion: LIVE terms starting with ``prefix``,
    term-asc, capped at ``max_expansions`` (the deterministic analog of
    ES's index-order rewrite cap). A range probe [prefix, successor) over
    the dictionary seek; delta rows fold first, so a fully-deleted term
    (df summed to 0) never expands.

    ``seek``: the dictionary seek to expand over instead of the index's
    currently committed one — a searcher passes the one of the snapshot it
    pinned at open, so a later commit never leaks in."""
    if not prefix:
        return []
    if seek is None:
        seek = dict_seek(index_dir)
    folded = _fold(seek.read(_DICT_COLS, lo=prefix, hi=_successor(prefix)))
    live = sorted(term for term, (_tid, df) in folded.items() if df > 0)
    return live[:max_expansions] if max_expansions is not None else live
