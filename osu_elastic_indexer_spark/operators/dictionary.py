"""Term dictionary: term -> dense int termID + document frequency (J4).

Not present in the reference repo — Lucene interns terms internally; the
north_star mandates an explicit "termID dictionary via broadcast hash join".

Scale notes (SURVEY.md §7.4 #5): at 10^12 docs the dictionary has ~10^8
terms — too big to broadcast whole. Strategy:
  * the dictionary TABLE is built distributed (dense rank via range
    partition, same pattern as docmap) and stored as parquet;
  * the tokens⋈dictionary join broadcasts only when the dictionary is small
    (toy/test scale), else relies on a shuffle join where AQE's skew-join
    splitting handles head terms;
  * QUERY-time lookups never scan: query terms are a tiny set, so the
    dictionary is filtered with term IN (...) — parquet row-group pruning.

term_id ordering: df desc, term asc — head terms get the smallest ids, which
clusters hot posting rows together in the segments table (locality, and a
cheap "is head" test: term_id < n_head).

Filesystem note: ``lookup_term_info`` / ``lookup_terms_by_prefix`` read the
index parquet with DRIVER-LOCAL pyarrow (footer-stats seeks — the 15 s
Catalyst-planning fix) when the index directory is visible to the driver as
a local or shared-filesystem path (NFS/FUSE mount of the object store — the
deployment shape the serving tier already assumes). For an index reachable
only through a Hadoop-filesystem URI (hdfs:// / s3a:// ...), both functions
FALL BACK to a Spark scan automatically — the probe rides a broadcast join
(never an ``isin`` literal, whose Catalyst planning cost scales with the
term list), so the fallback stays O(1)-planning at any batch vocabulary.
The serving tier (no SparkSession by design) raises a clear error on such
URIs instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .docmap import assign_dense_ids


def build_dictionary(tf: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """tf (doc_id, term, tf, dl) -> dictionary (term_id, term, df).

    df counts documents (tf rows are unique per (doc, term), so count(*)
    avoids a distinct-agg). term_id = dense rank over (df desc, term asc).
    """
    stats = tf.groupBy("term").agg(F.count("*").alias("df"))
    return assign_dense_ids(
        stats, [F.desc("df"), F.asc("term")], "term_id", num_partitions
    ).select("term_id", "term", F.col("df").cast("bigint").alias("df"))


def encode_terms(
    tf: DataFrame, dictionary: DataFrame, broadcast_threshold: int = 5_000_000
) -> DataFrame:
    """tokens ⋈ dictionary -> (term_id, doc_id, tf, dl).

    Broadcasts the dictionary below `broadcast_threshold` rows; above it the
    join is a plain equi-join on term — AQE handles skew splitting.
    """
    dict_small = dictionary.select("term", "term_id")
    # cheap cardinality probe: dictionary is the output of an agg we are
    # about to materialize anyway; count() here is a metadata-cheap job
    n_terms = dict_small.count()
    right = F.broadcast(dict_small) if n_terms <= broadcast_threshold else dict_small
    return tf.join(right, "term").select("term_id", "doc_id", "tf", "dl")


def lookup_terms(dictionary: DataFrame, terms: list[str]) -> DataFrame:
    """Query-time point lookups: (term, term_id, df) for the given terms.
    IN-list filter -> parquet row-group pruning, no full scan."""
    if not terms:
        return dictionary.limit(0)
    return dictionary.filter(F.col("term").isin(list(set(terms))))


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


def _driver_visible(paths) -> bool:
    """True when every path is a plain local/shared-FS path driver-local
    pyarrow can open (no scheme, or file://)."""
    from urllib.parse import urlparse

    return all(urlparse(str(p)).scheme in ("", "file") for p in paths)


def _lookup_term_info_spark(
    spark, paths, want: list[str]
) -> dict[str, tuple[int, int]]:
    """Spark-scan lookup for Hadoop-FS-only index locations: the probe
    list joins as a BROADCAST dataframe (O(1) Catalyst planning at any
    vocabulary size — the isin-literal form this path originally used
    planned in O(|terms|), 15 s at a 25k-term batch), delta rows fold
    through the same fold_delta_rows as the pyarrow seek."""
    probe = spark.createDataFrame([(t,) for t in want], "term string")
    rows = (
        spark.read.parquet(*paths)
        .join(F.broadcast(probe), "term")
        .select("term", "term_id", "df")
        .collect()
    )
    return fold_delta_rows((r.term, r.term_id, r.df) for r in rows)


def lookup_term_info(
    spark, index_dir: str, terms: list[str]
) -> dict[str, tuple[int, int]]:
    """Driver-side point lookups for a query's terms -> {term: (tid, df)}.

    Pure-pyarrow term seek over the term-SORTED dict_by_term generations:
    row groups are pruned by their footer (min, max) statistics against the
    sorted probe list, matched groups are read column-pruned and filtered
    with one vectorized ``is_in``, and the <= |terms| x gens delta rows
    fold in python. No Spark job: the previous implementation pushed the
    probe list as a Spark ``isin`` literal, whose Catalyst planning cost
    scales with the LIST (a 25k-term incremental batch vocabulary took
    ~15 s of pure planning at sf0.1 — the scan itself is milliseconds).
    Falls back to the primary dictionary when the sorted projection is
    absent (legacy layout; no pruning there, the stats never match), and
    to a broadcast-probe Spark scan when the index lives on a
    Hadoop-filesystem URI the driver's pyarrow can't open (module doc)."""
    import bisect

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ..sources.catalog import committed_gen_paths
    from .state import _parquet_files

    if not terms:
        return {}
    paths = committed_gen_paths(index_dir, "dict_by_term") or committed_gen_paths(
        index_dir, "dictionary"
    )
    if not paths:
        return {}
    want = sorted(set(terms))
    if not _driver_visible(paths):
        if spark is None:
            raise RuntimeError(
                f"index at {index_dir} is not driver-visible (Hadoop-FS "
                "URI) and no SparkSession was supplied for the scan "
                "fallback — mount the index or pass spark"
            )
        return _lookup_term_info_spark(spark, paths, want)
    want_arr = pa.array(want, pa.string())

    def _s(v):  # parquet string stats may surface as bytes
        return v.decode("utf-8", "replace") if isinstance(v, bytes) else v

    parts = []
    for f in _parquet_files(tuple(paths)):
        pf = pq.ParquetFile(f)
        md = pf.metadata
        if md.num_rows == 0 or md.num_row_groups == 0:
            continue
        tcol = next(
            i
            for i in range(md.row_group(0).num_columns)
            if md.row_group(0).column(i).path_in_schema == "term"
        )
        groups = []
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(tcol).statistics
            if st is None or not st.has_min_max:
                groups.append(g)  # stats-less groups stay candidates
                continue
            lo, hi = _s(st.min), _s(st.max)
            i = bisect.bisect_left(want, lo)
            if i < len(want) and want[i] <= hi:
                groups.append(g)
        if not groups:
            continue
        tbl = pf.read_row_groups(groups, columns=["term", "term_id", "df"])
        tbl = tbl.filter(pc.is_in(tbl.column("term"), value_set=want_arr))
        if tbl.num_rows:
            parts.append(tbl)
    if not parts:
        return {}
    t = pa.concat_tables(parts)
    return fold_delta_rows(
        zip(
            t.column("term").to_pylist(),
            t.column("term_id").to_pylist(),
            t.column("df").to_pylist(),
        )
    )


def lookup_terms_by_prefix(
    index_dir: str,
    prefix: str,
    max_expansions: int | None = None,
    spark=None,
    files: list[str] | None = None,
) -> list[str]:
    """ES prefix-query term expansion: LIVE terms starting with ``prefix``,
    term-asc, capped at ``max_expansions`` (the deterministic analog of
    ES's index-order rewrite cap). Same pyarrow footer-stats seek as
    ``lookup_term_info``, but with a RANGE predicate: only row groups whose
    [min, max] intersects [prefix, successor(prefix)) are read. Delta rows
    fold first, so a fully-deleted term (df summed to 0) never expands.
    On a non-driver-visible (Hadoop-FS URI) index the expansion falls back
    to a Spark scan with the same startswith predicate (pushed to parquet)
    when ``spark`` is supplied, else raises (module doc).

    ``files``: the dictionary parquet files to expand over instead of the
    index's currently committed ones — a searcher passes the files of the
    snapshot it pinned at open, so a later commit never leaks in."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ..sources.catalog import committed_gen_paths
    from .state import _parquet_files

    if not prefix:
        return []
    if files is None:
        paths = committed_gen_paths(
            index_dir, "dict_by_term"
        ) or committed_gen_paths(index_dir, "dictionary")
        if not paths:
            return []
        if not _driver_visible(paths):
            if spark is None:
                raise RuntimeError(
                    f"index at {index_dir} is not driver-visible (Hadoop-FS "
                    "URI) and no SparkSession was supplied for the scan "
                    "fallback — mount the index or pass spark"
                )
            rows = (
                spark.read.parquet(*paths)
                .filter(F.col("term").startswith(prefix))
                .select("term", "term_id", "df")
                .collect()
            )
            folded = fold_delta_rows((r.term, r.term_id, r.df) for r in rows)
            live = sorted(t for t, (_tid, df) in folded.items() if df > 0)
            return live[:max_expansions] if max_expansions is not None else live
        files = _parquet_files(tuple(paths))
    # successor string: smallest string greater than every prefix-match
    hi = prefix[:-1] + chr(ord(prefix[-1]) + 1) if ord(prefix[-1]) < 0x10FFFF else None

    def _s(v):
        return v.decode("utf-8", "replace") if isinstance(v, bytes) else v

    parts = []
    for f in files:
        pf = pq.ParquetFile(f)
        md = pf.metadata
        if md.num_rows == 0 or md.num_row_groups == 0:
            continue
        tcol = next(
            i
            for i in range(md.row_group(0).num_columns)
            if md.row_group(0).column(i).path_in_schema == "term"
        )
        groups = []
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(tcol).statistics
            if st is None or not st.has_min_max:
                groups.append(g)
                continue
            lo_g, hi_g = _s(st.min), _s(st.max)
            if hi_g < prefix or (hi is not None and lo_g >= hi):
                continue
            groups.append(g)
        if not groups:
            continue
        tbl = pf.read_row_groups(groups, columns=["term", "term_id", "df"])
        tbl = tbl.filter(pc.starts_with(tbl.column("term"), prefix))
        if tbl.num_rows:
            parts.append(tbl)
    if not parts:
        return []
    t = pa.concat_tables(parts)
    folded = fold_delta_rows(
        zip(
            t.column("term").to_pylist(),
            t.column("term_id").to_pylist(),
            t.column("df").to_pylist(),
        )
    )
    live = sorted(term for term, (_tid, df) in folded.items() if df > 0)
    return live[:max_expansions] if max_expansions is not None else live
