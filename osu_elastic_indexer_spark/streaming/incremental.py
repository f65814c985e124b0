"""Incremental index maintenance: the reference's CDC loop, Spark-native.

Reference semantics being reproduced (SURVEY.md §2.8):
  T1   micro-batch: one call == one queue batch (IndexQueueProcessor.cs:26)
  T7   at-least-once + idempotence: re-running a batch is harmless — updates
       tombstone the old docID and append a fresh one keyed by url, deletes
       of already-dead docs are no-ops (Score.cs:17 doc-keyed upserts)
  T8   resume cursor: batches are selected by warc_ts > manifest.cursor —
       the keyset-cursor loop of ElasticModel.cs:44-54 / PumpAllScores
       --from; alternatively an explicit url list (the Redis queue analog,
       ScoreQueueItem.cs)
  T9   two-phase cutover: full build at a snapshot, then a catch-up
       incremental pass for rows that arrived mid-build, then alias swap
       (PumpAllScoresCommand.cs:57-65 --switch)
  routing: changed rows that pass ShouldIndex -> add (tombstone the previous
       docID if the url was already indexed); rows that fail it, or queued
       urls missing from the source -> delete (IndexQueueProcessor.cs:41-60,
       ElasticModel.cs:63-65)

One commit sequence, two routes (``_apply_batch``). The route is decided
once, by ONE Arrow collect of at most DRIVER_BATCH_ROWS + 1 rows of the
batch without html (url, warc_ts, each add's html byte length). A batch of
at most DRIVER_BATCH_ROWS rows (10,000: the reference's queue batch, adds
and deletes alike) whose adds carry at most DRIVER_BATCH_HTML_BYTES of html
commits on the DRIVER; any other batch on SPARK. A build (``build_index``:
its whole input as the first commit onto an empty state) takes the Spark
route unprobed: no corpus-sized collect may land on the driver. On a 4-core
VM the driver route was the faster one at every size measured: 1k, 5k and
10k fixture rows (~1 KB of html each) in 1.8, 4.1 and 5.9 s a commit
against 5.7, 7.8 and 9.1 s, and 797 adds of ~65 KB (52 MB of html) in 8.7
against 11.9 s, for 20-180 MB more driver RSS; the bounds sit at the
largest sizes measured, not at a measured crossover. Both routes run the
build's own kernels (operators/build.py) and write the same rows. A route
contributes two steps:
  forward   the live changed docIDs to tombstone, the batch cursor, the new
            generation's fwd/docmap (fresh docIDs extend the manifest's
            ``next_doc_id`` counter; dead ids are never reused), the adds'
            stats and per-term counts. Driver (``_driver_forward``): one
            more collect brings the adds, html included, with the
            tombstone lookup, and pyarrow writes every file — two Spark
            jobs and no Python worker a commit. Spark (``_spark_forward``):
            one tombstone job, the forward kernel as Spark stages, one
            add-count job.
  segments  the generation's fwd inverted into segment rows
            (``_driver_segments``; ``_spark_segments``, which compaction
            shares).
Every other step is written once: the deleted docs' forward rows (one
footer-pruned seek of the doc_id-clustered fwd: their stats and df
decrements) and the tombstone generation; the stats; the term ids (known
ids by point lookups in the term-sorted dictionary, fresh ids extending
the ``max_term_id`` counter — a Spark-route vocabulary wider than
KNOWN_ID_IN_MAX stays on the executors); the dictionary delta and stats
writes; the manifest swap, the metric event and the stats GC. Each phase
names its Spark jobs with ``setJobDescription``; its seconds land in the
manifest's ``incremental_genN`` phase as ``<phase>_s``, next to ``route``,
``collected_rows``, ``collected_html_bytes`` and ``input_staged``.

Atomic commit protocol (generation pointers, the Iceberg-snapshot shape):
  * append tables (segments, docmap, fwd, tombstones) grow by whole
    gen=N subdirectories; versioned tables (dictionary, stats) are written
    to fresh {table}_v{K} dirs. NOTHING is visible until the single
    manifest os.replace flips generations/table pointers at the end.
  * every reader — this module, wand.py, serve.py — resolves its snapshot
    through the manifest (catalog.committed_gen_paths / resolve_table_dir),
    so a crash mid-generation leaves only invisible orphan dirs, which
    clean_orphan_generations removes on the next writer entry. A
    foreachBatch replay therefore re-applies onto the last committed state:
    no double-appended docID ranges, no lost delete deltas.
  * snapshot reads also remove the old self-append hazard: writes land in
    dirs no open plan has listed, so no staging dance and no dependence on
    Spark's cache-invalidation-on-write behavior.

Exactness at scale (unchanged by the protocol):
  * updates never rewrite old segments: the old docID is tombstoned and the
    new revision gets a fresh docID > all existing — docID ranges stay
    disjoint per generation, so a term's segment rows still concatenate into
    a sorted global posting list (operators/wand.py reads them as one).
  * collection statistics (N, sum_dl, per-term df) are maintained EXACTLY by
    deltas: additions contribute their own forward rows; deletions
    contribute the forward rows of the tombstoned docIDs. This keeps
    incremental results rank-identical to a from-scratch rebuild (Lucene
    lets df drift until merge; our oracle defines truth over live docs).
  * compaction (``compact_index``) rewrites segments from live forward rows
    only, clearing tombstones — the segment-merge analog.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager, nullcontext
from functools import partial

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from ..operators.build import (
    FWD_ROW_GROUP_BYTES,
    FWD_SCHEMA,
    SEGMENT_ROW_GROUP_BYTES,
    _write_stats_table,
    build_segments_spimi,
    exploded_postings,
    forward_local,
    fwd_split_bytes,
    input_split_bytes,
    materialize_forward,
    salt_cap,
    scan_split_bytes,
    segments_local,
    write_dict_by_term,
    write_segments,
)
from ..operators.docmap import ranged_with_offsets, with_dense_ids
from ..operators.routing import should_index_expr, with_should_index
from ..operators.state import RowGroupSeek, _parquet_files
from ..session import driver_frame
from ..sources.catalog import (
    Catalog,
    clean_orphan_generations,
    committed_gen_paths,
    emit_metric_event,
    resolve_table_dir,
)

DOCMAP_SCHEMA = "url string, warc_ts timestamp, doc_id bigint"
TOMB_SCHEMA = "doc_id bigint"

# the Spark route's add-count collect: a batch vocabulary of at most this
# many terms is collected, and its term ids are assigned on the driver by
# point lookups in the term-sorted dictionary; a wider one stays on the
# executors (a semi-join against the committed dictionary and a dense rank),
# so no vocabulary that approaches the corpus's lands on the driver (SURVEY
# §7.4 #5). The driver route always assigns on the driver: its fwd table
# already holds the whole batch vocabulary.
KNOWN_ID_IN_MAX = 100_000

# the driver commit route's bounds: a batch of at most DRIVER_BATCH_ROWS rows
# whose adds carry at most DRIVER_BATCH_HTML_BYTES of html commits in this
# process; any larger batch takes the Spark route (module docstring, "route",
# has the measurements). DRIVER_BATCH_ROWS is the reference's queue batch
# (BATCH_SIZE); the html bound caps what one collect brings to the driver,
# whatever the pages' size.
DRIVER_BATCH_ROWS = 10_000
DRIVER_BATCH_HTML_BYTES = 64 << 20


def _read_committed(
    spark: SparkSession,
    index_dir: str,
    table: str,
    schema: str,
    *,
    pinned: bool = False,
) -> DataFrame:
    """A stable snapshot of an append table: the committed gen dirs only.
    Writes of the in-flight generation can never leak into these plans.
    ``pinned``: read with ``schema`` (only its columns) instead of
    inferring the table's, which costs a footer-reading Spark job."""
    paths = committed_gen_paths(index_dir, table)
    if not paths:
        return driver_frame(spark, [], schema)
    reader = spark.read.schema(schema) if pinned else spark.read
    return reader.parquet(*paths)


def _next_doc_id(m: dict, docmap: DataFrame) -> int:
    """The first never-assigned docID: the manifest's ``next_doc_id``
    counter, or — for a legacy manifest without it — one scan for
    max(doc_id) + 1 over every committed docmap row."""
    nxt = (m.get("counters") or {}).get("next_doc_id")
    if nxt is not None:
        return int(nxt)
    max_doc = docmap.agg(F.max("doc_id")).collect()[0][0]
    return int(max_doc) + 1 if max_doc is not None else 0


def _write_gen_file(path: str, table: pa.Table, **kw) -> None:
    """Write a driver-held table as the single file of a fresh dir —
    replay-safe: a crashed attempt's dir is removed first."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"), **kw)


def _rows_per_group(table: pa.Table, target_bytes: int) -> int:
    """Parquet rows per row group for groups of about ``target_bytes`` —
    the byte target the Spark writers set with ``parquet.block.size``."""
    return max(1, table.num_rows * target_bytes // max(table.nbytes, 1))


def _spark_timestamps(spark: SparkSession) -> dict:
    """pyarrow write options that store timestamps the way this session's
    Spark parquet writer does (``spark.sql.parquet.outputTimestampType``):
    Spark reads both back as a UTC-adjusted TIMESTAMP, and every docmap
    generation keeps one physical type whichever route wrote it."""
    kind = spark.conf.get("spark.sql.parquet.outputTimestampType")
    if kind == "INT96":
        return {"use_deprecated_int96_timestamps": True}
    return {"coerce_timestamps": "ms" if kind == "TIMESTAMP_MILLIS" else "us"}


def _url_in(urls: list[str]):
    """``url IN (urls)`` as ONE SQL expression of hex string literals (no
    url needs escaping); the optimizer folds it into a hash-set probe.
    ``Column.isin`` builds the same filter with a py4j round trip per url:
    on a 4-core VM, 2.7 s for 1,000 urls and 7-15 s for 10,000, against
    0.02 s for the SQL text."""
    return F.expr(
        "url IN ("
        + ", ".join(f"CAST(X'{u.encode().hex()}' AS STRING)" for u in urls)
        + ")"
    )


def _probe_batch(batch: DataFrame, is_add) -> pa.Table:
    """At most ``DRIVER_BATCH_ROWS + 1`` rows of the batch in ONE Arrow
    collect, without html: url and warc_ts (the tombstone keys and the
    cursor) and the html byte length of each add, which pick the route."""
    return (
        batch.select(
            "url",
            "warc_ts",
            F.when(is_add, F.octet_length("html")).alias("html_bytes"),
        )
        .limit(DRIVER_BATCH_ROWS + 1)
        .toArrow()
    )


def _collect_driver_batch(
    idx: str,
    docmap: DataFrame,
    urls: list[str],
    adds: DataFrame,
    keyword_fields: tuple,
    numeric_fields: tuple,
) -> tuple[pa.Table, np.ndarray]:
    """The driver route's second and last Spark job: ONE Arrow collect of
    the committed docmap rows of ``urls`` (an exchange-free filtered scan;
    a join would plan a broadcast or a shuffle, each a job of its own)
    unioned with the batch's adds (url, warc_ts, html, the declared
    keyword/numeric columns cast as the docmap stores them). Returns the
    adds in scan order — ``__pos`` (monotonically_increasing_id: partition
    index, then row position) restores the order the Spark route numbers
    docs in — and the sorted docIDs to tombstone: the matched ids less the
    ones already tombstoned (a footer-pruned seek of the tombstones)."""
    adds = adds.select(
        "url",
        "warc_ts",
        "html",
        *[F.col(c).cast("string").alias(c) for c in keyword_fields],
        *[F.col(c).cast("double").alias(c) for c in numeric_fields],
        F.monotonically_increasing_id().alias("__pos"),
    )
    if urls:
        hits = docmap.filter(_url_in(urls)).select("doc_id")
        adds = hits.unionByName(adds, allowMissingColumns=True)
    got = adds.toArrow()
    if "doc_id" not in got.column_names:
        return got, np.zeros(0, dtype=np.int64)
    hit = pc.is_valid(got["doc_id"])
    ids = got["doc_id"].filter(hit).combine_chunks()
    local = got.filter(pc.invert(hit)).drop_columns(["doc_id"])
    files = _parquet_files(tuple(committed_gen_paths(idx, "tombstones")))
    if files and len(ids):
        old = RowGroupSeek(files, "doc_id").read(["doc_id"], values=ids)
        ids = ids.filter(
            pc.invert(pc.is_in(ids, value_set=old["doc_id"].combine_chunks()))
        )
    return local.sort_by("__pos"), np.sort(ids.to_numpy())


def _deleted_forward(fwd_paths: list[str], dead: np.ndarray) -> dict:
    """The tombstoned docs' forward rows, read once driver-side with one
    footer-pruned seek on doc_id (the fwd table is doc_id-clustered, so a
    point delete reads about one row group); only doc_id/dl/terms are
    decoded.

    -> {"n", "sum_dl", "postings", "df": {term: docs holding it}} — the
    deleted docs' collection stats and per-term df decrements."""
    out = {"n": 0, "sum_dl": 0, "postings": 0, "df": {}}
    if not dead.size:
        return out
    t = RowGroupSeek(_parquet_files(tuple(fwd_paths)), "doc_id").read(
        ["doc_id", "dl", "terms"], values=dead
    )
    if t.num_rows:
        out["n"] = t.num_rows
        out["sum_dl"] = int(pc.sum(t.column("dl")).as_py() or 0)
        flat = pc.list_flatten(t.column("terms"))
        out["postings"] = len(flat)
        vc = pc.value_counts(flat)
        out["df"] = dict(
            zip(
                vc.field("values").to_pylist(),
                vc.field("counts").to_pylist(),
            )
        )
    return out


class _Phases:
    """Sub-phase bookkeeping of one commit: ``with phases("segments"):``
    names every Spark job started inside it (``setJobDescription``, so the
    UI and event log read phase by phase) and adds its wall seconds to
    ``seconds``. ``close`` restores the caller's job description."""

    def __init__(self, spark: SparkSession, label: str):
        self.sc = spark.sparkContext
        self.label = label
        self.prev = self.sc.getLocalProperty("spark.job.description")
        self.seconds: dict[str, float] = {}

    @contextmanager
    def __call__(self, name: str):
        self.sc.setJobDescription(f"{self.label}: {name}")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[name] = (
                self.seconds.get(name, 0.0) + time.perf_counter() - t0
            )

    def close(self) -> None:
        self.sc.setJobDescription(self.prev)


def _enter_writer(
    spark: SparkSession, cat: Catalog, schema_version: str
) -> dict:
    """Every writer's entry (``incremental_update``, ``compact_index``):
    ship the package to the workers, refuse a closed index (T6), one
    without a committed base and one of an older on-disk format, then
    remove what a crashed writer left behind (T7 replay safety) and the
    dirs a previous compaction superseded. -> the committed manifest."""
    from ..session import ship_package

    ship_package(spark)
    cat.assert_writable(schema_version)
    m = cat.read_manifest(schema_version)
    assert m is not None and m["phases"].get("commit"), "no base index to update"
    _assert_format(m, cat.index_name(schema_version))
    clean_orphan_generations(cat.index_dir(schema_version))
    _drain_gc_pending(cat, schema_version)
    return cat.read_manifest(schema_version)


def incremental_update(
    spark: SparkSession,
    docs: DataFrame,
    catalog: Catalog,
    schema_version: str,
    *,
    queue_urls: DataFrame | None = None,
    salt_group_cap: int | None = None,
) -> dict:
    """Apply one incremental batch to an existing index.

    ``docs``: the current state of the source table (url, warc_ts, html,
    text, lang). The batch is rows with warc_ts > manifest.cursor, or — if
    ``queue_urls`` (a 1-column 'url' DataFrame) is given — exactly those
    urls, resolved against the source (missing -> delete), mirroring the
    queue-consume path. Returns the updated manifest.
    """
    m = _enter_writer(spark, catalog, schema_version)
    phases = _Phases(spark, f"incremental gen={int(m['generations'])}")
    try:
        return _apply_batch(
            spark, docs, catalog, schema_version, queue_urls, salt_group_cap,
            phases,
        )
    finally:
        phases.close()


class _Gen:
    """The generation one commit writes: the committed manifest it starts
    from, the layout every generation of the index keeps (the v2 pos
    sidecar, so multi-generation phrase queries stay correct; the declared
    docmap keyword/numeric columns, so filter_term sees newer docs) and
    each table's gen=N dir, invisible until the manifest swap."""

    def __init__(self, spark, cat: Catalog, schema_version: str, phases):
        self.spark, self.cat, self.schema_version = spark, cat, schema_version
        self.phases = phases
        self.m = m = cat.read_manifest(schema_version)
        self.idx = cat.index_dir(schema_version)
        self.gen = int(m["generations"])
        self.dirs = {
            t: f"{resolve_table_dir(self.idx, t, m)}/gen={self.gen}"
            for t in (
                "fwd", "docmap", "tombstones", "segments", "dictionary",
                "dict_by_term",
            )
        }
        self.positions = bool(m.get("positions"))
        self.fwd_schema = FWD_SCHEMA + (
            ", poss array<bigint>" if self.positions else ""
        )
        self.keyword_fields = tuple(m.get("keyword_fields") or ())
        self.numeric_fields = tuple(m.get("numeric_fields") or ())


def _driver_forward(
    probe: pa.Table, g: _Gen, docmap: DataFrame, adds: DataFrame, start_id: int
) -> dict:
    """The driver route's forward step: ONE more collect brings the adds,
    html included, with the tombstone lookup (``_collect_driver_batch``);
    ``build.forward_local`` runs in this process over the adds in scan
    order and pyarrow writes the fwd and docmap generations. The cursor is
    the probe's max(warc_ts); the per-term add counts come off the fwd
    table, which holds the whole batch vocabulary."""
    with g.phases("forward"):
        local, dead = _collect_driver_batch(
            g.idx, docmap, pc.unique(probe["url"]).drop_null().to_pylist(),
            adds, g.keyword_fields, g.numeric_fields,
        )
        fwd = forward_local(local["html"], start_id, g.positions)
        _write_gen_file(
            g.dirs["fwd"], fwd,
            row_group_size=_rows_per_group(fwd, FWD_ROW_GROUP_BYTES),
        )
        ids = pa.array(np.arange(start_id, start_id + local.num_rows), pa.int64())
        _write_gen_file(
            g.dirs["docmap"],
            local.select(
                ["url", "warc_ts", *g.keyword_fields, *g.numeric_fields]
            ).append_column("doc_id", ids),
            **_spark_timestamps(g.spark),
        )
    with g.phases("dictionary"):
        vc = pc.value_counts(pc.list_flatten(fwd["terms"]))
    # the batch cursor as the Spark route's collected Row carries it
    ts = pc.max(probe["warc_ts"].cast(pa.int64())).as_py()
    return {
        "dead": dead,
        "cursor": None if ts is None else TimestampType().fromInternal(ts),
        "n_add": local.num_rows,
        "stats": {
            "n": fwd.num_rows,
            "sum_dl": int(pc.sum(fwd["dl"]).as_py() or 0),
            "dl_min": pc.min(fwd["dl"]).as_py(),
            "postings": len(pc.list_flatten(fwd["terms"])),
        },
        "staged": False,
        "add_counts": dict(
            zip(vc.field("values").to_pylist(), vc.field("counts").to_pylist())
        ),
        "add_frame": None,
        "fwd": fwd,
    }


def _spark_forward(
    batch: DataFrame, g: _Gen, docmap: DataFrame, adds: DataFrame, start_id: int
) -> dict:
    """The Spark route's forward step. ONE job resolves the tombstones
    (committed docmap ⋉ changed urls ▷ old tombstones), the cursor
    max(warc_ts) riding it as one more row: a global aggregate always
    yields its row, where an Observation is dropped whenever adaptive
    execution prunes an empty join side. ``build.materialize_forward``
    runs over a scan (a queue batch, a join, is staged to a file scan
    first) in splits sized for ~3 tasks a core, the fwd stats riding the
    writes. One job counts the adds per term and collects at most
    KNOWN_ID_IN_MAX + 1 of them; ``add_frame`` keeps them all."""
    spark = g.spark
    with g.phases("tombstones"):
        old_tombs = _read_committed(
            spark, g.idx, "tombstones", TOMB_SCHEMA, pinned=True
        )
        live_changed = (
            docmap.join(batch.select("url"), "url", "left_semi")
            .join(old_tombs, "doc_id", "left_anti")
            .select("doc_id", F.lit(None).cast("timestamp").alias("cursor"))
        )
        cursor = batch.agg(
            F.lit(None).cast("bigint").alias("doc_id"),
            F.max("warc_ts").alias("cursor"),
        )
        rows = live_changed.unionByName(cursor).collect()
    with g.phases("forward"):
        in_split = input_split_bytes(spark, adds)
        with scan_split_bytes(spark, in_split) if in_split else nullcontext():
            staged = materialize_forward(
                spark, adds, g.dirs["fwd"], g.dirs["docmap"],
                os.path.join(g.idx, "fwd_stage"), start_id=start_id,
                positions=g.positions, keyword_cols=g.keyword_fields,
                numeric_cols=g.numeric_fields,
            )
    with g.phases("dictionary"):
        add_frame = exploded_postings(
            spark.read.schema(g.fwd_schema).parquet(g.dirs["fwd"])
        ).groupBy("term").agg(F.count("*").alias("adds"))
        add_rows = (
            add_frame.limit(KNOWN_ID_IN_MAX + 1).collect()
            if int(staged["fwd"]["postings"]) > 0
            else []
        )
    return {
        "dead": np.sort(
            np.array([r.doc_id for r in rows if r.doc_id is not None], np.int64)
        ),
        "cursor": next(r.cursor for r in rows if r.doc_id is None),
        "n_add": int(staged["n_rows"]),
        "stats": staged["fwd"],  # {n, sum_dl, dl_min, postings}
        "staged": staged["input_staged"],
        "add_counts": {r.term: int(r.adds) for r in add_rows},
        "add_frame": add_frame,
    }


def _driver_segments(
    g: _Gen, fw: dict, dictionary: pa.Table, n_terms: int, id_span: int, cap: int
) -> dict:
    """The driver route's segments step: ``build.segments_local`` in this
    process over the forward step's fwd table, written with pyarrow."""
    segs = segments_local(
        fw["fwd"], dictionary.select(["term", "term_id"]), id_span, cap,
        g.gen, g.positions,
    )
    _write_gen_file(
        g.dirs["segments"], segs,
        row_group_size=_rows_per_group(segs, SEGMENT_ROW_GROUP_BYTES),
    )
    blobs = ("docs_blob", "tfs_blob") + (("pos_blob",) if g.positions else ())
    return {
        "rows": segs.num_rows,
        "bytes": sum(
            int(pc.sum(pc.binary_length(segs[c])).as_py() or 0) for c in blobs
        ),
    }


def _spark_gen_segments(
    g: _Gen, fw: dict, dictionary, n_terms: int, id_span: int, cap: int
) -> dict:
    """``_spark_segments`` over the new generation's fwd dir, which also
    holds the new docs' norms (the committed fwd snapshot does not yet).
    The norms cache version must be UNIQUE PER ATTEMPT: a replay of the
    same gen may re-stage its fwd with another (doc_id -> dl) packing, and
    reused Python workers would serve the crashed attempt's norms for the
    same (path, version) key; the manifest's commit_seq, bumped by the
    generation's ``running`` mark, is fresh for each attempt."""
    if isinstance(dictionary, pa.Table):
        dictionary = driver_frame(
            g.spark, dictionary, "term_id bigint, term string, df bigint"
        )
    fwd_dir = g.dirs["fwd"]
    return _spark_segments(
        g.spark.read.schema(g.fwd_schema).parquet(fwd_dir), fwd_dir, fwd_dir,
        int(g.cat.read_manifest(g.schema_version).get("commit_seq", 0)),
        dictionary, n_terms, id_span, cap, g.gen, g.positions, g.dirs["segments"],
    )


def _spark_segments(
    fwd: DataFrame, split_dir: str, norms, norms_version: int, dictionary: DataFrame,
    n_terms: int, id_span: int, cap: int, generation: int, positions: bool, path: str,
) -> dict:
    """The Spark route's segments step, shared with compaction:
    ``build.build_segments_spimi`` over ``fwd`` with term ids from
    ``dictionary`` (a commit's batch-scoped delta covers every term of its
    fwd) and norms from the fwd dir(s) ``norms``, written to ``path`` by
    ``build.write_segments``. Splits give ~3 tasks a core of
    ``split_dir``'s bytes, so the CPU-bound inversion parallelizes however
    few files the fwd writer left. -> {rows, postings, bytes}."""
    spark = fwd.sparkSession
    with scan_split_bytes(spark, fwd_split_bytes(spark, split_dir)):
        segs = build_segments_spimi(
            spark, fwd, id_span, cap, norms, norms_version, dictionary,
            generation=generation, n_terms=n_terms, positions=positions,
        )
        return write_segments(spark, segs, path, positions)


def _assign_term_ids(
    idx: str, delta: dict[str, int], max_tid: int
) -> tuple[pa.Table, int]:
    """Term ids for the batch's (term, df-delta) rows, on the driver: known
    ids are point lookups in the term-sorted dict_by_term generations
    (footer-pruned, so the dictionary READ is ∝ batch vocab x gens, never
    the corpus vocabulary); fresh ids extend ``max_tid`` in the (df desc,
    term asc) order of the build's dense rank.
    -> the (term_id, term, df) rows, the count of fresh terms."""
    from ..operators import dictionary as dict_mod

    known = dict_mod.lookup_term_info(idx, list(delta))
    fresh = sorted((t for t in delta if t not in known), key=lambda t: (-delta[t], t))
    terms = [t for t in delta if t in known] + fresh
    ids = [int(known[t][0]) for t in terms[: len(terms) - len(fresh)]]
    ids += range(max_tid + 1, max_tid + 1 + len(fresh))
    return pa.table(
        {
            "term_id": pa.array(ids, pa.int64()),
            "term": pa.array(terms, pa.string()),
            "df": pa.array([delta[t] for t in terms], pa.int64()),
        }
    ), len(fresh)


def _assign_term_ids_wide(
    spark: SparkSession, idx: str, add_frame: DataFrame, dels: dict[str, int],
    max_tid: int, cached: list,
) -> tuple[DataFrame, int, int]:
    """Term ids for a Spark-route batch vocabulary wider than
    KNOWN_ID_IN_MAX, on the executors: the adds' per-term counts fold
    with the decrements in a full join, known ids come from a semi-join
    against the committed dictionary, fresh ids by the dense rank of
    operators/docmap.py in (df desc, term asc) order from ``max_tid`` + 1.
    The frames it persists go on ``cached``.
    -> the (term_id, term, df) frame, batch terms, fresh terms."""
    dels_df = driver_frame(spark, sorted(dels.items()), "term string, dels bigint")
    deltas = add_frame.join(dels_df, "term", "full").select(
        "term",
        (
            F.coalesce(F.col("adds"), F.lit(0))
            - F.coalesce(F.col("dels"), F.lit(0))
        ).cast("bigint").alias("df"),
    ).persist()
    cached.append(deltas)
    known_ids = (
        _read_committed(
            spark, idx, "dictionary", "term string, term_id bigint", pinned=True
        )
        .join(F.broadcast(deltas.select("term")), "term", "left_semi")
        .groupBy("term")
        .agg(F.max("term_id").alias("term_id"))
    )
    batch_dict = deltas.join(known_ids, "term", "left").persist()
    cached.append(batch_dict)
    part, offsets = ranged_with_offsets(
        batch_dict.filter(F.col("term_id").isNull()).select("term", "df"),
        [F.desc("df"), F.asc("term")],
        start_id=max_tid + 1,
    )
    cached.append(part)
    fresh = with_dense_ids(part, offsets, "term_id")
    dictionary = (
        batch_dict.filter(F.col("term_id").isNotNull())
        .select("term_id", "term", "df")
        .unionByName(fresh.select("term_id", "term", "df"))
        .persist()
    )
    cached.append(dictionary)
    n = batch_dict.agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("term_id").isNull(), 1)).alias("fresh"),
    ).collect()[0]
    return dictionary, int(n.n), int(n.fresh)


def _write_dictionary(dictionary, path: str, by_term_path: str) -> None:
    """Write dictionary rows (term_id, term, df) and their term-sorted
    projection, both in small row groups (the term-seek layout): driver-
    held rows with pyarrow, a frame (the wide branch, compaction) with
    Spark's writers (``build.write_dict_by_term``)."""
    if isinstance(dictionary, DataFrame):
        dictionary.write.mode("overwrite").parquet(path)
        write_dict_by_term(dictionary, by_term_path)
    else:
        _write_gen_file(path, dictionary, row_group_size=50_000)
        _write_gen_file(
            by_term_path,
            dictionary.select(["term", "term_id", "df"]).sort_by("term"),
            row_group_size=50_000,
        )


def _apply_batch(
    spark: SparkSession, docs: DataFrame, cat: Catalog, schema_version: str,
    queue_urls: DataFrame | None, salt_group_cap: int | None, phases: _Phases,
    build: bool = False,
) -> dict:
    """The body of ``incremental_update`` on a clean committed state: one
    sequence for both routes. The route is decided once and contributes
    two steps, forward (``_driver_forward`` / ``_spark_forward``) and
    segments (``_driver_segments`` / ``_spark_gen_segments``); every
    other step is written once, here. ``build``: the batch is
    ``build_index``'s whole input over its empty committed state — it
    takes the Spark route unprobed, and the build logs its own
    ``full_build`` event in place of this commit's."""
    g = _Gen(spark, cat, schema_version, phases)
    m, idx, gen = g.m, g.idx, g.gen
    ver = int(m.get("table_ver", 0)) + 1
    counters = m.get("counters") or {}
    # index-level membership: an all-langs base index keeps accepting all
    # langs incrementally (and never routes a live non-en doc to delete)
    include_all_langs = bool(m.get("include_all_langs"))
    # frames this commit persists: unpersisted whether or not it lands
    cached: list[DataFrame] = []
    try:
        # ---- select the batch (T8 cursor or explicit queue) ---------------
        if queue_urls is not None:
            from ..operators.routing import dedup_last_write_wins

            # J3 within-batch dedup: a url re-queued twice in one batch
            # keeps only its newest revision (ToDictionary re-key + LWW,
            # T11); the resolved batch feeds both the tombstones and the
            # adds, so persist
            batch = with_should_index(
                dedup_last_write_wins(
                    queue_urls.select("url").distinct().join(docs, "url", "left")
                ),
                include_all_langs,
            ).persist()
            cached.append(batch)
            # a queued url the source no longer has resolves to nulls: delete
            is_add = F.coalesce(F.col("should_index"), F.lit(False))
        else:
            # cursor batches: the adds lineage is built straight off
            # ``docs`` (filter + select only), so when docs is a plain file
            # scan materialize_forward reads it without staging; an index
            # without a cursor (a build's empty state) has read nothing yet
            batch = docs if m["cursor"] is None else docs.filter(
                F.col("warc_ts") > F.lit(m["cursor"]).cast("timestamp")
            )
            is_add = should_index_expr(include_all_langs)
        adds = batch.filter(is_add).select(
            "url", "warc_ts", "html", *g.keyword_fields, *g.numeric_fields
        )

        # ---- route, decided once: a batch within the driver bounds commits
        # on the driver, a larger one — and a build, whatever its size —
        # on Spark. The probe carries no html.
        forward, segments = partial(_spark_forward, batch), _spark_gen_segments
        collected = {"route": "spark"}
        if not build:
            with phases("tombstones"):
                probe = _probe_batch(batch, is_add)
            html_bytes = int(pc.sum(probe["html_bytes"]).as_py() or 0)
            on_driver = (
                probe.num_rows <= DRIVER_BATCH_ROWS
                and html_bytes <= DRIVER_BATCH_HTML_BYTES
            )
            if on_driver:
                forward, segments = partial(_driver_forward, probe), _driver_segments
            collected = {
                "route": "driver" if on_driver else "spark",
                "collected_rows": probe.num_rows,
                "collected_html_bytes": html_bytes if on_driver else 0,
            }

        # ---- forward: an update tombstones the old docID and adds a fresh
        # one, a delete only tombstones; a no-op batch leaves its fwd/docmap
        # gen dirs to clean_orphan_generations
        with phases("forward"):
            docmap = _read_committed(
                spark, idx, "docmap", "url string, doc_id bigint", pinned=True
            )
            start_id = _next_doc_id(m, docmap)
        fw = forward(g, docmap, adds, start_id)
        dead_ids, new_cursor, n_add = fw["dead"], fw["cursor"], fw["n_add"]
        n_del = int(dead_ids.size)
        if n_add == 0 and n_del == 0:
            # still advance the cursor past a batch of purely non-indexable
            # rows — otherwise every later cursor batch re-scans them forever
            if queue_urls is None and new_cursor is not None and (
                m["cursor"] is None or str(new_cursor) > m["cursor"]
            ):
                m["cursor"] = str(new_cursor)
                cat.write_manifest(schema_version, m)
            return cat.read_manifest(schema_version)

        # ---- deleted docs' forward rows, read once; tombstone generation ---
        with phases("tombstones"):
            deleted = _deleted_forward(committed_gen_paths(idx, "fwd"), dead_ids)
            if n_del:
                _write_gen_file(
                    g.dirs["tombstones"],
                    pa.table({"doc_id": pa.array(dead_ids, pa.int64())}),
                )
        # the stats table is ONE row — read it driver-side with pyarrow
        st = pq.read_table(resolve_table_dir(idx, "stats")).to_pylist()[0]
        add_stats = fw["stats"]
        n_docs2 = int(st["n_docs"]) + int(add_stats["n"]) - deleted["n"]
        sum_dl2 = int(st["sum_dl"]) + int(add_stats["sum_dl"]) - deleted["sum_dl"]
        dl_min2 = int(st["dl_min"])
        if add_stats["dl_min"] is not None:
            # an empty index's dl_min of 0 is no doc's length
            dl_min2 = int(add_stats["dl_min"]) if int(st["n_docs"]) == 0 else min(
                dl_min2, int(add_stats["dl_min"])
            )
        total_postings2 = (
            int(st["total_postings"]) + int(add_stats["postings"])
            - deleted["postings"]
        )

        # ---- dictionary deltas: BATCH vocabulary only ----------------------
        # (term, term_id, df-delta) rows for exactly the terms the batch
        # touched (operators/dictionary.py merges the generations at read)
        with phases("dictionary"):
            max_tid = int(counters["max_term_id"])
            delta = dict(fw["add_counts"])
            for t, c in deleted["df"].items():
                delta[t] = delta.get(t, 0) - int(c)
            if fw["add_frame"] is None or len(delta) <= KNOWN_ID_IN_MAX:
                dictionary, n_fresh = _assign_term_ids(idx, delta, max_tid)
                n_batch_terms = len(delta)
            else:
                dictionary, n_batch_terms, n_fresh = _assign_term_ids_wide(
                    spark, idx, fw["add_frame"], deleted["df"], max_tid, cached
                )

        # ---- segments (ALL writes land in uncommitted dirs) ----------------
        written = {"rows": 0, "bytes": 0}
        if int(add_stats["postings"]) > 0:
            cap = salt_cap(spark, n_add, salt_group_cap)
            # the generation phase's wall time starts here; mark_phase also
            # bumps the manifest's monotonic commit_seq (the Spark route's
            # norms cache version)
            cat.mark_phase(schema_version, f"incremental_gen{gen}", "running")
            with phases("segments"):
                written = segments(
                    g, fw, dictionary, n_batch_terms, start_id + n_add, cap
                )
        # dictionary DELTAS append as gen=K, committed by the same
        # generations bump as segments/docmap — no versioned-table rewrite
        # of the corpus vocabulary per batch
        with phases("dictionary"):
            _write_dictionary(
                dictionary, g.dirs["dictionary"], g.dirs["dict_by_term"]
            )
        stats_name = f"stats_v{ver}"
        _write_stats_table(
            os.path.join(idx, stats_name), n_docs2, sum_dl2,
            float(sum_dl2) / n_docs2 if n_docs2 else 0.0,
            dl_min2, total_postings2,
        )

        # ---- ATOMIC commit: one manifest swap makes the generation visible -
        m = cat.read_manifest(schema_version)
        old_tables = dict(m.get("tables") or {})
        m["generations"] = gen + 1
        m["table_ver"] = ver
        m["tables"] = {**old_tables, "stats": stats_name}
        if new_cursor is not None and (
            m["cursor"] is None or str(new_cursor) > m["cursor"]
        ):
            m["cursor"] = str(new_cursor)
        m["counters"] = {
            "docs": n_docs2,
            "postings": total_postings2,
            # store size grows by the new generation's blob bytes
            # (tombstoned postings still occupy their old segments until
            # compaction — the ES store-size analog, ListIndicesCommand.cs:
            # 37-51)
            "bytes": int(counters.get("bytes") or 0) + written["bytes"],
            # U2-tagged running totals (the DogStatsd add/delete counters,
            # IndexQueueProcessor.cs:52,57) — surfaced by `index-list`
            "adds_total": int(counters.get("adds_total") or 0) + int(n_add),
            "deletes_total": int(counters.get("deletes_total") or 0) + n_del,
            "terms": int(counters["terms"]) + int(n_fresh),
            "max_term_id": max_tid + int(n_fresh),
            "next_doc_id": start_id + n_add,
        }
        cat.write_manifest(schema_version, m)
        cat.mark_phase(
            schema_version, f"incremental_gen{gen}", "done",
            adds=int(n_add), deletes=n_del, terms=m["counters"]["terms"],
            batch_terms=int(n_batch_terms), input_staged=fw["staged"],
            segment_rows=int(written["rows"]), **collected,
            **{f"{k}_s": round(v, 3) for k, v in phases.seconds.items()},
        )
        # U2 per-batch tagged metric event (the DogStatsd stream analog)
        if not build:
            emit_metric_event(
                idx, "incremental_commit", schema=schema_version,
                generation=gen, adds=int(n_add), deletes=n_del,
                batch_terms=int(n_batch_terms), docs=int(n_docs2),
                postings=int(total_postings2),
                bytes_added=int(written["bytes"]),
            )
        # GC: stats is the one table a commit repoints. Keep the current
        # dir and the one it superseded (a reader grace window); every
        # stats dir below the superseded one goes (the build's plain
        # ``stats`` is v0).
        below = _stats_ver(old_tables.get("stats", "stats"))
        for name in os.listdir(idx):
            if _stats_ver(name) < below:
                shutil.rmtree(os.path.join(idx, name), ignore_errors=True)
        return cat.read_manifest(schema_version)
    finally:
        for df_ in cached:
            df_.unpersist()


def _stats_ver(name: str) -> float:
    """The version of a stats dir name (``stats`` -> 0, ``stats_vK`` ->
    K); inf for any other name."""
    if name == "stats":
        return 0
    base, _, k = name.rpartition("_v")
    return int(k) if base == "stats" and k.isdigit() else float("inf")


def backfill_with_switch(
    spark: SparkSession,
    docs_at_start: DataFrame,
    docs_at_end: DataFrame,
    catalog: Catalog,
    schema_version: str,
    *,
    close_others: bool = True,
) -> dict:
    """T9 two-phase cutover (`pump-all --switch`): full build over the
    snapshot taken at start, then a catch-up incremental pass over rows that
    arrived during the build (warc_ts > build cursor), then the atomic alias
    swap. ``docs_at_end`` stands in for re-reading the live table after the
    backfill (tests pass a grown DataFrame; production passes the same
    table reference twice)."""
    from ..operators.build import build_index

    build_index(spark, docs_at_start, catalog, schema_version)
    m = incremental_update(spark, docs_at_end, catalog, schema_version)
    catalog.update_alias(schema_version, close_others=close_others)
    return m


def _assert_format(m: dict, index_name: str) -> None:
    """Writers must refuse indexes from an older on-disk format: an
    incremental applied to a legacy FLAT dictionary layout would stage
    gen=K inside the flat dir, after which committed_gen_paths sees gen=
    subdirs and silently stops reading the flat base files — the entire
    pre-existing vocabulary becomes invisible. Rebuild, don't mix."""
    from ..sources.catalog import FORMAT_VERSION

    fmt = m.get("format")
    if fmt != FORMAT_VERSION:
        raise RuntimeError(
            f"index {index_name} has on-disk format {fmt}, this engine "
            f"writes format {FORMAT_VERSION} — run a full rebuild before "
            "applying incremental updates or compaction"
        )


def _drain_gc_pending(cat: Catalog, schema_version: str) -> None:
    """Delete dirs a PREVIOUS compaction superseded (writer-entry deferred
    GC: by the time the next writer runs, any reader that pinned the old
    snapshot has long finished)."""
    m = cat.read_manifest(schema_version)
    if not m or not m.get("gc_pending"):
        return
    for d in m["gc_pending"]:
        shutil.rmtree(d, ignore_errors=True)
    m["gc_pending"] = []
    cat.write_manifest(schema_version, m)


def compact_index(
    spark: SparkSession, catalog: Catalog, schema_version: str,
    salt_group_cap: int | None = None,
) -> dict:
    """Segment-merge analog: rewrite segments from live forward rows only,
    clear tombstones, drop dead rows from fwd/docmap. Query results are
    unchanged (stats were already exact). Atomic like the incremental path:
    everything is written to fresh {table}_v{K} dirs and committed by the
    single manifest swap; the superseded dirs are deleted afterwards. The
    segments go through the Spark route's segments step
    (``_spark_segments``) and the dictionary through the commit's frame
    writer (``_write_dictionary``); every Spark job is named by its phase
    (``compact: <phase>``), whose seconds land in the manifest's
    ``compact`` phase as ``<phase>_s``."""
    cat = catalog
    m = _enter_writer(spark, cat, schema_version)
    idx = cat.index_dir(schema_version)
    ver = int(m.get("table_ver", 0)) + 1
    # tombstones repoint at a fresh EMPTY versioned name, never written
    # (readers of a missing dir see no tombstones): the old dir must outlive
    # the swap for pinned readers, so it cannot simply be deleted here
    tables = ("segments", "fwd", "docmap", "dictionary", "dict_by_term", "tombstones")
    names = {t: f"{t}_v{ver}" for t in tables}
    out = {t: os.path.join(idx, name, "gen=0") for t, name in names.items()}
    tombs = _read_committed(spark, idx, "tombstones", TOMB_SCHEMA, pinned=True)
    fwd_old_paths = committed_gen_paths(idx, "fwd")
    fwd_dir = resolve_table_dir(idx, "fwd")
    phases = _Phases(spark, "compact")
    cached: list[DataFrame] = []
    new_bytes = 0
    try:
        # the rewrites all scan the old fwd and its derived tables, so
        # their (lazy) writes run inside the fwd's split size — outside it
        # they'd run with the session default splits and under-partition
        # the CPU-bound rewrite pass
        with scan_split_bytes(spark, fwd_split_bytes(spark, fwd_dir)):
            with phases("dictionary"):
                from ..operators.dictionary import read_dictionary_merged

                # fold all delta generations into one full snapshot
                # (dropping terms whose df went to 0) — the
                # dictionary-compaction half of the merge
                dictionary = read_dictionary_merged(spark, idx).filter(
                    F.col("df") > 0
                ).persist()
                cached.append(dictionary)
                n_terms_live = dictionary.count()
            with phases("forward"):
                fwd = spark.read.parquet(*fwd_old_paths).join(
                    tombs, "doc_id", "left_anti"
                )
                docmap_all = _read_committed(spark, idx, "docmap", DOCMAP_SCHEMA)
                # the docID bound survives the compaction unchanged (never
                # shrunk): dropping the dead rows must not hand their ids
                # out again
                next_doc_id = _next_doc_id(m, docmap_all)
                docmap = docmap_all.join(tombs, "doc_id", "left_anti")
                max_live = docmap.agg(F.max("doc_id")).collect()[0][0]
            # a fully-deleted index (no live doc) writes no segments and
            # commits an EMPTY (absent) segments dir — readers treat a
            # missing/empty table as zero postings
            if max_live is not None:
                id_span = int(max_live) + 1
                # norms from the PRE-compaction fwd snapshot (includes dead
                # docs — harmless, their entries are never indexed by live
                # postings); the bytes counter can only shrink here
                with phases("segments"):
                    new_bytes = _spark_segments(
                        fwd, fwd_dir, tuple(fwd_old_paths),
                        int(m.get("commit_seq", 0)), dictionary, n_terms_live,
                        id_span, salt_cap(spark, id_span, salt_group_cap), 0,
                        bool(m.get("positions")), out["segments"],
                    )["bytes"]
            with phases("forward"):
                # keep the rewritten fwd splittable for the next inversion
                fwd.write.mode("overwrite").option(
                    "parquet.block.size", str(FWD_ROW_GROUP_BYTES)
                ).parquet(out["fwd"])
                docmap.write.mode("overwrite").parquet(out["docmap"])
            with phases("dictionary"):
                _write_dictionary(
                    dictionary, out["dictionary"], out["dict_by_term"]
                )
    finally:
        phases.close()
        for df_ in cached:
            df_.unpersist()

    # ATOMIC commit; superseded dirs are NOT deleted here — a reader that
    # pinned its snapshot pre-swap (LocalSearcher holds file lists; an
    # in-flight wand job planned against the old committed paths) must be
    # able to finish. They are recorded as gc_pending and removed on the
    # NEXT writer entry (_drain_gc_pending), the same deferred-cleanup
    # contract the incremental path's one-version grace window gives.
    m = cat.read_manifest(schema_version)
    old_dirs = [resolve_table_dir(idx, t) for t in names]
    m["tables"] = {**(m.get("tables") or {}), **names}
    m["generations"] = 1
    m["table_ver"] = ver
    # max_term_id and next_doc_id are PRESERVED (never shrunk) so dense id
    # assignment can never reuse a dropped term's or doc's id while any
    # pinned reader still holds pre-compaction state; terms reflects the
    # live vocabulary
    m["counters"] = {
        **(m.get("counters") or {}),
        "bytes": new_bytes,
        "terms": int(n_terms_live),
        "next_doc_id": next_doc_id,
    }
    m["gc_pending"] = sorted(set(m.get("gc_pending") or []) | set(old_dirs))
    cat.write_manifest(schema_version, m)
    cat.mark_phase(
        schema_version, "compact", "done",
        **{f"{k}_s": round(v, 3) for k, v in phases.seconds.items()},
    )
    emit_metric_event(
        idx, "compact", schema=schema_version, bytes=int(new_bytes),
        terms=int(n_terms_live),
    )
    return cat.read_manifest(schema_version)
