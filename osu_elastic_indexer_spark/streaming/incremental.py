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

One commit, phase by phase (each phase names its Spark jobs with
``setJobDescription`` and its seconds land in the manifest's
``incremental_genN`` phase as ``<phase>_s``):
  tombstones  deletes are POINT deletes by key, so their cost follows the
              batch: ONE job resolves the batch's tombstones to the driver
              (committed docmap ⋉ changed urls ▷ old tombstones -> sorted
              doc_ids), and the batch cursor max(warc_ts) rides that job as
              one more row. The tombstoned docs' forward rows are then
              read ONCE, driver-side, from the doc_id-clustered fwd table
              (footer statistics prune row groups): they give the deleted
              docs' stats (n, sum_dl, postings) and the per-term df
              decrements. The tombstone generation is written from the
              driver-held ids with pyarrow.
  forward     fresh docIDs start at the manifest's ``next_doc_id`` counter
              (written by build_index and every commit, carried over by
              compaction — dead ids are never reused); the adds' fwd and
              docmap generations are written by one scan
              (operators/build.materialize_forward), their stats riding
              the writes.
  dictionary  the adds' per-term counts (one job) fold with the decrements
              into the batch's (term, df-delta) rows; known term ids are
              point lookups in the term-sorted dictionary, fresh ids extend
              the ``max_term_id`` counter; the delta gen is written with
              pyarrow. A batch vocabulary wider than KNOWN_ID_IN_MAX takes
              the distributed semi-join instead.
  segments    the new generation's fwd is inverted into segment rows.

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
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.build import (
    FWD_SCHEMA,
    GROUP_BATCH_ROWS,
    SEGMENT_ROW_GROUP_BYTES,
    _write_stats_table,
    arrow_batch_rows,
    build_segments_spimi,
    exploded_postings,
    fwd_split_bytes,
    materialize_forward,
    scan_split_bytes,
    write_dict_by_term,
)
from ..operators.docmap import assign_dense_ids
from ..operators.routing import should_index_expr, with_should_index
from ..operators.state import _parquet_files
from ..sources.catalog import (
    Catalog,
    clean_orphan_generations,
    committed_gen_paths,
    emit_metric_event,
    resolve_table_dir,
)

DOCMAP_SCHEMA = "url string, warc_ts timestamp, doc_id bigint"
TOMB_SCHEMA = "doc_id bigint"

# known-id resolution: batches whose vocabulary fits under this bound use a
# driver-held IN filter against the term-sorted dict_by_term projection
# (row-group-pruned point lookups); wider batches fall back to the
# distributed semi-join (a pushed IN list that wide costs more than the
# scan it prunes, and such a batch is approaching rebuild volume anyway)
KNOWN_ID_IN_MAX = 100_000


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
        return spark.createDataFrame([], schema)
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


def _deleted_forward(fwd_paths: list[str], dead: np.ndarray) -> dict:
    """The tombstoned docs' forward rows, read once driver-side: row groups
    are pruned by their doc_id footer statistics against the sorted
    ``dead`` ids (the fwd table is doc_id-clustered, so a point delete
    reads about one row group), and only doc_id/dl/terms are decoded.

    -> {"n", "sum_dl", "postings", "df": {term: docs holding it}} — the
    deleted docs' collection stats and per-term df decrements."""
    out = {"n": 0, "sum_dl": 0, "postings": 0, "df": {}}
    if not dead.size:
        return out
    want = pa.array(dead, pa.int64())
    terms = []
    for f in _parquet_files(tuple(fwd_paths)):
        pf = pq.ParquetFile(f)
        md = pf.metadata
        if md.num_rows == 0 or md.num_row_groups == 0:
            continue
        col = next(
            i
            for i in range(md.row_group(0).num_columns)
            if md.row_group(0).column(i).path_in_schema == "doc_id"
        )
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(col).statistics
            if st is not None and st.has_min_max and (
                np.searchsorted(dead, st.min, "left")
                == np.searchsorted(dead, st.max, "right")
            ):
                continue  # no dead id inside this group's [min, max]
            t = pf.read_row_group(g, columns=["doc_id", "dl", "terms"])
            t = t.filter(pc.is_in(t.column("doc_id"), value_set=want))
            if t.num_rows:
                out["n"] += t.num_rows
                out["sum_dl"] += int(pc.sum(t.column("dl")).as_py() or 0)
                terms.append(pc.list_flatten(t.column("terms")))
    if terms:
        flat = pa.chunked_array(terms, pa.string())
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
    from ..session import ship_package

    ship_package(spark)
    cat = catalog
    cat.assert_writable(schema_version)
    m = cat.read_manifest(schema_version)
    assert m is not None and m["phases"].get("commit"), "no base index to update"
    _assert_format(m, cat.index_name(schema_version))
    idx = cat.index_dir(schema_version)
    # T7 replay safety: remove anything a crashed generation left behind
    clean_orphan_generations(idx)
    _drain_gc_pending(cat, schema_version)
    phases = _Phases(spark, f"incremental gen={int(m['generations'])}")
    try:
        return _apply_batch(
            spark, docs, cat, schema_version, queue_urls, salt_group_cap,
            phases,
        )
    finally:
        phases.close()


def _apply_batch(
    spark: SparkSession,
    docs: DataFrame,
    cat: Catalog,
    schema_version: str,
    queue_urls: DataFrame | None,
    salt_group_cap: int | None,
    phases: _Phases,
) -> dict:
    """The body of ``incremental_update`` on a clean committed state."""
    m = cat.read_manifest(schema_version)
    idx = cat.index_dir(schema_version)
    # positional (v2) indexes: every generation carries the pos sidecar —
    # materialize_forward/build_segments_spimi thread the flag below, so
    # multi-generation positional phrase queries stay correct
    positions = bool(m.get("positions"))
    # declared docmap keyword columns (build_index(keyword_fields=...)) —
    # every generation's docmap must carry them or filter_term scans over
    # multi-generation indexes would silently miss newer docs
    keyword_fields = tuple(m.get("keyword_fields") or ())
    numeric_fields = tuple(m.get("numeric_fields") or ())
    # index-level membership: an all-langs base index keeps accepting all
    # langs incrementally (and never routes a live non-en doc to delete)
    include_all_langs = bool(m.get("include_all_langs"))
    gen = int(m["generations"])
    ver = int(m.get("table_ver", 0)) + 1
    counters = m.get("counters") or {}

    # ---- select the batch (T8 cursor or explicit queue) -------------------
    carried = ("url", "warc_ts", "html", *keyword_fields, *numeric_fields)
    if queue_urls is not None:
        from ..operators.routing import dedup_last_write_wins

        # J3 within-batch dedup: a url re-queued twice in one batch keeps
        # only its newest revision (ToDictionary re-key + LWW, T11); the
        # resolved batch feeds both the tombstones and the adds, so persist
        batch = with_should_index(
            dedup_last_write_wins(
                queue_urls.select("url").distinct().join(docs, "url", "left")
            ),
            include_all_langs,
        ).persist()
        adds = batch.filter(F.col("should_index")).select(*carried)
    else:
        # cursor batches: the adds lineage is built straight off ``docs``
        # (filter + select only) so materialize_forward's direct no-staging
        # path applies when docs is a plain file scan; the tombstone job
        # reads just (url, warc_ts) of the same rows
        batch = docs.filter(
            F.col("warc_ts") > F.lit(m["cursor"]).cast("timestamp")
        )
        adds = batch.filter(should_index_expr(include_all_langs)).select(
            *carried
        )

    # ---- tombstones: ONE job, driver-held sorted ids -----------------------
    # every changed url that is currently live gets its old docID tombstoned
    # (update -> delete+add with fresh id; delete -> tombstone only). The
    # batch cursor (max ignores the nulls a queue-resolve leaves) is one
    # more row of the same job: a global aggregate always yields its row,
    # where an Observation on the batch is dropped whenever adaptive
    # execution prunes an empty join side.
    with phases("tombstones"):
        docmap = _read_committed(
            spark, idx, "docmap", "url string, doc_id bigint", pinned=True
        )
        old_tombs = _read_committed(
            spark, idx, "tombstones", TOMB_SCHEMA, pinned=True
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
    new_cursor = next(r.cursor for r in rows if r.doc_id is None)
    dead_ids = np.sort(
        np.array([r.doc_id for r in rows if r.doc_id is not None], np.int64)
    )
    n_del = int(dead_ids.size)

    # ---- forward: fresh docIDs extend the space from the counter ----------
    fwd_gen_dir = f"{resolve_table_dir(idx, 'fwd')}/gen={gen}"
    dm_gen_dir = f"{resolve_table_dir(idx, 'docmap')}/gen={gen}"
    with phases("forward"):
        start_id = _next_doc_id(m, docmap)
        # the new generation's fwd/docmap are STAGED into their
        # (uncommitted) gen dirs right away: one heavy scan,
        # file-deterministic id projection (operators/build.
        # materialize_forward); a no-op batch leaves them as orphans for
        # clean_orphan_generations. n_add comes from the staging offsets
        # and the forward-table stats ride the fwd write.
        staged = materialize_forward(
            spark, adds, fwd_gen_dir, dm_gen_dir,
            os.path.join(idx, "_fwd_stage"), start_id=start_id,
            positions=positions, keyword_cols=keyword_fields,
            numeric_cols=numeric_fields,
        )
    n_add = int(staged["n_rows"])
    add_stats = staged["fwd"]  # {n, sum_dl, dl_min, postings}

    if n_add == 0 and n_del == 0:
        # still advance the cursor past a batch of purely non-indexable rows
        # — otherwise every subsequent cursor batch re-scans them forever
        if queue_urls is None and new_cursor is not None and (
            m["cursor"] is None or str(new_cursor) > m["cursor"]
        ):
            m["cursor"] = str(new_cursor)
            cat.write_manifest(schema_version, m)
        batch.unpersist()
        return cat.read_manifest(schema_version)

    # ---- deleted docs' forward rows, read once; tombstone generation -------
    with phases("tombstones"):
        deleted = _deleted_forward(committed_gen_paths(idx, "fwd"), dead_ids)
        if n_del:
            _write_gen_file(
                f"{resolve_table_dir(idx, 'tombstones')}/gen={gen}",
                pa.table({"doc_id": pa.array(dead_ids, pa.int64())}),
            )
    # the stats table is ONE row — read it driver-side with pyarrow
    st = pq.read_table(resolve_table_dir(idx, "stats")).to_pylist()[0]
    n_docs2 = int(st["n_docs"]) + int(add_stats["n"]) - deleted["n"]
    sum_dl2 = int(st["sum_dl"]) + int(add_stats["sum_dl"]) - deleted["sum_dl"]
    dl_min2 = int(st["dl_min"])
    if add_stats["dl_min"] is not None:
        dl_min2 = min(dl_min2, int(add_stats["dl_min"]))
    total_postings2 = (
        int(st["total_postings"]) + int(add_stats["postings"])
        - deleted["postings"]
    )
    fwd_reader = spark.read.schema(
        FWD_SCHEMA + (", poss array<bigint>" if positions else "")
    )

    # ---- dictionary deltas: BATCH vocabulary only --------------------------
    # The dictionary is generational (operators/dictionary.py): this commit
    # appends gen=K delta rows (term, term_id, df-delta) for exactly the
    # terms the batch touched — write volume ~ batch vocab, never corpus
    # vocab. Fresh terms extend the dense id space from the manifest's
    # max_term_id counter (no vocabulary scan at all on the happy path).
    with phases("dictionary"):
        max_tid = counters.get("max_term_id")
        n_terms_old = counters.get("terms")
        if max_tid is None or n_terms_old is None:
            # legacy manifest without vocab counters: one recovery scan
            from ..operators.dictionary import read_dictionary_merged

            magg = read_dictionary_merged(spark, idx).agg(
                F.max("term_id").alias("mt"), F.count("*").alias("n")
            ).collect()[0]
            max_tid = int(magg.mt) if magg.mt is not None else -1
            n_terms_old = int(magg.n)
        # the adds' per-term counts: one job (none for a delete-only batch),
        # probed against the driver-resolved bound; the deleted docs'
        # decrements fold in driver-side
        add_df = exploded_postings(fwd_reader.parquet(fwd_gen_dir)).groupBy(
            "term"
        ).agg(F.count("*").alias("adds"))
        add_rows = (
            add_df.limit(KNOWN_ID_IN_MAX + 1).collect()
            if int(add_stats["postings"]) > 0
            else []
        )
        delta = {r.term: int(r.adds) for r in add_rows}
        for t, c in deleted["df"].items():
            delta[t] = delta.get(t, 0) - int(c)
        n_batch_terms = len(delta)
        dict_rows = None
        extra_persisted: list[DataFrame] = []
        if n_batch_terms <= KNOWN_ID_IN_MAX:
            # known ids: the term-sorted dict_by_term generations with the
            # batch vocabulary as the probe — parquet row-group pruning
            # makes the per-batch dictionary READ ∝ batch vocab x gens,
            # never O(corpus vocabulary). Fresh ids are then assigned
            # driver-side in the SAME (df desc, term asc) total order
            # assign_dense_ids would use — no join, no dense-rank jobs.
            from ..operators import dictionary as dict_mod

            known_map = dict_mod.lookup_term_info(spark, idx, list(delta))
            fresh = sorted(
                (t for t in delta if t not in known_map),
                key=lambda t: (-delta[t], t),
            )
            n_fresh = len(fresh)
            dict_rows = [
                (int(known_map[t][0]), t, df)
                for t, df in delta.items()
                if t in known_map
            ] + [
                (int(max_tid) + 1 + i, t, delta[t])
                for i, t in enumerate(fresh)
            ]
            dict_delta = spark.createDataFrame(
                dict_rows, "term_id bigint, term string, df bigint"
            )
        else:
            # degenerate giant-vocab batch (approaching rebuild volume): a
            # probe this wide costs more than the scan it prunes — fall
            # back to the distributed semi-join + dense-rank assignment
            dels = spark.createDataFrame(
                sorted(deleted["df"].items()), "term string, dels bigint"
            )
            deltas = add_df.join(dels, "term", "full").select(
                "term",
                (
                    F.coalesce(F.col("adds"), F.lit(0))
                    - F.coalesce(F.col("dels"), F.lit(0))
                ).cast("bigint").alias("df"),
            ).persist()
            dict_committed = spark.read.parquet(
                *committed_gen_paths(idx, "dictionary")
            )
            known_ids = (
                dict_committed.join(
                    F.broadcast(deltas.select("term")), "term", "left_semi"
                )
                .groupBy("term")
                .agg(F.max("term_id").alias("term_id"))
            )
            batch_dict = deltas.join(known_ids, "term", "left").persist()
            known = batch_dict.filter(F.col("term_id").isNotNull()).select(
                "term_id", "term", "df"
            )
            fresh_df = assign_dense_ids(
                batch_dict.filter(F.col("term_id").isNull()).select(
                    "term", "df"
                ),
                [F.desc("df"), F.asc("term")],
                "term_id",
                start_id=int(max_tid) + 1,
            ).select("term_id", "term", "df")
            dict_delta = known.unionByName(fresh_df).persist()
            extra_persisted += [deltas, batch_dict, dict_delta]
            bd_agg = batch_dict.agg(
                F.count("*").alias("n"),
                F.count(F.when(F.col("term_id").isNull(), 1)).alias("fresh"),
            ).collect()[0]
            n_batch_terms = int(bd_agg.n)
            n_fresh = int(bd_agg.fresh)
    n_terms2 = int(n_terms_old) + int(n_fresh)
    max_tid2 = int(max_tid) + int(n_fresh)

    # ---- segments (ALL writes land in uncommitted dirs) --------------------
    seg_bytes_added = 0
    if int(add_stats["postings"]) > 0:
        id_span = start_id + n_add
        cap = salt_group_cap or max(50_000, max(n_add, 1) // 8)
        # norms version must be UNIQUE PER ATTEMPT, not per generation: a
        # crash-and-replay of the same gen re-stages fwd_gen_dir with
        # possibly different (doc_id -> dl) packing, and reused python
        # workers would serve the crashed attempt's cached norms for the
        # same (path, version) key. mark_phase bumps the manifest's
        # monotonic commit_seq, so reading it here gives each attempt a
        # fresh cache version (and a staging wall-time record).
        cat.mark_phase(schema_version, f"incremental_gen{gen}", "running")
        norms_ver = int(
            (cat.read_manifest(schema_version) or {}).get("commit_seq", 0)
        )
        # the merge loads the NEW docs' norms executor-side from the staged
        # fwd gen dir (they are not in the committed fwd snapshot yet)
        # the batch-scoped delta dictionary covers every term in the gen's
        # fwd (adds are a subset of the delta vocabulary) — the spimi join
        # only needs ids for the batch's own terms, never the whole
        # vocabulary. Split the gen's fwd fine (it may be as few files as
        # the delta input had partitions — often ONE) so the CPU-bound
        # inversion parallelizes; fwd row groups are written small for
        # exactly this.
        with phases("segments"), scan_split_bytes(
            spark, fwd_split_bytes(spark, fwd_gen_dir)
        ):
            segs, _d, sub = build_segments_spimi(
                spark, fwd_reader.parquet(fwd_gen_dir), id_span, cap,
                fwd_gen_dir, norms_ver, generation=gen, dictionary=dict_delta,
                n_terms=int(n_batch_terms), positions=positions,
            )
            # blob-bytes counter rides the write job itself (CollectMetrics
            # on the plan) instead of a follow-up re-scan of the generation
            obs = Observation(f"seg_bytes_gen{gen}")
            blob_bytes = F.length("docs_blob") + F.length("tfs_blob")
            if positions:
                blob_bytes = blob_bytes + F.length("pos_blob")
            with arrow_batch_rows(spark, GROUP_BATCH_ROWS):
                segs.observe(
                    obs,
                    F.coalesce(F.sum(blob_bytes), F.lit(0)).alias("b"),
                ).sortWithinPartitions("term_id", "salt").write.mode(
                    "overwrite"
                ).option(
                    "parquet.block.size", str(SEGMENT_ROW_GROUP_BYTES)
                ).parquet(f"{resolve_table_dir(idx, 'segments')}/gen={gen}")
            sub.unpersist()
            seg_bytes_added = int(obs.get["b"])
    # dictionary DELTAS append as gen=K (batch vocabulary only), committed
    # by the same generations bump as segments/docmap — no versioned-table
    # rewrite of the corpus vocabulary per batch. Driver-held delta rows
    # (fast path) are written directly with pyarrow; wider batches keep the
    # distributed writes.
    dict_gen_dir = f"{resolve_table_dir(idx, 'dictionary')}/gen={gen}"
    bt_gen_dir = f"{resolve_table_dir(idx, 'dict_by_term')}/gen={gen}"
    with phases("dictionary"):
        if dict_rows is not None:
            dt = pa.table(
                {
                    "term_id": pa.array([r[0] for r in dict_rows], pa.int64()),
                    "term": pa.array([r[1] for r in dict_rows], pa.string()),
                    "df": pa.array([r[2] for r in dict_rows], pa.int64()),
                }
            )
            _write_gen_file(dict_gen_dir, dt, row_group_size=50_000)
            # term-SORTED projection with small row groups (the same
            # term-seek layout write_dict_by_term produces)
            _write_gen_file(
                bt_gen_dir,
                dt.select(["term", "term_id", "df"]).sort_by("term"),
                row_group_size=50_000,
            )
        else:
            dict_delta.write.mode("overwrite").parquet(dict_gen_dir)
            write_dict_by_term(dict_delta, bt_gen_dir)
    stats_name = f"stats_v{ver}"
    _write_stats_table(
        os.path.join(idx, stats_name), n_docs2, sum_dl2,
        float(sum_dl2) / n_docs2 if n_docs2 else 0.0,
        dl_min2, total_postings2,
    )

    # ---- ATOMIC commit: one manifest swap makes the generation visible -----
    m = cat.read_manifest(schema_version)
    old_tables = dict(m.get("tables") or {})
    m["generations"] = gen + 1
    m["table_ver"] = ver
    m["tables"] = {**old_tables, "stats": stats_name}
    if new_cursor is not None and (m["cursor"] is None or str(new_cursor) > m["cursor"]):
        m["cursor"] = str(new_cursor)
    old_counters = m.get("counters") or {}
    m["counters"] = {
        "docs": n_docs2,
        "postings": total_postings2,
        # store size grows by the new generation's blob bytes (tombstoned
        # postings still occupy their old segments until compaction — the
        # ES store-size analog, ListIndicesCommand.cs:37-51)
        "bytes": int(old_counters.get("bytes") or 0) + seg_bytes_added,
        # U2-tagged running totals (the DogStatsd add/delete counters,
        # IndexQueueProcessor.cs:52,57) — surfaced by `index-list`
        "adds_total": int(old_counters.get("adds_total") or 0) + int(n_add),
        "deletes_total": int(old_counters.get("deletes_total") or 0) + int(n_del),
        "terms": int(n_terms2),
        "max_term_id": int(max_tid2),
        "next_doc_id": start_id + n_add,
    }
    cat.write_manifest(schema_version, m)
    cat.mark_phase(
        schema_version, f"incremental_gen{gen}", "done",
        adds=int(n_add), deletes=int(n_del), terms=int(n_terms2),
        batch_terms=int(n_batch_terms),
        **{f"{k}_s": round(v, 3) for k, v in phases.seconds.items()},
    )
    # U2 per-batch tagged metric event (the DogStatsd stream analog)
    emit_metric_event(
        idx, "incremental_commit", schema=schema_version, generation=gen,
        adds=int(n_add), deletes=int(n_del), batch_terms=int(n_batch_terms),
        docs=int(n_docs2), postings=int(total_postings2),
        bytes_added=int(seg_bytes_added),
    )
    # GC superseded versioned dirs (keep one version of history behind the
    # pointer as a reader grace window; compaction clears the rest). Only
    # dirs whose pointer MOVED in this commit are candidates: after a
    # compaction, segments/fwd/docmap/tombstones stay pinned at _vK across
    # incremental commits, so an unconditional suffix<=ver-2 sweep would
    # rmtree the live data on the second incremental.
    for table, name in old_tables.items():
        if m["tables"].get(table) == name:
            continue  # still current — not superseded
        _, _, suffix = name.rpartition("_v")
        if suffix.isdigit() and int(suffix) <= ver - 2:
            shutil.rmtree(os.path.join(idx, name), ignore_errors=True)
    for df_ in (batch, *extra_persisted):
        df_.unpersist()
    return cat.read_manifest(schema_version)


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
    spark: SparkSession,
    catalog: Catalog,
    schema_version: str,
    salt_group_cap: int | None = None,
) -> dict:
    """Segment-merge analog: rewrite segments from live forward rows only,
    clear tombstones, drop dead rows from fwd/docmap. Query results are
    unchanged (stats were already exact). Atomic like the incremental path:
    everything is written to fresh {table}_v{K} dirs and committed by the
    single manifest swap; the superseded dirs are deleted afterwards."""
    cat = catalog
    cat.assert_writable(schema_version)
    m = cat.read_manifest(schema_version)
    _assert_format(m or {}, cat.index_name(schema_version))
    idx = cat.index_dir(schema_version)
    clean_orphan_generations(idx)
    _drain_gc_pending(cat, schema_version)
    m = cat.read_manifest(schema_version)
    ver = int(m.get("table_ver", 0)) + 1

    tombs = _read_committed(spark, idx, "tombstones", TOMB_SCHEMA, pinned=True)
    fwd_old_paths = committed_gen_paths(idx, "fwd")
    names = {}
    with scan_split_bytes(
        spark, fwd_split_bytes(spark, resolve_table_dir(idx, "fwd"))
    ):
        from ..operators.dictionary import read_dictionary_merged

        fwd = spark.read.parquet(*fwd_old_paths).join(tombs, "doc_id", "left_anti")
        # fold all delta generations into one full snapshot (dropping terms
        # whose df went to 0) — the dictionary-compaction half of the merge
        dictionary = read_dictionary_merged(spark, idx).filter(
            F.col("df") > 0
        ).persist()
        docmap_all = _read_committed(spark, idx, "docmap", DOCMAP_SCHEMA)
        # the docID bound survives the compaction unchanged (never shrunk):
        # dropping the dead rows must not hand their ids out again
        next_doc_id = _next_doc_id(m, docmap_all)
        docmap = docmap_all.join(tombs, "doc_id", "left_anti")
        max_live = docmap.agg(F.max("doc_id")).collect()[0][0]
        names["segments"] = f"segments_v{ver}"
        new_bytes = 0
        if max_live is None:
            # fully-deleted index: commit an EMPTY (absent) segments dir —
            # readers treat a missing/empty table as zero postings
            sub = None
        else:
            id_span = int(max_live) + 1
            cap = salt_group_cap or max(50_000, id_span // 64)
            # norms from the PRE-compaction fwd snapshot (includes dead docs
            # — harmless, their entries are never indexed by live postings)
            segs, _d, sub = build_segments_spimi(
                spark, fwd, id_span, cap,
                tuple(fwd_old_paths), int(m.get("commit_seq", 0)),
                generation=0, dictionary=dictionary,
                positions=bool(m.get("positions")),
            )
            # bytes counter rides the write (the only place it can shrink:
            # dead postings are gone after the rewrite)
            obs = Observation(f"compact_bytes_v{ver}")
            cblob = F.length("docs_blob") + F.length("tfs_blob")
            if m.get("positions"):
                cblob = cblob + F.length("pos_blob")
            with arrow_batch_rows(spark, GROUP_BATCH_ROWS):
                segs.observe(
                    obs,
                    F.coalesce(F.sum(cblob), F.lit(0)).alias("b"),
                ).sortWithinPartitions("term_id", "salt").write.mode(
                    "overwrite"
                ).option(
                    "parquet.block.size", str(SEGMENT_ROW_GROUP_BYTES)
                ).parquet(os.path.join(idx, names["segments"], "gen=0"))
            new_bytes = int(obs.get["b"])
        # the fwd/docmap/dictionary rewrites scan the SAME old fwd/derived
        # tables, so their (lazy) writes must execute inside this split-size
        # context too — outside it they'd run with the session default
        # splits and under-partition the CPU-bound rewrite pass
        for table, df_ in (("fwd", fwd), ("docmap", docmap)):
            names[table] = f"{table}_v{ver}"
            w = df_.write.mode("overwrite")
            if table == "fwd":
                # keep the rewritten fwd splittable for the next inversion
                from ..operators.build import FWD_ROW_GROUP_BYTES

                w = w.option("parquet.block.size", str(FWD_ROW_GROUP_BYTES))
            w.parquet(os.path.join(idx, names[table], "gen=0"))
        names["dictionary"] = f"dictionary_v{ver}"
        dictionary.write.mode("overwrite").parquet(
            os.path.join(idx, names["dictionary"], "gen=0")
        )
        names["dict_by_term"] = f"dict_by_term_v{ver}"
        write_dict_by_term(
            dictionary, os.path.join(idx, names["dict_by_term"], "gen=0")
        )
        n_terms_live = dictionary.count()
    if sub is not None:
        sub.unpersist()
    dictionary.unpersist()
    # repoint tombstones at a fresh EMPTY versioned name (never written —
    # readers of a missing dir see no tombstones); the old dir must outlive
    # the swap for pinned readers, so it cannot simply be deleted here
    names["tombstones"] = f"tombstones_v{ver}"

    # ATOMIC commit; superseded dirs are NOT deleted here — a reader that
    # pinned its snapshot pre-swap (LocalSearcher holds file lists; an
    # in-flight wand job planned against the old committed paths) must be
    # able to finish. They are recorded as gc_pending and removed on the
    # NEXT writer entry (_drain_gc_pending), the same deferred-cleanup
    # contract the incremental path's one-version grace window gives.
    m = cat.read_manifest(schema_version)
    old_dirs = [
        resolve_table_dir(idx, t)
        for t in (
            "segments", "fwd", "docmap", "dictionary", "dict_by_term",
            "tombstones",
        )
    ]
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
    m["gc_pending"] = sorted(
        set(m.get("gc_pending") or []) | set(old_dirs)
    )
    cat.write_manifest(schema_version, m)
    cat.mark_phase(schema_version, "compact", "done")
    emit_metric_event(
        idx, "compact", schema=schema_version, bytes=int(new_bytes),
        terms=int(n_terms_live),
    )
    return cat.read_manifest(schema_version)
