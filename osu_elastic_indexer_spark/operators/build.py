"""Index build: SPIMI posting construction -> salted term merge -> segments.

The Spark re-expression of the reference's whole write path
(queue pump -> hydrate -> route -> bulk index; IndexQueueProcessor.cs:39-77,
PumpAllScoresCommand.cs:70-110), fused into one declarative pipeline plus the
part the reference delegates to Lucene: building the inverted index itself.

``build_index`` is the index's first commit: it commits an empty state and
applies the whole input as one cursor batch through the incremental
commit's one sequence (streaming/incremental.py ``_apply_batch``), on its
Spark route; compaction writes its segments through that route's segments
step. One write path, one commit protocol: a crashed build leaves nothing
visible, and a resumed one is rebuilt from its reset. What this module
holds is the kernels and the Spark stages that run them:

  forward    ONE fused Arrow pass per input partition (docID assign +
             byte-exact html->text + tokenize + per-doc combine) ->
             doc-grouped FORWARD table fwd(doc_id, dl, terms[], tfs[]) and
             docmap, the stats riding the writes (``materialize_forward``:
             one kernel for every input)
  segments   local SPIMI inversion of fwd partitions (mapInArrow) -> ⋈ the
             commit's dictionary (term_id by df-desc dense rank) ->
             groupBy(term_id, salt) collect_list of sub-segment blobs
             (JVM) -> mapInArrow merges each group into delta-gap varbyte
             blocks with per-block (max_tf, min_dl) -> segments parquet,
             term_id-sorted (``build_segments_spimi``, ``write_segments``)

One set of kernels, two drivers. ``_fused_fwd_pass``, ``_local_invert_pass``
and ``_merge_subsegments_arrow`` are generator functions over Arrow
batches. A build, a compaction and an incremental batch over the driver
bound run them as Spark ``mapInArrow`` stages (``materialize_forward``,
``build_segments_spimi``), the JVM grouping sub-segments by (term_id, salt)
between the last two. An incremental batch within the driver bounds
(``DRIVER_BATCH_ROWS`` rows and ``DRIVER_BATCH_HTML_BYTES`` of html, in
streaming/incremental.py) runs them in the driver process instead
(``forward_local``, ``segments_local``): a plain (offsets, counts) bundle
in place of the broadcast, and an Arrow sort and group in place of the JVM
``groupBy … collect_list``. Both drivers write the same rows.

docIDs come from per-partition offsets, so the count pass, the fused pass
and the docmap projection must see the same rows in the same partitions.
A narrow lineage over a file scan does; any other input (a queue batch's
join, a persisted, in-memory or stream frame, a ``where`` on the clock) is
first written once to a staging dir and the same kernel runs over that
file scan. The price of keeping one forward kernel: such an input costs
one extra write and read of its html, where a second, staging variant of
the fused pass would stage its token lists instead (on the fixture corpus
~0.4x the html's bytes without positions, ~0.9x with them). Nothing bounds
that input's size: a queue batch over the driver bound is as large as its
url list, and ``watch``'s first micro-batch on a fresh index builds over
the whole pending backlog.

Skew handling (north_rule "skew handled explicitly"): a head term like 'the'
has df ~ N and would put one reducer group at corpus scale. The docID span
is cut into a fixed grid of cells of ``salt_cap`` docs (about one per
shuffle partition, at least 50,000), and a term's postings are salted by
the cell they fall in — RANGE-based, so each salted group covers a
disjoint, ordered docID interval, and the term's global posting list is
simply its segment rows ordered by doc_min. The cap is also the
collect_list group memory bound.

Bridge discipline (measured on local[32]): the JVM<->Python Arrow bridge
costs ~0.4us per ROW each way regardless of width, so row-heavy relational
work (explode, join, salt, groupBy, sort) stays JVM-side and Python sees
only doc-grouped or term-grouped rows — 10^5 rows over the bridge instead of
10^7 postings. That single decision is worth ~3x on the whole build.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from functools import partial

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import codec
from . import state
from ..session import driver_frame
from ..sources.catalog import Catalog

SEGMENT_SCHEMA = (
    "term_id bigint, salt int, generation int, n_docs bigint, "
    "doc_min bigint, doc_max bigint, max_tf bigint, "
    "docs_blob binary, tfs_blob binary, "
    "doc_offs array<bigint>, tf_offs array<bigint>, "
    "block_first array<bigint>, block_last array<bigint>, "
    "block_max_tf array<bigint>, block_min_dl array<bigint>"
)

# positional (v2) variant — build_index(positions=True): pos_blob/pos_offs
# follow the codec.encode_positions layout (within-posting deltas, byte
# offsets on the same 128-posting block grid), docs/positional-postings.md
SEGMENT_SCHEMA_POS = SEGMENT_SCHEMA + ", pos_blob binary, pos_offs array<bigint>"

# column-pruning list for positions-FREE query paths: selecting exactly the
# v1 columns keeps the (large) positions sidecar out of every scan, shuffle,
# and applyInPandas transfer that doesn't need it — on a v1 index it's the
# identity projection
V1_SEGMENT_COLS = [p.strip().split()[0] for p in SEGMENT_SCHEMA.split(",")]

_SEGMENT_PA_SCHEMA = pa.schema(
    [
        ("term_id", pa.int64()),
        ("salt", pa.int32()),
        ("generation", pa.int32()),
        ("n_docs", pa.int64()),
        ("doc_min", pa.int64()),
        ("doc_max", pa.int64()),
        ("max_tf", pa.int64()),
        ("docs_blob", pa.binary()),
        ("tfs_blob", pa.binary()),
        ("doc_offs", pa.list_(pa.int64())),
        ("tf_offs", pa.list_(pa.int64())),
        ("block_first", pa.list_(pa.int64())),
        ("block_last", pa.list_(pa.int64())),
        ("block_max_tf", pa.list_(pa.int64())),
        ("block_min_dl", pa.list_(pa.int64())),
    ]
)

_SEGMENT_PA_SCHEMA_POS = _SEGMENT_PA_SCHEMA.append(
    pa.field("pos_blob", pa.binary())
).append(pa.field("pos_offs", pa.list_(pa.int64())))

STATS_SCHEMA = (
    "n_docs bigint, sum_dl bigint, avgdl double, dl_min bigint, "
    "total_postings bigint"
)


def _write_stats_table(
    stats_path: str, n_docs: int, sum_dl: int, avgdl: float,
    dl_min: int, total_postings: int,
) -> None:
    """Write the one-row stats table driver-side with pyarrow (the same
    int64/float64 shape STATS_SCHEMA declares and the incremental path
    already writes) — a Spark job for one row is pure session overhead."""
    import shutil as _sh

    import pyarrow.parquet as _pq

    _sh.rmtree(stats_path, ignore_errors=True)
    os.makedirs(stats_path)
    _pq.write_table(
        pa.table(
            {
                "n_docs": pa.array([int(n_docs)], pa.int64()),
                "sum_dl": pa.array([int(sum_dl)], pa.int64()),
                "avgdl": pa.array([float(avgdl)], pa.float64()),
                "dl_min": pa.array([int(dl_min)], pa.int64()),
                "total_postings": pa.array([int(total_postings)], pa.int64()),
            }
        ),
        os.path.join(stats_path, "part-00000.parquet"),
    )

# forward index: one row per doc, terms deduped with counts (the per-doc
# combine); doc_id-ordered within partitions by construction
FWD_SCHEMA = "doc_id bigint, dl bigint, terms array<string>, tfs array<bigint>"

_FWD_PA_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("dl", pa.int64()),
        ("terms", pa.list_(pa.string())),
        ("tfs", pa.list_(pa.int64())),
    ]
)

_FWD_PA_SCHEMA_POS = _FWD_PA_SCHEMA.append(
    pa.field("poss", pa.list_(pa.int64()))
)

@contextmanager
def arrow_batch_rows(spark, n: int):
    """Scoped override of the Arrow batch size: group-carrying passes want
    small row counts (each row is a whole posting group); narrow passes want
    large ones. The session default (10k) suits blob-per-doc passes."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


GROUP_BATCH_ROWS = 256       # rows/batch when each row is a whole group


def _assert_blob_i32(prefix: np.ndarray, what: str) -> None:
    """pa.binary() offsets are int32: a single Arrow batch whose blob
    column exceeds 2 GiB would silently WRAP the offsets and corrupt the
    segment (positions volume ~= token volume, an order beyond docs/tfs,
    so the pos sidecar hits this first at 100-TB batch sizes). Fail loudly
    with the knob to turn instead (ADVICE r5)."""
    if prefix.size and int(prefix[-1]) >= 2**31:
        raise ValueError(
            f"{what} blob is {int(prefix[-1])} bytes in one Arrow batch — "
            "exceeds pa.binary()'s int32 offset space; lower "
            "salt_group_cap / GROUP_BATCH_ROWS so per-batch posting "
            "volume shrinks"
        )


@contextmanager
def scan_split_bytes(spark, nbytes: int):
    """Scoped override of the file-scan split size. The fwd table is small
    relative to its information content (compressed list columns), so the
    session default (32 MB, tuned for html-carrying inputs) yields too few
    partitions for the CPU-heavy local inversion — at 16 cores a 250 MB fwd
    became 18 tasks and capped scaling. Callers size splits to ~3 tasks/core.
    """
    keys = {
        "spark.sql.files.maxPartitionBytes": str(int(nbytes)),
        "spark.sql.files.openCostInBytes": str(max(1, int(nbytes) // 8)),
    }
    old = {k: spark.conf.get(k) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def dir_bytes(path: str) -> int:
    """Total bytes under a local/posix dir (object stores: use the FS API)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def fwd_split_bytes(spark, fwd_path: str) -> int:
    """Split size that gives the inversion ~3 tasks per core."""
    cores = spark.sparkContext.defaultParallelism
    return max(1 << 22, min(128 << 20, dir_bytes(fwd_path) // max(3 * cores, 1)))


def input_split_bytes(spark, docs: DataFrame) -> int | None:
    """Split size for the html-carrying input scan: ~3 tasks/core keeps the
    python-heavy fused pass balanced (45 splits on 16 cores = 2.8 uneven
    waves). None when the input is not a local file scan (streaming batch,
    in-memory test frame) — caller skips the override."""
    try:
        files = docs.inputFiles()
    except Exception:
        return None
    total = 0
    for f in files:
        p = f.removeprefix("file:")
        try:
            total += os.path.getsize(p)
        except OSError:
            return None  # non-local (object store): leave the session conf
    if not total:
        return None
    cores = spark.sparkContext.defaultParallelism
    return max(1 << 22, min(128 << 20, total // max(3 * cores, 1)))


def _plan_is_deterministic_scan(df: DataFrame) -> bool:
    """True when ``df`` reads the same partitions, rows and row order in
    every job of a session — the invariant ``materialize_forward``'s
    count / fwd / docmap jobs share docIDs through. A whitelist over the
    analyzed plan (with cached fragments substituted): only Project and
    Filter nodes over one file relation, every expression deterministic,
    and no current-time function — the optimizer folds current_timestamp(),
    now(), current_date() and their kin into a fresh literal for each job,
    so a ``where`` on the clock can select different rows per job. Anything
    else (joins, shuffles, caches, in-memory or Python-built frames,
    streams) is staged; a false "no" costs one staging write."""
    from py4j.protocol import Py4JError

    try:
        plan = df._jdf.queryExecution().withCachedData()
        patterns = df.sparkSession._jvm.org.apache.spark.sql.catalyst.trees
        if not plan.deterministic() or plan.containsPattern(
            patterns.TreePattern.CURRENT_LIKE()
        ):
            return False
        node = plan
        while node.getClass().getSimpleName() in ("Project", "Filter"):
            node = node.child()
        return (
            node.getClass().getSimpleName() == "LogicalRelation"
            and node.relation().getClass().getSimpleName() == "HadoopFsRelation"
        )
    except (AttributeError, Py4JError):  # no JVM plan to inspect: stage
        return False


def _combine_doc(toks, positions, flat_terms, flat_tfs, flat_poss):
    """The fused pass's per-doc combine: append the doc's unique
    terms (first-appearance order), counts, and (optionally) term-major
    ascending positions onto the flat output lists. Returns dl."""
    if positions:
        plist: dict[str, list[int]] = {}
        for j, tk in enumerate(toks):
            plist.setdefault(tk, []).append(j)
        flat_terms.extend(plist.keys())
        for ps in plist.values():
            flat_tfs.append(len(ps))
            flat_poss.extend(ps)
    else:
        counts: dict[str, int] = {}
        for tk in toks:
            counts[tk] = counts.get(tk, 0) + 1
        flat_terms.extend(counts.keys())
        flat_tfs.extend(counts.values())
    return len(toks)


def _fused_fwd_pass(positions: bool, bundle):
    """mapInArrow body over (html, __pid) partitions: byte-exact
    extract + tokenize + per-doc combine in ONE python pass, docIDs
    assigned IN-PASS from the pre-counted per-partition offsets
    (offset[pid] + local row position), dl==0 rows dropped (the forward
    table never stores them, their ids still advance). The output IS the
    fwd table; url/warc_ts never cross the Python boundary. ``bundle``:
    (offsets, counts) — from the cheap JVM count pass as a broadcast, or
    a plain tuple when the driver runs the pass (``forward_local``); a
    row-count mismatch against ``counts`` aborts the job loudly, so a scan
    that is not reproducible across jobs can never corrupt ids silently."""
    from ..functions.textprep import extract_text, tokenize

    def run(batches):
        local = 0
        pid = None
        offsets, counts = getattr(bundle, "value", bundle)
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            bpid = int(batch.column("__pid")[0].as_py())
            if pid is None:
                pid = bpid
            elif bpid != pid:
                raise RuntimeError(
                    f"fused fwd pass saw rows of partitions {pid} and "
                    f"{bpid} in one task — partition lineage broke"
                )
            base = int(offsets[pid]) + local
            local += n
            htmls = batch.column("html")
            doc_ids: list[int] = []
            dls: list[int] = []
            term_offsets = [0]
            pos_offsets = [0]
            flat_terms: list[str] = []
            flat_tfs: list[int] = []
            flat_poss: list[int] = []
            for i in range(n):
                toks = tokenize(extract_text(htmls[i].as_py()))
                if not toks:
                    continue  # fwd stores dl>0 docs only (id still advances)
                doc_ids.append(base + i)
                dls.append(
                    _combine_doc(toks, positions, flat_terms, flat_tfs, flat_poss)
                )
                term_offsets.append(len(flat_terms))
                pos_offsets.append(len(flat_poss))
            arrays = [
                pa.array(doc_ids, pa.int64()),
                pa.array(dls, pa.int64()),
                pa.ListArray.from_arrays(
                    pa.array(term_offsets, pa.int32()),
                    pa.array(flat_terms, pa.string()),
                ),
                pa.ListArray.from_arrays(
                    pa.array(term_offsets, pa.int32()),
                    pa.array(flat_tfs, pa.int64()),
                ),
            ]
            if positions:
                arrays.append(
                    pa.ListArray.from_arrays(
                        pa.array(pos_offsets, pa.int32()),
                        pa.array(flat_poss, pa.int64()),
                    )
                )
            yield pa.RecordBatch.from_arrays(
                arrays,
                schema=_FWD_PA_SCHEMA_POS if positions else _FWD_PA_SCHEMA,
            )
        if pid is not None and local != int(counts.get(pid, -1)):
            raise RuntimeError(
                f"fused fwd pass of partition {pid} saw {local} rows but the "
                f"count pass saw {counts.get(pid)}: the input scan was not "
                "reproducible across jobs (were its files rewritten "
                "mid-build?); nothing was committed"
            )

    return run


def materialize_forward(
    spark: SparkSession,
    adds: DataFrame,
    fwd_dir: str,
    docmap_dir: str,
    staging_dir: str,
    start_id: int = 0,
    positions: bool = False,
    keyword_cols: tuple = (),
    numeric_cols: tuple = (),
) -> dict:
    """The adds -> the fwd and docmap tables with dense docIDs from
    ``start_id`` in scan order: ONE fused Arrow pass per input partition.

    Three jobs over one scan of the input. A cheap JVM-only count pass
    fixes each partition's docID offset; the fused pass
    (``_fused_fwd_pass``) writes the fwd table with ids assigned in-pass;
    a JVM-only projection writes the docmap concurrently (doc_id =
    offset[pid] + partition-local row number). That is only sound when
    the three jobs see the same partitions with the same rows in the same
    order. A narrow lineage over a plain file scan
    (``_plan_is_deterministic_scan``) does; an input that can regroup or
    re-sample its rows per job (a queue batch's join, a persisted or
    in-memory frame, a stream micro-batch, a ``where`` reading the clock)
    need not. Such an input is written once to ``staging_dir`` (url,
    warc_ts, html and the carried columns: one extra write and read of
    about the input's own size, whatever that size is) and the same three
    jobs run over that file scan, so its docIDs follow the staged files'
    scan order; the dir is removed afterwards. Both
    row-count checks (per partition in the fused pass, in total for the
    docmap) raise instead of committing ids that disagree.

    Returns {"n_rows": docmap rows (the per-partition counts' sum), "fwd":
    {n, sum_dl, dl_min, postings}, "input_staged": whether the input went
    through ``staging_dir``} — the fwd stats and the docmap row count ride
    their writes as CollectMetrics observations, so callers need no
    follow-up count()/agg() over the tables written.
    """
    import shutil
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Observation
    from pyspark.util import inheritable_thread_target

    keyword_cols = tuple(keyword_cols)
    numeric_cols = tuple(numeric_cols)
    staged = not _plan_is_deterministic_scan(adds)
    if staged:
        rows = adds.select("url", "warc_ts", "html", *keyword_cols, *numeric_cols)
        rows.write.mode("overwrite").parquet(staging_dir)
        # the pinned schema spares the read a footer-inference job
        adds = spark.read.schema(rows.schema).parquet(staging_dir)
    try:
        # ---- pass 0 (cheap, JVM): rows per scan partition — the html
        # blobs are never decoded here
        counts = dict(
            (int(r["pid"]), int(r["n"]))
            for r in adds.groupBy(F.spark_partition_id().alias("pid"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        offsets: dict[int, int] = {}
        acc = start_id
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        bundle_b = spark.sparkContext.broadcast((offsets, counts))

        fwd_schema = FWD_SCHEMA + (", poss array<bigint>" if positions else "")
        obs = Observation(f"fwd_stats_{start_id}")
        fwd_out = (
            adds.select("html")
            .withColumn("__pid", F.spark_partition_id())
            .mapInArrow(_fused_fwd_pass(positions, bundle_b), fwd_schema)
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum("dl"), F.lit(0)).alias("sum_dl"),
                F.min("dl").alias("dl_min"),
                F.coalesce(F.sum(F.size("terms")), F.lit(0)).alias("postings"),
            )
        )

        # keyword / numeric carry columns are cast here so the docmap's
        # stored types are pinned whatever the input column's type
        kw_sel = [F.col(c).cast("string").alias(c) for c in keyword_cols]
        num_sel = [F.col(c).cast("double").alias(c) for c in numeric_cols]
        if offsets:
            off_df = driver_frame(
                spark, sorted(offsets.items()), "pid int, off bigint"
            )
            dm = (
                adds.select("url", "warc_ts", *kw_sel, *num_sel)
                .withColumn("pid", F.spark_partition_id())
                .withColumn(
                    "pos",
                    F.monotonically_increasing_id().bitwiseAND(
                        F.lit((1 << 33) - 1)
                    ),
                )
                .join(F.broadcast(off_df), "pid")
                .select(
                    "url", "warc_ts", *keyword_cols, *numeric_cols,
                    (F.col("off") + F.col("pos")).alias("doc_id"),
                )
            )
        else:
            dm = adds.select(
                "url", "warc_ts", *kw_sel, *num_sel,
                F.lit(start_id).cast("bigint").alias("doc_id"),
            )
        dm_obs = Observation(f"dm_stats_{start_id}")
        dm = dm.observe(dm_obs, F.count(F.lit(1)).alias("n"))

        # overlap the two independent writes (guide §2.6): the docmap job is
        # JVM-only and back-fills cores the python-heavy fwd job leaves
        # idle; it inherits this thread's job group and description
        with ThreadPoolExecutor(max_workers=1) as pool:
            fut = pool.submit(
                inheritable_thread_target(spark)(
                    lambda: dm.write.mode("overwrite").parquet(docmap_dir)
                )
            )
            fwd_out.write.mode("overwrite").option(
                "parquet.block.size", str(FWD_ROW_GROUP_BYTES)
            ).parquet(fwd_dir)
            fut.result()
    finally:
        if staged:
            shutil.rmtree(staging_dir, ignore_errors=True)
    dm_rows = int(dm_obs.get["n"] or 0)
    if dm_rows != acc - start_id:
        raise RuntimeError(
            f"docmap write saw {dm_rows} rows but the count pass saw "
            f"{acc - start_id}: the input scan was not reproducible across "
            "jobs (were its files rewritten mid-build?), so docmap and fwd "
            "doc_ids may disagree; nothing was committed"
        )
    return {
        "n_rows": acc - start_id,
        "fwd": dict(obs.get),
        "input_staged": staged,
    }


def exploded_postings(fwd: DataFrame) -> DataFrame:
    """fwd -> (doc_id, term, tf, dl) posting view, entirely JVM-side
    (explode of zipped arrays — whole-stage codegen, never Python)."""
    return fwd.select(
        "doc_id",
        "dl",
        F.explode(F.arrays_zip("terms", "tfs")).alias("p"),
    ).select(
        "doc_id",
        F.col("p.terms").alias("term"),
        F.col("p.tfs").cast("bigint").alias("tf"),
        "dl",
    )


SUBSEG_SCHEMA = (
    "term string, salt int, doc_min bigint, doc_max bigint, n_docs bigint, "
    "docs_blob binary, tfs_blob binary"
)

# positional variant: pos_blob carries the group's token positions as one
# varbyte stream with per-POSTING delta restarts (codec.encode_positions
# layout), splittable downstream by the decoded tf counts
SUBSEG_SCHEMA_POS = SUBSEG_SCHEMA + ", pos_blob binary"

_SUBSEG_PA_SCHEMA = pa.schema(
    [
        ("term", pa.string()),
        ("salt", pa.int32()),
        ("doc_min", pa.int64()),
        ("doc_max", pa.int64()),
        ("n_docs", pa.int64()),
        ("docs_blob", pa.binary()),
        ("tfs_blob", pa.binary()),
    ]
)

_SUBSEG_PA_SCHEMA_POS = _SUBSEG_PA_SCHEMA.append(
    pa.field("pos_blob", pa.binary())
)


def _local_invert_pass(id_span: int, grid_salts: int, positions: bool = False):
    """mapInArrow body over fwd partitions: the SPIMI local inversion.

    Each partition is inverted IN PYTHON into per-(term, salt-cell) posting
    sub-lists and emitted as compressed sub-segment rows. The term-merge
    shuffle then moves ~|vocab| x |partitions| blob rows instead of one row
    per posting — measured at sf1.6 that is ~1.4M rows / ~0.4 GB instead of
    96M rows / ~4 GB, and the posting-grained shuffle was THE non-scaling
    cost.

    The salt is a FIXED docID grid (cell = doc * grid_salts // id_span),
    applied by CLIPPING each term's postings at cell boundaries here, so a
    (term, salt) merge group covers exactly one disjoint docID interval
    regardless of how the scan packed fwd files into partitions. (Scan
    partitions are NOT contiguous docID ranges — Spark packs small files by
    size — so postings are fully sorted here and merge-sorted again at merge
    time; no ordering assumption survives the file layout.)

    Fully vectorized: groups are contiguous runs of the sorted key, so the
    partition's gaps/tfs are varbyte-encoded in ONE call each and the
    per-group blobs are zero-copy slices of those buffers (arrow BinaryArray
    from a group-boundary offsets vector). The earlier per-group
    encode_plain() loop paid ~94k small python/numpy calls per worker and
    dominated the whole segments phase."""

    def run(batches):
        doc_parts, term_parts, tf_parts, pos_parts = [], [], [], []
        for batch in batches:
            if batch.num_rows == 0:
                continue
            doc_ids = batch.column("doc_id").to_numpy()
            terms_col = batch.column("terms")
            tfs_col = batch.column("tfs")
            # per-posting doc ids via arrow's parent-index kernel (C++),
            # not np.repeat (measured ~0.4us/posting under concurrency)
            parent = pc.list_parent_indices(terms_col).to_numpy()
            doc_parts.append(doc_ids[parent])
            term_parts.append(terms_col.flatten())
            tf_parts.append(tfs_col.flatten().to_numpy())
            if positions:
                # per-doc flat positions are term-major, i.e. already in
                # posting order — flatten concatenates postings' runs
                pos_parts.append(batch.column("poss").flatten().to_numpy())
        if not doc_parts:
            return
        docs = np.concatenate(doc_parts)
        if docs.size == 0:
            return
        tfs = np.concatenate(tf_parts)
        poss_flat = np.concatenate(pos_parts) if positions else None
        # ChunkedArray.dictionary_encode shares ONE dictionary across chunks
        # (one hash-table pass, no concatenated partition-wide string array —
        # measured 13x cheaper than concat_arrays + dictionary_encode)
        unified = pa.chunked_array(term_parts).dictionary_encode()
        codes = np.concatenate(
            [c.indices.to_numpy().astype(np.int64) for c in unified.chunks]
        )
        uniq = unified.chunk(0).dictionary  # StringArray of unique terms
        cells = (docs * np.int64(grid_salts)) // np.int64(id_span)
        # sort by (code, cell, doc): ONE fused-key argsort when the key fits
        # int64 (memory-bandwidth-bound workers: 3-key lexsort was 48% of
        # the whole inversion), else the 3-key lexsort fallback
        nvocab = len(uniq)
        if nvocab * grid_salts * (id_span + 1) < 2**62:
            fused = (codes * np.int64(grid_salts) + cells) * np.int64(
                id_span
            ) + docs
            order = np.argsort(fused, kind="stable")
        else:
            order = np.lexsort((docs, cells, codes))
        g_docs, g_tfs = docs[order], tfs[order]
        g_codes, g_cells = codes[order], cells[order]
        key = g_codes * np.int64(grid_salts) + g_cells
        bounds = np.flatnonzero(np.diff(key)) + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds, [key.size]))
        n = key.size
        # delta gaps with a reset at every group start (doc_id+1 stored)
        gaps = codec.run_delta_gaps(g_docs, starts)
        tfs_u = g_tfs.astype(np.uint64)
        # ONE varbyte encode per column for the whole partition; per-group
        # blobs are offset slices of the shared buffer (groups are
        # contiguous runs, so group boundaries are buffer offsets)
        group_bounds = np.concatenate((starts, [n]))

        def blob_column(vals: np.ndarray, vbounds: np.ndarray) -> pa.Array:
            data = codec.varbyte_encode(vals)
            prefix = np.zeros(vals.size + 1, dtype=np.int64)
            np.cumsum(codec.varbyte_lengths(vals), out=prefix[1:])
            _assert_blob_i32(prefix, "sub-segment")
            offs = prefix[vbounds].astype(np.int32)
            return pa.Array.from_buffers(
                pa.binary(),
                len(vbounds) - 1,
                [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(data)],
            )

        arrays = [
            uniq.take(pa.array(g_codes[starts], pa.int64())),
            pa.array(g_cells[starts].astype(np.int32), pa.int32()),
            pa.array(g_docs[starts], pa.int64()),
            pa.array(g_docs[ends - 1], pa.int64()),
            pa.array(ends - starts, pa.int64()),
            blob_column(gaps, group_bounds),
            blob_column(tfs_u, group_bounds),
        ]
        if positions:
            # permute the per-posting position runs into the sorted
            # posting order, then re-delta with per-POSTING restarts —
            # blob slices land on group boundaries via the posting->value
            # index prefix
            old_pstarts = np.zeros(n, dtype=np.int64)
            np.cumsum(tfs[:-1], out=old_pstarts[1:])
            g_poss = codec.gather_runs(poss_flat, old_pstarts[order], g_tfs)
            vprefix = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(g_tfs, out=vprefix[1:])
            pgaps = codec.run_delta_gaps(g_poss, vprefix[:-1])
            arrays.append(blob_column(pgaps, vprefix[group_bounds]))
        yield pa.RecordBatch.from_arrays(
            arrays,
            schema=_SUBSEG_PA_SCHEMA_POS if positions else _SUBSEG_PA_SCHEMA,
        )

    return run


def _binary_flat(arr) -> tuple[np.ndarray, np.ndarray]:
    """BinaryArray -> (flat uint8 data view, int64 value offsets rebased to
    0). Zero-copy views of the arrow buffers — no per-value .as_py() bytes
    objects (blobs are never null in the sub-segment schema)."""
    bufs = arr.buffers()
    off_all = np.frombuffer(bufs[1], dtype=np.int32)
    offs = off_all[arr.offset : arr.offset + len(arr) + 1].astype(np.int64)
    data = np.frombuffer(bufs[2], dtype=np.uint8)[offs[0] : offs[-1]]
    return data, offs - offs[0]


def _merge_subsegments_arrow(generation: int, norms, positions: bool = False):
    """mapInArrow body over grouped sub-segments (term_id, salt,
    subs: list<struct<docs_blob, tfs_blob>>): decode every sub-list,
    merge-sort each group by docID, re-encode as the final block-addressed
    posting list. block_min_dl metadata comes from the merged docs' lengths
    — dl never rides the merge shuffle. ``norms()`` -> ``(first_id, dl)``,
    ``dl[i]`` the length of doc ``first_id + i``: sized by the docs being
    merged, not by the docID space (a Spark merge task loads it with
    operators/state.load_doc_lengths; ``segments_local`` hands over the
    fwd table it holds). Called once, at the first non-empty batch.

    Fully vectorized across the WHOLE arrow batch (same discipline as the
    invert pass): the sub blobs decode in ONE varbyte pass over the
    concatenated buffer (varbyte is value-delimited, so sub boundaries are
    just value offsets), rows sort with one fused-key argsort, and the
    output blobs/offsets/block metadata come from one encode + reduceat
    over block-start indices — bit-identical to codec.encode_postings per
    row (pinned by a property test), with zero per-row python work. The
    per-row decode_plain/encode_postings loop this replaces allocated
    ~10 python objects per sub-blob and was the bandwidth-flat half of the
    segments phase in the round-3 scaling measurement."""

    def run(batches):
        dls = None
        B = codec.BLOCK
        for batch in batches:
            if batch.num_rows == 0:
                continue
            if dls is None:
                first_id, dls = norms()
            nrows = batch.num_rows
            tids = batch.column("term_id").to_numpy()
            salts = batch.column("salt").to_numpy()
            subs = batch.column("subs")
            sub_lengths = np.asarray(subs.value_lengths(), dtype=np.int64)
            vals = subs.flatten()
            db_data, db_offs = _binary_flat(vals.field("docs_blob"))
            tb_data, _tb_offs = _binary_flat(vals.field("tfs_blob"))

            # ---- decode all subs in two vectorized passes ----------------
            gaps_all = codec.varbyte_decode(memoryview(db_data))
            tfs = codec.varbyte_decode(memoryview(tb_data)).astype(np.int64)
            if positions:
                # decode the concatenated position streams: per-POSTING
                # delta restarts (sub boundaries are posting boundaries, so
                # they need no special casing)
                pb_data, _pb_offs = _binary_flat(vals.field("pos_blob"))
                pgaps_all = codec.varbyte_decode(memoryview(pb_data)).astype(
                    np.int64
                )
                pv_starts = np.zeros(tfs.size, dtype=np.int64)
                np.cumsum(tfs[:-1], out=pv_starts[1:])
                cs_p = np.cumsum(pgaps_all)
                base_p = np.zeros(tfs.size, dtype=np.int64)
                pnz = pv_starts > 0
                base_p[pnz] = cs_p[pv_starts[pnz] - 1]
                poss_abs = cs_p - np.repeat(base_p, tfs) - 1
                tfs_pre = tfs  # pre-permutation counts for the run gather
            # per-sub posting counts = terminal bytes (high bit clear) per
            # sub byte range
            tp = np.zeros(db_data.size + 1, dtype=np.int64)
            np.cumsum((db_data & 0x80) == 0, out=tp[1:])
            sub_counts = tp[db_offs[1:]] - tp[db_offs[:-1]]
            sub_starts = np.zeros(sub_counts.size + 1, dtype=np.int64)
            np.cumsum(sub_counts, out=sub_starts[1:])
            total = int(sub_starts[-1])
            # per-sub delta restart (each sub blob is its own delta stream):
            # one global cumsum minus the running base at each sub start
            cs = np.cumsum(gaps_all.astype(np.int64))
            base = np.zeros(sub_counts.size, dtype=np.int64)
            nz = sub_starts[:-1] > 0
            base[nz] = cs[sub_starts[:-1][nz] - 1]
            docs = cs - np.repeat(base, sub_counts) - 1

            # ---- group postings by output row, sort by docID -------------
            row_sub = np.zeros(nrows + 1, dtype=np.int64)
            np.cumsum(sub_lengths, out=row_sub[1:])
            row_starts = sub_starts[row_sub[:-1]]
            row_ends = sub_starts[row_sub[1:]]
            row_sizes = row_ends - row_starts
            prow = np.repeat(np.arange(nrows, dtype=np.int64), row_sizes)
            # full merge-sort within each row: sub-blob doc RANGES may
            # interleave (scan partitions are arbitrary file packings),
            # docs never repeat within a (term, salt) cell
            span = int(docs.max()) + 1 if total else 1
            if nrows * span < 2**62:
                order = np.argsort(
                    prow * np.int64(span) + docs, kind="stable"
                )
            else:
                order = np.lexsort((docs, prow))
            docs = docs[order]
            tfs = tfs[order]
            if positions:
                # permute per-posting position runs into the merged order,
                # re-delta with per-posting restarts
                g_poss = codec.gather_runs(poss_abs, pv_starts[order], tfs)
                vprefix = np.zeros(total + 1, dtype=np.int64)
                np.cumsum(tfs, out=vprefix[1:])
                pgaps_out = codec.run_delta_gaps(g_poss, vprefix[:-1])

            # ---- block grid (identical to codec.encode_postings) ---------
            n_blocks = (row_sizes + B - 1) // B
            tot_blocks = int(n_blocks.sum())
            nb_prefix = np.zeros(nrows + 1, dtype=np.int64)
            np.cumsum(n_blocks, out=nb_prefix[1:])
            block_row = np.repeat(np.arange(nrows, dtype=np.int64), n_blocks)
            intra = np.arange(tot_blocks, dtype=np.int64) - nb_prefix[block_row]
            bstart = row_starts[block_row] + intra * B
            bend = np.minimum(bstart + B, row_ends[block_row])

            # block-local delta gaps (the restarts also overwrite the
            # wrapped negative diffs at row boundaries — every row start
            # IS a block start)
            out_gaps = codec.run_delta_gaps(docs, bstart)
            tfs_u = tfs.astype(np.uint64)

            # ---- one encode per column; per-row blobs are buffer slices --
            docs_bytes = codec.varbyte_encode(out_gaps)
            tfs_bytes = codec.varbyte_encode(tfs_u)
            dprefix = np.zeros(total + 1, dtype=np.int64)
            np.cumsum(codec.varbyte_lengths(out_gaps), out=dprefix[1:])
            tprefix = np.zeros(total + 1, dtype=np.int64)
            np.cumsum(codec.varbyte_lengths(tfs_u), out=tprefix[1:])
            row_bounds = np.append(row_starts, total)

            def bin_col(data: bytes, prefix: np.ndarray):
                _assert_blob_i32(prefix, "segment")
                offs32 = prefix[row_bounds].astype(np.int32)
                return pa.Array.from_buffers(
                    pa.binary(), nrows,
                    [None, pa.py_buffer(offs32.tobytes()), pa.py_buffer(data)],
                )

            # per-row byte-offset lists (n_blocks+1 entries each): block
            # offsets rebased to the row's blob start, then the terminal
            loffs = nb_prefix + np.arange(nrows + 1, dtype=np.int64)
            main_idx = np.arange(tot_blocks, dtype=np.int64) + block_row
            term_idx = loffs[1:] - 1

            def offs_list(prefix: np.ndarray):
                v = np.empty(tot_blocks + nrows, dtype=np.int64)
                v[main_idx] = prefix[bstart] - prefix[row_starts[block_row]]
                v[term_idx] = prefix[row_ends] - prefix[row_starts]
                return pa.ListArray.from_arrays(
                    pa.array(loffs.astype(np.int32), pa.int32()),
                    pa.array(v, pa.int64()),
                )

            def blk_list(v: np.ndarray):
                return pa.ListArray.from_arrays(
                    pa.array(nb_prefix.astype(np.int32), pa.int32()),
                    pa.array(v.astype(np.int64), pa.int64()),
                )

            arrays = [
                pa.array(tids, pa.int64()),
                pa.array(salts.astype(np.int32), pa.int32()),
                pa.array(
                    np.full(nrows, generation, dtype=np.int32), pa.int32()
                ),
                pa.array(row_sizes, pa.int64()),
                pa.array(docs[row_starts], pa.int64()),
                pa.array(docs[row_ends - 1], pa.int64()),
                pa.array(np.maximum.reduceat(tfs, row_starts), pa.int64()),
                bin_col(docs_bytes, dprefix),
                bin_col(tfs_bytes, tprefix),
                offs_list(dprefix),
                offs_list(tprefix),
                blk_list(docs[bstart]),
                blk_list(docs[bend - 1]),
                blk_list(np.maximum.reduceat(tfs, bstart)),
                blk_list(np.minimum.reduceat(dls[docs - first_id], bstart)),
            ]
            if positions:
                # pos blob + block byte-offsets: posting indices map to
                # position-value indices through vprefix, then to byte
                # offsets through the position varbyte prefix — the same
                # shapes as offs_list, one indirection deeper
                pos_bytes = codec.varbyte_encode(pgaps_out)
                pprefix = np.zeros(g_poss.size + 1, dtype=np.int64)
                np.cumsum(codec.varbyte_lengths(pgaps_out), out=pprefix[1:])
                pbyte = pprefix[vprefix]  # posting idx -> byte offset
                _assert_blob_i32(pprefix, "segment positions")
                offs32 = pbyte[row_bounds].astype(np.int32)
                arrays.append(
                    pa.Array.from_buffers(
                        pa.binary(), nrows,
                        [None, pa.py_buffer(offs32.tobytes()),
                         pa.py_buffer(pos_bytes)],
                    )
                )
                v = np.empty(tot_blocks + nrows, dtype=np.int64)
                v[main_idx] = pbyte[bstart] - pbyte[row_starts[block_row]]
                v[term_idx] = pbyte[row_ends] - pbyte[row_starts]
                arrays.append(
                    pa.ListArray.from_arrays(
                        pa.array(loffs.astype(np.int32), pa.int32()),
                        pa.array(v, pa.int64()),
                    )
                )
            yield pa.RecordBatch.from_arrays(
                arrays,
                schema=_SEGMENT_PA_SCHEMA_POS
                if positions
                else _SEGMENT_PA_SCHEMA,
            )

    return run


def write_dict_by_term(dictionary: DataFrame, path: str) -> None:
    """Term-SORTED projection of the dictionary (term, term_id, df) — the
    Lucene term-dictionary-seek analog. The primary dictionary table is
    term_id-ordered (= df-ordered), so a query-time `term IN (...)` lookup
    on it prunes NOTHING and at 10^8 terms becomes a full-vocabulary scan
    per query batch. This projection is globally range-partitioned and
    sorted by term with small parquet row groups, so term lookups touch
    only the row groups whose [min,max] term range covers a query term.

    The range sample re-reads ``dictionary`` — callers pass the PERSISTED
    frame (both call sites hold it cached), so the extra pass is a cache
    scan, not a pipeline re-run."""
    (
        dictionary.select("term", "term_id", "df")
        .repartitionByRange(F.col("term"))
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        # ~fine-grained row groups: a term seek should read KBs, not 128 MB
        .option("parquet.block.size", str(1 << 21))
        .parquet(path)
    )


# segments parquet row-group size: term_id-sorted files + ~1 MB groups give
# narrow per-group term_id ranges, so query-time term seeks read only the
# covering groups (the Lucene term-index granularity analog)
SEGMENT_ROW_GROUP_BYTES = 1 << 20

# fwd parquet row-group size: parquet scans can split no finer than a row
# group, and the default 128 MB block left an incremental generation's fwd
# (written by however few tasks the delta input had — often ONE for a
# single-file queue batch) unsplittable, serializing the CPU-bound SPIMI
# inversion onto 1-2 cores. ~4 MB groups let fwd_split_bytes' ~3-tasks/core
# target actually materialize whatever the writer's parallelism was.
FWD_ROW_GROUP_BYTES = 4 << 20

# above this many dictionary rows the tokens⋈dictionary join stops
# broadcasting (a 10^8-term dictionary OOMs driver+executors) and becomes a
# shuffle join — AQE's skew splitting handles head terms
DICT_BROADCAST_MAX = 5_000_000


def build_segments_spimi(
    spark: SparkSession,
    fwd: DataFrame,
    id_span: int,
    salt_group_cap: int,
    norms_path: str,
    norms_version: int,
    dictionary: DataFrame,
    generation: int = 0,
    max_salts: int = 1024,
    n_terms: int | None = None,
    dict_broadcast_max: int = DICT_BROADCAST_MAX,
    positions: bool = False,
) -> DataFrame:
    """fwd -> segments: local SPIMI inversion, blob-grained salted term
    merge, term_ids from ``dictionary`` (term, term_id), which covers every
    term of ``fwd``.

    ``norms_path`` is a parquet table carrying (doc_id, dl) for every doc in
    ``fwd`` (normally the index's fwd table itself) — the merge reads it
    executor-side for block_min_dl metadata (operators/state.load_norms).

    The sub⋈dictionary join broadcasts only below ``dict_broadcast_max``
    rows (pass ``n_terms`` if the caller already counted); above it the join
    is a plain shuffle equi-join — at 10^12-doc scale the dictionary is
    ~10^8 terms and broadcasting it would OOM the cluster.

    Salting: a FIXED docID grid of grid_salts = ceil(id_span /
    salt_group_cap) cells (<= max_salts); the invert pass CLIPS every
    sub-list at cell boundaries, so a (term, salt) merge group covers
    exactly one disjoint interval — each group's decoded size is bounded by
    the docs in one cell (skew bound == memory bound), and a term's final
    segment rows are disjoint ascending ranges (the WAND reader contract)."""
    grid_salts = _grid_salts(id_span, salt_group_cap, max_salts)
    sub = fwd.mapInArrow(
        _local_invert_pass(id_span, grid_salts, positions),
        SUBSEG_SCHEMA_POS if positions else SUBSEG_SCHEMA,
    )
    if n_terms is None:
        n_terms = dictionary.count()
    dict_ids = dictionary.select("term", "term_id")
    if n_terms <= dict_broadcast_max:
        dict_ids = F.broadcast(dict_ids)
    with_ids = sub.join(dict_ids, "term")
    blob_cols = ["docs_blob", "tfs_blob"] + (["pos_blob"] if positions else [])
    grouped = with_ids.groupBy("term_id", "salt").agg(
        F.collect_list(F.struct(*blob_cols)).alias("subs")
    )
    return grouped.mapInArrow(
        _merge_subsegments_arrow(
            generation,
            partial(state.load_doc_lengths, norms_path, norms_version),
            positions,
        ),
        SEGMENT_SCHEMA_POS if positions else SEGMENT_SCHEMA,
    )


def salt_cap(
    spark: SparkSession, n_docs: int, salt_group_cap: int | None = None
) -> int:
    """Docs per cell of the salt grid for an inversion over ``n_docs``
    docIDs (a build's or a compaction's id span, a commit's adds): the
    heaviest term (df ~ n_docs) spreads over about one cell per shuffle
    partition, so no single reducer owns a whole head term — the skew fix
    and the merge group's memory bound at once — and never fewer than
    50,000 docs a cell. An explicit ``salt_group_cap`` wins."""
    if salt_group_cap:
        return int(salt_group_cap)
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(50_000, n_docs // max(parts, 1))


def _grid_salts(id_span: int, salt_group_cap: int, max_salts: int) -> int:
    """Cells of the fixed docID salt grid: ceil(id_span / cap), at most
    ``max_salts`` — the same grid on both drivers of the segments kernels."""
    return max(1, min(max_salts, -(-id_span // max(salt_group_cap, 1))))


def forward_local(html, start_id: int, positions: bool = False) -> pa.Table:
    """The driver's run of ``_fused_fwd_pass``: ``html`` (a batch's adds,
    in docID order) -> their fwd table, ids from ``start_id``. The kernel
    sees the whole batch as partition 0 of a plain (offsets, counts)
    bundle, so ids, dl==0 drops and row checks are the Spark route's."""
    n = len(html)
    rows = pa.table({"html": html, "__pid": np.zeros(n, dtype=np.int32)})
    out = _fused_fwd_pass(positions, ({0: start_id}, {0: n}))(rows.to_batches())
    return pa.Table.from_batches(
        list(out), schema=_FWD_PA_SCHEMA_POS if positions else _FWD_PA_SCHEMA
    )


def segments_local(
    fwd: pa.Table,
    term_ids: pa.Table,
    id_span: int,
    salt_group_cap: int,
    generation: int,
    positions: bool = False,
    max_salts: int = 1024,
) -> pa.Table:
    """The driver's run of the segments kernels over a batch's fwd table:
    ``_local_invert_pass`` over all of it, then the step the Spark route
    runs in the JVM — sub-segments ⋈ ``term_ids`` (term, term_id) and the
    (term_id, salt) group into ``subs`` lists — as an Arrow sort, then
    ``_merge_subsegments_arrow`` with norms from ``fwd`` itself (no file
    read, nothing cached). One invert pass over the whole batch emits each
    (term, salt) cell once, so every group is a one-sub list. -> segment
    rows sorted by (term_id, salt), the order ``write_segments`` leaves
    within its files."""
    blob_cols = ["docs_blob", "tfs_blob"] + (["pos_blob"] if positions else [])
    seg_schema = _SEGMENT_PA_SCHEMA_POS if positions else _SEGMENT_PA_SCHEMA
    grid_salts = _grid_salts(id_span, salt_group_cap, max_salts)
    subs = list(
        _local_invert_pass(id_span, grid_salts, positions)(fwd.to_batches())
    )
    if not subs:
        return seg_schema.empty_table()
    sub = pa.Table.from_batches(subs)
    at = pc.index_in(sub["term"], value_set=term_ids["term"].combine_chunks())
    if at.null_count:
        raise ValueError("segments_local: a fwd term has no term_id")
    keyed = pa.table(
        {
            "term_id": term_ids["term_id"].combine_chunks().take(at),
            "salt": sub["salt"],
            **{c: sub[c] for c in blob_cols},
        }
    ).sort_by([("term_id", "ascending"), ("salt", "ascending")])
    blobs = pa.StructArray.from_arrays(
        [keyed[c].combine_chunks() for c in blob_cols], names=blob_cols
    )
    grouped = pa.RecordBatch.from_arrays(
        [
            keyed["term_id"].combine_chunks(),
            keyed["salt"].combine_chunks(),
            pa.ListArray.from_arrays(
                pa.array(np.arange(len(blobs) + 1), pa.int32()), blobs
            ),
        ],
        names=["term_id", "salt", "subs"],
    )
    merge = _merge_subsegments_arrow(
        generation, lambda: state.doc_lengths(fwd), positions
    )
    return pa.Table.from_batches(list(merge([grouped])), schema=seg_schema)


def write_segments(
    spark: SparkSession, segs: DataFrame, path: str, positions: bool
) -> dict:
    """Write segment rows to ``path`` the one way every Spark writer does
    (full build, compaction, an incremental generation over the driver
    bound; a driver-route generation is one pyarrow file with the same
    row order): group-sized Arrow batches
    for the merge pass, rows sorted by (term_id, salt) within the merge's
    hash partitions and small parquet row groups — files are then
    term_id-sorted with narrow per-group [min, max] ranges, so a query's
    term_id IN (...) prunes row groups in Spark's scan and in the serving
    tier's footer-indexed seeks, with no second shuffle (a
    repartitionByRange would range-SAMPLE its child and run the merge
    twice). -> {rows, postings, bytes}: counters riding the write as a
    CollectMetrics observation, bytes = the docs/tfs (and pos) blobs."""
    from pyspark.sql import Observation

    obs = Observation()
    blob_bytes = F.length("docs_blob") + F.length("tfs_blob")
    if positions:
        blob_bytes = blob_bytes + F.length("pos_blob")
    with arrow_batch_rows(spark, GROUP_BATCH_ROWS):
        (
            segs.observe(
                obs,
                F.count(F.lit(1)).alias("rows"),
                F.coalesce(F.sum("n_docs"), F.lit(0)).alias("postings"),
                F.coalesce(F.sum(blob_bytes), F.lit(0)).alias("bytes"),
            )
            .sortWithinPartitions("term_id", "salt")
            .write.mode("overwrite")
            .option("parquet.block.size", str(SEGMENT_ROW_GROUP_BYTES))
            .parquet(path)
        )
    return {k: int(v) for k, v in obs.get.items()}


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    catalog: Catalog,
    schema_version: str,
    *,
    resume: bool = False,
    salt_group_cap: int | None = None,
    where: str | None = None,
    include_all_langs: bool = False,
    positions: bool = False,
    keyword_fields=None,
    numeric_fields=(),
) -> dict:
    """Full (backfill) index build — the `queue pump-all` + consume analog.

    The build is the index's FIRST COMMIT: it resets the tables, commits an
    empty state (no generations, zero counters, an empty stats row and the
    index-level flags below), then applies the whole input as one cursor
    batch through the incremental commit (streaming/incremental.
    ``_apply_batch``) on its Spark route. Every write therefore follows the
    commit's protocol: nothing is visible until its one manifest swap.

    ``positions=True`` builds the v2 POSITIONAL layout
    (docs/positional-postings.md): fwd rows carry per-term token
    positions, sub-segments and final segments gain pos_blob/pos_offs
    (codec.encode_positions layout, same 128-posting block grid), and the
    manifest records ``positions: true`` so queries can route phrase
    matching index-side. Positions-free queries are unaffected (column
    pruning never reads the sidecar).

    ``docs`` must have (url, warc_ts, html, text, lang); text is ALWAYS
    re-extracted from html (input_hint byte-identity invariant). A row is
    indexed when it passes the P1 predicate (operators/routing.
    ``should_index_expr``). Returns the final manifest. With resume=True a
    committed build returns its manifest untouched; an interrupted one
    (no ``phases.commit``) is rebuilt from its reset, which removes what
    the crashed attempt left.

    ``where``: user-supplied SQL predicate narrowing the backfill (the
    reference's `pump-all --where`, PumpAllScoresCommand.cs:28,75 — pushed
    into the scan, so a selective predicate prunes IO). ``include_all_langs``
    lifts the lang='en' gate, the analog of `--include-unranked`
    (PumpAllScoresCommand.cs:29) which widens the normally-excluded set.

    ``keyword_fields``: declared keyword columns carried on the DOCMAP for
    exact-match filter context (bool ``filter_term`` — the restriction the
    reference's consumers run on country_code / rank / ruleset_id,
    osu.ElasticIndexer/schemas/scores.json:17-19,32-37). Default: ["lang"]
    when the input has it. Recorded in the manifest so query paths can
    validate filterable fields.

    ``numeric_fields``: declared NUMERIC doc-value columns carried on the
    docmap as double — the ES doc_values analog of scores.json's numeric
    sort/range fields (total_score / pp / beatmap_id): ``sort_topk``
    sorts on them and bool ``filter_range`` accepts them. Recorded in the
    manifest like keyword_fields.

    The manifest keeps the build's phase entries: ``postings`` (the
    commit's forward seconds, ``input_staged``), ``segments`` (its
    dictionary and segments seconds, ``segment_rows``) and ``commit``
    (the route), next to the commit's own ``incremental_gen0``.
    """
    import time

    from ..session import ship_package
    from ..sources.catalog import FORMAT_VERSION, emit_metric_event
    from ..streaming.incremental import _apply_batch, _Phases

    ship_package(spark)
    if keyword_fields is None:
        keyword_fields = ("lang",) if "lang" in docs.columns else ()
    keyword_fields = tuple(keyword_fields)
    numeric_fields = tuple(numeric_fields)
    reserved = {"url", "warc_ts", "doc_id", "html", "text"}
    bad = [c for c in keyword_fields if c in reserved or c not in docs.columns]
    if bad:
        raise ValueError(
            f"keyword_fields {bad} must be non-reserved input columns "
            f"(reserved: {sorted(reserved)}; input has {docs.columns})"
        )
    badn = [
        c for c in numeric_fields
        if c in reserved or c not in docs.columns or c in keyword_fields
    ]
    if badn:
        raise ValueError(
            f"numeric_fields {badn} must be non-reserved input columns "
            f"disjoint from keyword_fields (reserved: {sorted(reserved)}; "
            f"input has {docs.columns})"
        )
    cat = catalog
    cat.find_or_create_index(schema_version)
    cat.assert_writable(schema_version)  # T6 stale-builder guard
    m = cat.read_manifest(schema_version)
    if resume and m["phases"].get("commit"):
        return m
    # full rebuild = fresh index life: wipe table dirs + versioned pointers
    # + generations from any previous (possibly incrementally grown) life,
    # and any attempt that crashed before its commit
    cat.reset_tables(schema_version)
    _write_stats_table(cat.table_path(schema_version, "stats"), 0, 0, 0.0, 0, 0)
    m = cat.read_manifest(schema_version)
    m.update(
        format=FORMAT_VERSION,
        # docIDs and term ids are dense from 0; a commit extends both
        # counters without scanning docmap or dictionary
        counters={
            "docs": 0, "postings": 0, "bytes": 0, "adds_total": 0,
            "deletes_total": 0, "terms": 0, "max_term_id": -1,
            "next_doc_id": 0,
        },
        positions=bool(positions),
        keyword_fields=list(keyword_fields),
        numeric_fields=list(numeric_fields),
        include_all_langs=bool(include_all_langs),
    )
    cat.write_manifest(schema_version, m)

    phases = _Phases(spark, "build")
    try:
        m = _apply_batch(
            spark, docs.filter(F.expr(where)) if where else docs, cat,
            schema_version, None, salt_group_cap, phases, build=True,
        )
    finally:
        phases.close()
    # an input without an indexable row commits nothing and leaves no
    # incremental_gen0 entry: the empty state above is the index
    gen0 = m["phases"].get("incremental_gen0") or {}
    sec = phases.seconds
    now = time.time()
    for name, info in (
        ("postings", {
            "wall_sec": round(sec.get("forward", 0.0), 2),
            "input_staged": bool(gen0.get("input_staged")),
        }),
        ("segments", {
            "wall_sec": round(
                sec.get("dictionary", 0.0) + sec.get("segments", 0.0), 2
            ),
            "segment_rows": int(gen0.get("segment_rows") or 0),
        }),
        ("commit", {"route": gen0.get("route", "spark")}),
    ):
        m["phases"][name] = {"status": "done", "ts_utc": now, **info}
    cat.write_manifest(schema_version, m)
    emit_metric_event(
        cat.index_dir(schema_version), "full_build", schema=schema_version,
        adds=int(m["counters"]["docs"]),
        postings=int(m["counters"]["postings"]),
        bytes=int(m["counters"]["bytes"]),
    )
    return m
