"""Index build: SPIMI posting construction -> salted term merge -> segments.

The Spark re-expression of the reference's whole write path
(queue pump -> hydrate -> route -> bulk index; IndexQueueProcessor.cs:39-77,
PumpAllScoresCommand.cs:70-110), fused into one declarative pipeline plus the
part the reference delegates to Lucene: building the inverted index itself.

Pipeline (phases are individually checkpointed in the manifest — T8 resume):

  postings   route (P1) -> ONE fused Arrow pass per input partition
             (docID assign + byte-exact html->text + tokenize + per-doc
             combine) -> doc-grouped FORWARD table
             fwd(doc_id, dl, terms[], tfs[]); docmap; dictionary (term_id by
             df-desc dense rank over the JVM-exploded posting view); stats
  segments   explode fwd JVM-side -> ⋈ broadcast dictionary -> RANGE-salt
             head terms over disjoint docID intervals -> groupBy(term_id,
             salt) collect_list+sort_array (all JVM) -> mapInArrow encodes
             each group to delta-gap varbyte blocks with per-block
             (max_tf, min_dl) -> segments parquet range-partitioned by
             term_id
  commit     counters + cursor into the manifest

Skew handling (north_rule "skew handled explicitly"): a head term like 'the'
has df ~ N and would put one reducer group at corpus scale. Each term gets
n_salts = ceil(df / salt_group_cap) salts; salt = doc_id * n_salts / id_span
— RANGE-based, so each salted group covers a disjoint, ordered docID
interval, and the term's global posting list is simply its segment rows
ordered by doc_min. The cap is also the collect_list group memory bound.

Bridge discipline (measured on local[32]): the JVM<->Python Arrow bridge
costs ~0.4us per ROW each way regardless of width, so row-heavy relational
work (explode, join, salt, groupBy, sort) stays JVM-side and Python sees
only doc-grouped or term-grouped rows — 10^5 rows over the bridge instead of
10^7 postings. That single decision is worth ~3x on the whole build.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import codec
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


# staged forward rows: the ONE heavy scan's output, keyed by (partition,
# position) — doc ids are assigned afterwards by a deterministic projection
FWD_STAGE_SCHEMA = (
    "url string, warc_ts timestamp, dl bigint, "
    "terms array<string>, tfs array<bigint>, pid int, pos bigint"
)

# positional variant (build_index(positions=True)): ``poss`` is the doc's
# token positions FLAT in term-major order — for each entry of ``terms`` in
# order, that term's ascending positions; run lengths are exactly ``tfs``
# (sum == dl), so no extra offsets column is needed downstream
FWD_STAGE_SCHEMA_POS = FWD_STAGE_SCHEMA + ", poss array<bigint>"

def _fused_stage_pass(positions: bool = False, keyword_cols: tuple = ()):
    """mapInArrow body over input partitions of (url, warc_ts, html, __pid):
    byte-exact extraction + tokenization + per-doc combine in ONE python
    pass, emitting doc-GROUPED rows keyed by (pid, pos). EVERY row is
    emitted (zero-token docs with dl=0 and empty lists) so positions are
    dense — the id projection later is offset[pid] + pos.

    ``positions=True`` additionally emits each term's token positions
    (term-major flat, ascending within term — FWD_STAGE_SCHEMA_POS); the
    per-doc dict pass already visits every token, so this costs one list
    append per token, only when enabled.

    ``keyword_cols``: declared docmap carry-through columns — keyword
    (string, the scores.json country_code/ruleset_id analog) AND numeric
    doc-value (double, the total_score/pp sort-field analog) columns
    alike; pure Arrow pass-through, zero Python work per row."""
    from ..functions.textprep import extract_text, tokenize

    def run(batches):
        local = 0
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            pid = int(batch.column("__pid")[0].as_py())
            pos = local + np.arange(n, dtype=np.int64)
            local += n
            htmls = batch.column("html")
            dls: list[int] = []
            term_offsets = [0]
            pos_offsets = [0]
            flat_terms: list[str] = []
            flat_tfs: list[int] = []
            flat_poss: list[int] = []
            for i in range(n):
                toks = tokenize(extract_text(htmls[i].as_py()))
                dls.append(
                    _combine_doc(toks, positions, flat_terms, flat_tfs, flat_poss)
                )
                term_offsets.append(len(flat_terms))
                pos_offsets.append(len(flat_poss))
            arrays = [
                batch.column("url"),
                batch.column("warc_ts"),
                pa.array(dls, pa.int64()),
                pa.ListArray.from_arrays(
                    pa.array(term_offsets, pa.int32()),
                    pa.array(flat_terms, pa.string()),
                ),
                pa.ListArray.from_arrays(
                    pa.array(term_offsets, pa.int32()),
                    pa.array(flat_tfs, pa.int64()),
                ),
                pa.array(np.full(n, pid, dtype=np.int32), pa.int32()),
                pa.array(pos, pa.int64()),
            ]
            fields = [
                ("url", batch.schema.field("url").type),
                ("warc_ts", batch.schema.field("warc_ts").type),
                ("dl", pa.int64()),
                ("terms", pa.list_(pa.string())),
                ("tfs", pa.list_(pa.int64())),
                ("pid", pa.int32()),
                ("pos", pa.int64()),
            ]
            if positions:
                arrays.append(
                    pa.ListArray.from_arrays(
                        pa.array(pos_offsets, pa.int32()),
                        pa.array(flat_poss, pa.int64()),
                    )
                )
                fields.append(("poss", pa.list_(pa.int64())))
            for kc in keyword_cols:
                arrays.append(batch.column(kc))
                fields.append((kc, batch.schema.field(kc).type))
            yield pa.RecordBatch.from_arrays(
                arrays, schema=pa.schema(fields)
            )

    return run


def _plan_is_deterministic_scan(df: DataFrame) -> bool:
    """True when ``df`` is a narrow (map-only) lineage over a plain file
    scan: its partitioning and per-partition row order are then
    reproducible across jobs within one session (same split conf, same
    file listing), which is exactly the invariant the direct id-projection
    fast path of ``materialize_forward`` needs. Conservative by design:
    any operator that can resample, reorder or regroup rows between jobs
    (shuffle/sort/sample/limit/rand/python-eval/cache) forces the staged
    path — a false negative only costs the staging round-trip."""
    try:
        if not df.inputFiles():
            return False
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return False
    bad = (
        "Repartition", "Sort", "Aggregate", "Join", "Window", "Deduplicate",
        "Sample", "Limit", "Offset", "Generate", "rand(", "randn(",
        "shuffle", "Exchange", "InMemoryRelation", "MapIn", "EvalPython",
        "FlatMap", "MapGroups", "MapElements", "MapPartitions",
    )
    return not any(b in plan for b in bad)


def _combine_doc(toks, positions, flat_terms, flat_tfs, flat_poss):
    """Per-doc combine shared by the fused passes: append the doc's unique
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


def _fused_fwd_pass(positions: bool, bundle_b):
    """mapInArrow body over (html, __pid) partitions for the DIRECT path:
    the same byte-exact extract+tokenize+per-doc combine as
    ``_fused_stage_pass``, but docIDs are assigned IN-PASS from the
    pre-counted per-partition offsets (offset[pid] + local row position)
    and dl==0 rows are dropped here (the forward table never stores them)
    — the output IS the fwd table, no staging round-trip, and url/warc_ts
    never cross the Python boundary. ``bundle_b``: broadcast of
    (offsets, counts) from the cheap JVM count pass; a row-count mismatch
    against ``counts`` aborts the job loudly (the determinism invariant
    ``_plan_is_deterministic_scan`` guards can then never corrupt ids
    silently)."""
    from ..functions.textprep import extract_text, tokenize

    def run(batches):
        local = 0
        pid = None
        offsets, counts = bundle_b.value
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
            fields = [
                ("doc_id", pa.int64()),
                ("dl", pa.int64()),
                ("terms", pa.list_(pa.string())),
                ("tfs", pa.list_(pa.int64())),
            ]
            if positions:
                arrays.append(
                    pa.ListArray.from_arrays(
                        pa.array(pos_offsets, pa.int32()),
                        pa.array(flat_poss, pa.int64()),
                    )
                )
                fields.append(("poss", pa.list_(pa.int64())))
            yield pa.RecordBatch.from_arrays(arrays, schema=pa.schema(fields))
        if pid is not None and local != int(counts.get(pid, -1)):
            raise RuntimeError(
                f"fused fwd pass of partition {pid} saw {local} rows but the "
                f"count pass saw {counts.get(pid)} — scan partitioning was "
                "not reproducible; rebuild with the staged path"
            )

    return run


def _materialize_forward_direct(
    spark: SparkSession,
    adds: DataFrame,
    fwd_dir: str,
    docmap_dir: str,
    start_id: int,
    positions: bool,
    keyword_cols: tuple,
    numeric_cols: tuple,
) -> dict:
    """Direct (no-staging) forward materialization for deterministic file
    scans: one cheap JVM-only count pass fixes the per-partition docID
    offsets, then the heavy fused pass writes the fwd table directly
    (ids assigned in-pass) while a JVM-only projection writes the docmap
    concurrently from the same scan (doc_id = offset[pid] + partition-local
    row number via monotonically_increasing_id). Replaces: staging write +
    three staging scans + a second parquet encode of the token lists.
    Output tables and ids are identical to the staged path."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Observation
    from pyspark.util import inheritable_thread_target

    # ---- pass 0 (cheap, JVM): rows per scan partition — lang/text columns
    # only, the html blobs are never decoded here
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

    kw_sel = [F.col(c).cast("string").alias(c) for c in keyword_cols]
    num_sel = [F.col(c).cast("double").alias(c) for c in numeric_cols]
    if offsets:
        off_df = spark.createDataFrame(
            sorted(offsets.items()), "pid int, off bigint"
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
    dm = dm.observe(
        dm_obs,
        F.count(F.lit(1)).alias("n"),
        F.max("warc_ts").alias("cursor"),
    )

    # overlap the two independent writes (guide §2.6): the docmap job is
    # JVM-only and back-fills cores the python-heavy fwd job leaves idle;
    # it inherits this thread's job group and description
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
    dmg = dict(dm_obs.get)
    if int(dmg["n"] or 0) != acc - start_id:
        raise RuntimeError(
            f"direct docmap write saw {dmg['n']} rows but the count pass saw "
            f"{acc - start_id} — scan was not reproducible across jobs, so "
            "docmap and fwd doc_ids may disagree; rebuild with the staged path"
        )
    return {
        "n_rows": acc - start_id,
        "fwd": dict(obs.get),
        "docmap_rows": int(dmg["n"] or 0),
        "cursor": dmg["cursor"],
    }


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
    """ONE scan of the heavy input -> staged forward rows keyed by
    (pid, pos) -> dense docIDs assigned by a file-based projection.

    The two-job zipWithIndex pattern (count per partition, then map with
    offsets) silently DOUBLE-ASSIGNS ids when the input's partitioning is
    not bit-stable across jobs — a repartitionByRange upstream re-SAMPLES
    per job, so the count job's boundaries need not match the map job's.
    Staging decouples that: the single fused pass is internally consistent
    whatever the partitioning, and the offsets + id projection derive from
    the STAGED FILES (deterministic). Bonus: the input html is scanned once,
    not three times (count + fwd + docmap passes); the staging table is
    ~a few % of the input size (compressed token lists, no html).

    Returns {"n_rows": staged rows (== docmap rows written, known from the
    per-partition offset counts), "fwd": {n, sum_dl, dl_min, postings},
    "docmap_rows": rows written to the docmap, "cursor": max(warc_ts)} —
    the forward-table stats ride the fwd write itself as a CollectMetrics
    observation (and the docmap stats its write), so callers never need
    follow-up count()/agg() jobs over the generation they just wrote.

    Fast path: when ``adds`` is a narrow lineage over a plain file scan
    (``_plan_is_deterministic_scan``) the staging round-trip is skipped
    entirely — see ``_materialize_forward_direct``. The staged path below
    remains the general-input fallback (shuffled/cached/in-memory inputs).
    """
    import shutil

    keyword_cols = tuple(keyword_cols)
    numeric_cols = tuple(numeric_cols)
    if _plan_is_deterministic_scan(adds):
        return _materialize_forward_direct(
            spark, adds, fwd_dir, docmap_dir, start_id,
            positions, keyword_cols, numeric_cols,
        )
    carry_cols = keyword_cols + numeric_cols
    # keyword/numeric columns (scores.json keyword- and numeric-field
    # analogs) ride the staging pass untouched — cast driver-side (string /
    # double) so the docmap's stored type is pinned regardless of the input
    # column's type (numeric = the ES doc_values sort/range fields)
    kw_sel = [F.col(c).cast("string").alias(c) for c in keyword_cols]
    num_sel = [F.col(c).cast("double").alias(c) for c in numeric_cols]
    part = adds.select("url", "warc_ts", "html", *kw_sel, *num_sel).withColumn(
        "__pid", F.spark_partition_id()
    )
    stage_schema = (
        (FWD_STAGE_SCHEMA_POS if positions else FWD_STAGE_SCHEMA)
        + "".join(f", {c} string" for c in keyword_cols)
        + "".join(f", {c} double" for c in numeric_cols)
    )
    part.select("url", "warc_ts", "html", *carry_cols, "__pid").mapInArrow(
        _fused_stage_pass(positions, carry_cols), stage_schema
    ).write.mode("overwrite").parquet(staging_dir)
    stage = spark.read.parquet(staging_dir)
    counts = dict(
        (int(r["pid"]), int(r["count"]))
        for r in stage.groupBy("pid").count().collect()
    )
    offsets = []
    acc = start_id
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    if offsets:
        off_df = spark.createDataFrame(offsets, "pid int, off bigint")
        with_ids = stage.join(F.broadcast(off_df), "pid").withColumn(
            "doc_id", F.col("off") + F.col("pos")
        )
    else:
        with_ids = stage.withColumn("doc_id", F.col("pos"))
    from pyspark.sql import Observation

    obs = Observation(f"fwd_stats_{start_id}")
    fwd_cols = ["doc_id", "dl", "terms", "tfs"] + (
        ["poss"] if positions else []
    )
    with_ids.filter(F.col("dl") > 0).select(*fwd_cols).observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("dl"), F.lit(0)).alias("sum_dl"),
        F.min("dl").alias("dl_min"),
        F.coalesce(F.sum(F.size("terms")), F.lit(0)).alias("postings"),
    ).write.mode("overwrite").option(
        "parquet.block.size", str(FWD_ROW_GROUP_BYTES)
    ).parquet(fwd_dir)
    dm_obs = Observation(f"dm_stats_{start_id}")
    with_ids.select("url", "warc_ts", *carry_cols, "doc_id").observe(
        dm_obs,
        F.count(F.lit(1)).alias("n"),
        F.max("warc_ts").alias("cursor"),
    ).write.mode("overwrite").parquet(docmap_dir)
    shutil.rmtree(staging_dir, ignore_errors=True)
    dmg = dict(dm_obs.get)
    return {
        "n_rows": acc - start_id,
        "fwd": dict(obs.get),
        "docmap_rows": int(dmg["n"] or 0),
        "cursor": dmg["cursor"],
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


def _gather_runs(
    flat: np.ndarray, run_starts: np.ndarray, run_lens: np.ndarray
) -> np.ndarray:
    """Gather variable-length runs out of ``flat`` in a NEW run order:
    run i of the output is flat[run_starts[i] : run_starts[i]+run_lens[i]].
    One np.repeat + one arange — the vectorized per-posting permutation
    both positional passes (invert sort, merge sort) need."""
    total = int(run_lens.sum())
    if total == 0:
        return np.empty(0, dtype=flat.dtype)
    new_prefix = np.zeros(run_lens.size, dtype=np.int64)
    np.cumsum(run_lens[:-1], out=new_prefix[1:])
    idx = np.repeat(run_starts, run_lens) + (
        np.arange(total, dtype=np.int64) - np.repeat(new_prefix, run_lens)
    )
    return flat[idx]


def _posting_delta_gaps(
    values: np.ndarray, run_starts: np.ndarray
) -> np.ndarray:
    """Within-run delta gaps with a +1 restart at every run start — the
    encode_positions layout, computed in one diff + one scatter."""
    n = values.size
    gaps = np.empty(n, dtype=np.uint64)
    if n == 0:
        return gaps
    gaps[0] = np.uint64(values[0] + 1)
    if n > 1:
        gaps[1:] = np.diff(values).astype(np.uint64)
    gaps[run_starts] = (values[run_starts] + 1).astype(np.uint64)
    return gaps


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
        import pyarrow.compute as pc

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
        # delta gaps with a reset at every group start (doc_id+1 stored) —
        # the same one-pass trick as codec.encode_postings
        gaps = np.empty(n, dtype=np.uint64)
        gaps[0] = np.uint64(g_docs[0] + 1)
        if n > 1:
            gaps[1:] = np.diff(g_docs).astype(np.uint64)
        gaps[starts] = (g_docs[starts] + 1).astype(np.uint64)
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
            g_poss = _gather_runs(poss_flat, old_pstarts[order], g_tfs)
            vprefix = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(g_tfs, out=vprefix[1:])
            pgaps = _posting_delta_gaps(g_poss, vprefix[:-1])
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


def _merge_subsegments_arrow(
    generation: int,
    norms_path: str,
    norms_version: int,
    positions: bool = False,
):
    """mapInArrow body over grouped sub-segments (term_id, salt,
    subs: list<struct<docs_blob, tfs_blob>>): decode every sub-list,
    merge-sort each group by docID, re-encode as the final block-addressed
    posting list. block_min_dl metadata comes from the doc-indexed norms
    array (operators/state.load_norms over ``norms_path``'s (doc_id, dl)
    columns) — dl never rides the merge shuffle.

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
        # absolute import: this body executes on executors (shipped zip)
        from osu_elastic_indexer_spark.operators.state import load_norms

        norms = None
        B = codec.BLOCK
        for batch in batches:
            if batch.num_rows == 0:
                continue
            if norms is None:
                norms = load_norms(norms_path, norms_version)
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
                g_poss = _gather_runs(poss_abs, pv_starts[order], tfs)
                vprefix = np.zeros(total + 1, dtype=np.int64)
                np.cumsum(tfs, out=vprefix[1:])
                pgaps_out = _posting_delta_gaps(g_poss, vprefix[:-1])

            # ---- block grid (identical to codec.encode_postings) ---------
            n_blocks = (row_sizes + B - 1) // B
            tot_blocks = int(n_blocks.sum())
            nb_prefix = np.zeros(nrows + 1, dtype=np.int64)
            np.cumsum(n_blocks, out=nb_prefix[1:])
            block_row = np.repeat(np.arange(nrows, dtype=np.int64), n_blocks)
            intra = np.arange(tot_blocks, dtype=np.int64) - nb_prefix[block_row]
            bstart = row_starts[block_row] + intra * B
            bend = np.minimum(bstart + B, row_ends[block_row])

            # block-local delta gaps: plain diff, then every block's first
            # entry reset to doc_id+1 (this also overwrites the wrapped
            # negative diffs at row boundaries — every row start IS a
            # block start)
            out_gaps = np.empty(total, dtype=np.uint64)
            out_gaps[0] = np.uint64(docs[0] + 1)
            if total > 1:
                out_gaps[1:] = np.diff(docs).astype(np.uint64)
            out_gaps[bstart] = (docs[bstart] + 1).astype(np.uint64)
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
                blk_list(np.minimum.reduceat(norms[docs], bstart)),
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
    generation: int = 0,
    max_salts: int = 1024,
    dictionary: DataFrame | None = None,
    n_terms: int | None = None,
    dict_broadcast_max: int = DICT_BROADCAST_MAX,
    positions: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """fwd -> (segments, dictionary, sub): local SPIMI inversion,
    blob-grained salted term merge. If ``dictionary`` is given (incremental
    generations), term_ids come from it; otherwise the dictionary is derived
    from the sub-segment stats (df = sum of local n_docs) and returned.

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
    grid_salts = max(1, min(max_salts, -(-id_span // max(salt_group_cap, 1))))
    # sub-segments are ~index-sized (compressed blobs) — persist so the
    # dictionary derivation and the merge share one inversion pass
    sub = fwd.mapInArrow(
        _local_invert_pass(id_span, grid_salts, positions),
        SUBSEG_SCHEMA_POS if positions else SUBSEG_SCHEMA,
    ).persist()
    if dictionary is None:
        df_stats = sub.groupBy("term").agg(F.sum("n_docs").alias("df"))
        from .docmap import assign_dense_ids

        dictionary = assign_dense_ids(
            df_stats, [F.desc("df"), F.asc("term")], "term_id"
        ).select("term_id", "term", F.col("df").cast("bigint").alias("df"))
        dictionary = dictionary.persist()
        n_terms = dictionary.count()
    elif n_terms is None:
        n_terms = dictionary.count()
    dict_ids = dictionary.select("term", "term_id")
    if n_terms <= dict_broadcast_max:
        dict_ids = F.broadcast(dict_ids)
    with_ids = sub.join(dict_ids, "term")
    blob_cols = ["docs_blob", "tfs_blob"] + (["pos_blob"] if positions else [])
    grouped = with_ids.groupBy("term_id", "salt").agg(
        F.collect_list(F.struct(*blob_cols)).alias("subs")
    )
    segments = grouped.mapInArrow(
        _merge_subsegments_arrow(
            generation, norms_path, norms_version, positions
        ),
        SEGMENT_SCHEMA_POS if positions else SEGMENT_SCHEMA,
    )
    return segments, dictionary, sub


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    catalog: Catalog,
    schema_version: str,
    *,
    resume: bool = False,
    salt_group_cap: int | None = None,
    segment_partitions: int | None = None,
    where: str | None = None,
    include_all_langs: bool = False,
    positions: bool = False,
    keyword_fields=None,
    numeric_fields=(),
) -> dict:
    """Full (backfill) index build — the `queue pump-all` + consume analog.

    ``positions=True`` builds the v2 POSITIONAL layout
    (docs/positional-postings.md): fwd rows carry per-term token
    positions, sub-segments and final segments gain pos_blob/pos_offs
    (codec.encode_positions layout, same 128-posting block grid), and the
    manifest records ``positions: true`` so queries can route phrase
    matching index-side. Positions-free queries are unaffected (column
    pruning never reads the sidecar).

    ``docs`` must have (url, warc_ts, html, text, lang); text is ALWAYS
    re-extracted from html (input_hint byte-identity invariant). Returns the
    final manifest. With resume=True, phases already marked done in the
    manifest are skipped (T8: restart filters done partitions).

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
    """
    from ..session import ship_package

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
    if not resume:
        # full rebuild = fresh index life: wipe table dirs + versioned
        # pointers + generations from any previous (possibly incrementally
        # grown) life — otherwise bare fwd/docmap reads below discover the
        # old gen=1+ dirs and the old tombstones poison the new docIDs
        cat.reset_tables(schema_version)

    docmap_path = cat.table_path(schema_version, "docmap")
    dict_path = cat.table_path(schema_version, "dictionary")
    seg_path = cat.table_path(schema_version, "segments")
    stats_path = cat.table_path(schema_version, "stats")
    # fwd is the doc-grouped forward index (doc -> terms/tfs/dl): the build
    # intermediate, the incremental delete-accounting source (clustered by
    # doc_id by construction), and the compaction input
    fwd_path = cat.table_path(schema_version, "fwd")

    # ---- phase 1: postings (docmap + fwd + dictionary + stats) -------------
    if not (resume and cat.phase_done(schema_version, "postings")):
        cat.mark_phase(schema_version, "postings", "running")
        # P1 routing, split for cost: the cheap half (lang + null checks —
        # parquet def-levels, no blob decode) gates id assignment; the
        # text-emptiness half falls out of the fused pass (dl==0 docs emit
        # no forward row). docmap may thus carry a rare zero-token url —
        # harmless: it has no postings and counters use stats.n_docs.
        pred = F.col("text").isNotNull()
        if not include_all_langs:
            pred = (F.col("lang") == "en") & pred
        adds = docs.filter(pred)
        if where:
            adds = adds.filter(F.expr(where))
        in_split = input_split_bytes(spark, docs)
        from contextlib import nullcontext

        split_ctx = (
            scan_split_bytes(spark, in_split) if in_split else nullcontext()
        )
        with split_ctx:
            # ONE heavy scan; docIDs in input order (reference-faithful:
            # scores.id is arrival order) via the staged projection —
            # generation-0 subdirs: incremental generations append sibling
            # gen=N dirs and COMMIT via the manifest pointer (atomicity —
            # sources/catalog.committed_gen_paths)
            staged = materialize_forward(
                spark, adds,
                f"{fwd_path}/gen=0", f"{docmap_path}/gen=0",
                f"{cat.index_dir(schema_version)}/_fwd_stage",
                positions=positions, keyword_cols=keyword_fields,
                numeric_cols=numeric_fields,
            )
        # collection stats and the cursor rode the fwd/docmap writes as
        # CollectMetrics observations — no follow-up agg jobs over the
        # tables just written (they were 2 full scans of fwd + docmap)
        st = staged["fwd"]
        n_docs = int(st["n"] or 0)
        sum_dl = int(st["sum_dl"] or 0)
        dl_min = int(st["dl_min"]) if st["dl_min"] is not None else 0
        total_postings = int(st["postings"] or 0)
        _write_stats_table(
            stats_path, n_docs, sum_dl,
            (float(sum_dl) / n_docs) if n_docs else 0.0,
            dl_min, total_postings,
        )
        cursor = staged["cursor"]
        cat.mark_phase(
            schema_version, "postings", "done",
            postings=total_postings, n_docs=n_docs,
            docs=n_docs, docmap_rows=int(staged["docmap_rows"]),
            cursor=str(cursor) if cursor is not None else None,
        )

    # ---- phase 2: segments + dictionary -------------------------------------
    if not (resume and cat.phase_done(schema_version, "segments")):
        cat.mark_phase(schema_version, "segments", "running")
        # split fwd fine enough that the CPU-bound inversion has ~3 tasks
        # per core (the session default split is tuned for html scans and
        # under-partitions the compact fwd — measured scaling killer)
        with scan_split_bytes(spark, fwd_split_bytes(spark, fwd_path)):
            fwd = spark.read.parquet(fwd_path)
            # ids are dense from 0 (full build), so the id span IS the
            # docmap row count phase 1 recorded — no dm.agg(max) job;
            # resumed legacy manifests without the counter fall back
            dm_rows = (cat.read_manifest(schema_version) or {}).get(
                "phases", {}
            ).get("postings", {}).get("docmap_rows")
            if dm_rows is not None:
                id_span = max(int(dm_rows), 1)
            else:
                dm = spark.read.parquet(docmap_path)
                max_doc = dm.agg(F.max("doc_id")).collect()[0][0]
                id_span = int(max_doc) + 1 if max_doc is not None else 1
            nparts = segment_partitions or max(
                2, int(spark.conf.get("spark.sql.shuffle.partitions")) // 2
            )
            # adaptive skew cap: the heaviest term (df ~ N) spreads over ~2x
            # the reduce partitions so no single reducer owns a whole head
            # term — both the skew fix and the merge-group memory bound
            cap = salt_group_cap or max(50_000, id_span // (2 * nparts))
            norms_ver = int(
                (cat.read_manifest(schema_version) or {}).get("commit_seq", 0)
            )
            segments, dictionary, sub = build_segments_spimi(
                spark, fwd, id_span, cap, fwd_path, norms_ver, generation=0,
                positions=positions,
            )
            # gen=0 like every other append table: incremental generations
            # append per-BATCH delta rows as sibling gen=N dirs, merged at
            # read (operators/dictionary.read_dictionary_merged) — the full
            # per-batch dictionary rewrite was the round-2 scale gap
            # dictionary writes run CONCURRENTLY with the segments
            # merge+write below (guide §2.6 back-fill): they only read the
            # persisted `dictionary`, the segments job only reads the
            # persisted `sub` + a broadcast of dictionary ids — independent
            # jobs, so the small dict writes fill executor slots the big
            # job's stragglers leave idle. The manifest stays
            # single-writer: the dictionary phase is marked after join(),
            # before the segments phase mark.
            from concurrent.futures import ThreadPoolExecutor

            def _write_dictionary() -> int:
                spark.sparkContext.setJobDescription("build: dictionary writes")
                dictionary.write.mode("overwrite").parquet(
                    f"{dict_path}/gen=0"
                )
                write_dict_by_term(
                    dictionary,
                    f"{cat.table_path(schema_version, 'dict_by_term')}/gen=0",
                )
                # build_segments_spimi already counted the dictionary (its
                # broadcast-threshold probe), and dense ids run 0..n-1, so
                # both counters are known without another agg job
                return int(dictionary.count())  # cached — metadata-cheap

            dict_pool = ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="build-dictionary"
            )
            dict_future = dict_pool.submit(_write_dictionary)
            # sort within the merge's hash partitions by term_id: each output
            # file then has narrow per-row-group term_id ranges, so query-time
            # term_id IN (...) filters prune row groups (the Lucene
            # term-dictionary seek analog) WITHOUT a second shuffle — a
            # repartitionByRange here would range-SAMPLE its child and run
            # the whole merge pipeline twice
            # segment counters ride the write itself (CollectMetrics) —
            # the old follow-up agg re-read every blob byte just written
            from pyspark.sql import Observation

            seg_obs = Observation("seg_counters")
            blob_bytes = F.length("docs_blob") + F.length("tfs_blob")
            if positions:
                blob_bytes = blob_bytes + F.length("pos_blob")
            try:
                with arrow_batch_rows(spark, GROUP_BATCH_ROWS):
                    (
                        segments.observe(
                            seg_obs,
                            F.count(F.lit(1)).alias("rows"),
                            F.coalesce(F.sum("n_docs"), F.lit(0)).alias("postings"),
                            F.coalesce(F.sum(blob_bytes), F.lit(0)).alias("bytes"),
                        )
                        .sortWithinPartitions("term_id", "salt")
                        .write.mode("overwrite")
                        # small row groups: files are term_id-sorted, so narrow
                        # per-group [min,max] ranges turn a query's term_id IN
                        # filter into real row-group pruning — both in Spark's
                        # scan and the serving tier's footer-indexed seeks
                        # (one 128 MB group per file spans the whole vocabulary
                        # and prunes nothing)
                        .option("parquet.block.size", str(SEGMENT_ROW_GROUP_BYTES))
                        .parquet(f"{seg_path}/gen=0")
                    )
            finally:
                # reap the dictionary writer on every path: a failed
                # segments write must not leave it running past the build
                dict_pool.shutdown(wait=True)
        n_terms = dict_future.result()
        cat.mark_phase(
            schema_version, "dictionary", "done",
            terms=int(n_terms),
            max_term_id=int(n_terms) - 1,
        )
        dictionary.unpersist()
        sub.unpersist()
        counters = dict(seg_obs.get)
        cat.mark_phase(
            schema_version, "segments", "done",
            segment_rows=int(counters["rows"]),
            postings=int(counters["postings"]),
            bytes=int(counters["bytes"]),
        )

    # ---- phase 3: commit ----------------------------------------------------
    m = cat.read_manifest(schema_version)
    m["counters"] = {
        "docs": m["phases"]["postings"].get("docs"),
        "postings": m["phases"]["segments"].get("postings"),
        "bytes": m["phases"]["segments"].get("bytes"),
        "adds_total": m["phases"]["postings"].get("docs"),
        "deletes_total": 0,
        # vocabulary counters: incremental delta commits extend these
        # WITHOUT scanning the dictionary (terms grow by the batch's fresh
        # terms; ids are dense so max advances by the same amount)
        "terms": (m["phases"].get("dictionary") or {}).get("terms"),
        "max_term_id": (m["phases"].get("dictionary") or {}).get("max_term_id"),
        # docIDs are dense from 0, so the first unused id is the docmap row
        # count; incremental commits extend it and compaction keeps it, so
        # a dead id is never handed out again
        "next_doc_id": m["phases"]["postings"].get("docmap_rows"),
    }
    m["cursor"] = m["phases"]["postings"].get("cursor")
    m["generations"] = 1
    m["positions"] = bool(positions)
    m["keyword_fields"] = list(keyword_fields)
    m["numeric_fields"] = list(numeric_fields)
    m["include_all_langs"] = bool(include_all_langs)
    cat.write_manifest(schema_version, m)
    cat.mark_phase(schema_version, "commit", "done")
    from ..sources.catalog import emit_metric_event

    emit_metric_event(
        cat.index_dir(schema_version), "full_build", schema=schema_version,
        adds=int(m["counters"]["docs"] or 0),
        postings=int(m["counters"]["postings"] or 0),
        bytes=int(m["counters"]["bytes"] or 0),
    )
    return cat.read_manifest(schema_version)
