"""The two workloads: serve and cdc.

Each runs set-up, then measures for ``seconds`` of wall time (at least
one operation), checking every answer outside the timed calls. A run
returns the workload's figures (``report``) plus the per-layer figures
of a traced run (``layers``). ``run.py`` turns them into the result line.

Both set-ups start with a full build of the corpus on a fresh Spark
session, which is where the build layers are measured: a separate
workload of repeated warm builds cost about 45 s a run, more than the
runs of all workloads can take together.
"""

from __future__ import annotations

import contextlib
import statistics
import time

import inputs
from stats import Tally, summarize
from spans import Tracer, searcher_layers, self_ms_by_name

SCHEMA = "v1"


# ---- Spark session -----------------------------------------------------


def start_spark(cores: int):
    """A ``local[cores]`` session. Its Python workers are not warmed
    separately: every workload's set-up starts with a full build, which
    spawns them."""
    from osu_elastic_indexer_spark.session import get_spark

    spark = get_spark("perfbench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


class SparkCalls:
    """Jobs, stages and tasks per engine call, from Spark's status
    tracker: the call's main-thread jobs run under a job group, and jobs
    the engine starts on its own threads (no group) are picked up as new
    ungrouped job ids."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.n = 0
        self.totals = {"jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0}

    def run(self, fn):
        self.n += 1
        group = f"perfbench-{self.n}"
        before = set(self.tracker.getJobIdsForGroup(None))
        self.sc.setJobGroup(group, group)
        try:
            return fn()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = set(self.tracker.getJobIdsForGroup(group))
            jobs |= set(self.tracker.getJobIdsForGroup(None)) - before
            self._add(jobs)

    def _add(self, jobs) -> None:
        stages = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        self.totals["jobs"] += len(jobs)
        self.totals["stages"] += len(stages)
        for s in stages:
            info = self.tracker.getStageInfo(s)
            if info is not None:
                self.totals["tasks"] += info.numCompletedTasks
                self.totals["tasks_failed"] += info.numFailedTasks


# ---- index helpers -------------------------------------------------------


def live_doc_ids(index_dir: str) -> dict[str, int]:
    """url -> doc_id of every live doc of the committed snapshot."""
    import pyarrow.dataset as ds

    from osu_elastic_indexer_spark.operators.state import _parquet_files
    from osu_elastic_indexer_spark.sources.catalog import committed_gen_paths

    def read(table, cols):
        files = _parquet_files(tuple(committed_gen_paths(index_dir, table)))
        return ds.dataset(files).to_table(columns=cols) if files else None

    dm = read("docmap", ["url", "doc_id"])
    tomb = read("tombstones", ["doc_id"])
    dead = set(tomb.column("doc_id").to_pylist()) if tomb is not None else set()
    return {
        u: d
        for u, d in zip(dm.column("url").to_pylist(), dm.column("doc_id").to_pylist())
        if d not in dead
    }


def open_searcher(index_dir: str, tr: Tracer | None):
    from osu_elastic_indexer_spark.operators.serve import LocalSearcher

    if tr is None:
        return LocalSearcher(index_dir)
    with searcher_layers(tr):
        return LocalSearcher(index_dir)


def traced_call(tr: Tracer | None, name: str, qid, fn):
    """``fn()`` as one root span with the searcher layers wrapped, or
    plainly when ``tr`` is None."""
    if tr is None:
        return fn()
    with searcher_layers(tr), tr.span(name, qid=qid):
        return fn()


def same_answer(got, want) -> bool:
    return (
        not isinstance(got, Exception)
        and want is not None
        and [tuple(p) for p in got] == [tuple(p) for p in want]
    )


def expected_in(entries: list[dict], index_dir: str) -> list:
    ids = live_doc_ids(index_dir)
    return [inputs.expected_ids(e["expect"], ids) for e in entries]


def build_layers(manifests: list[tuple[float, dict]]) -> dict:
    """Per-layer build figures: medians of the phase wall times over the
    given (wall_s, manifest) builds, counters of the last one."""
    def phase(m, name):
        return float((m["phases"].get(name) or {}).get("wall_sec") or 0.0)

    post = [phase(m, "postings") for _w, m in manifests]
    seg = [phase(m, "segments") for _w, m in manifests]
    other = [w - p - s for (w, _m), p, s in zip(manifests, post, seg)]
    c = manifests[-1][1]["counters"]
    return {
        "build.postings_s": statistics.median(post),
        "build.segments_s": statistics.median(seg),
        "build.other_s": statistics.median(other),
        "build.postings": c["postings"],
        "build.segment_rows": manifests[-1][1]["phases"]["segments"]["segment_rows"],
        "build.terms": c["terms"],
        "build.blob_bytes": c["bytes"],
    }


def session_layers(calls: SparkCalls | None, ops: int) -> dict:
    t = calls.totals if calls is not None else {}
    return {
        f"session.{k}": t.get(k, 0) / max(ops, 1)
        for k in ("jobs", "stages", "tasks", "tasks_failed")
    }


def searcher_layer_figures(tr: Tracer, n_queries: int, n_opens: int) -> dict:
    """Mean self time (ms) and counts per searcher query; state loads per
    searcher open; p50 latency per query type."""
    per_q = max(n_queries, 1)
    self_ms = self_ms_by_name(tr.spans)
    out = {
        f"{name}_ms": self_ms.get(name, 0.0) / per_q
        for name in (
            "dictionary.resolve", "dictionary.prefix_expand",
            "serve.segment_read", "codec.decode", "wand.taat", "wand.finalize",
        )
    }
    out["state.load_ms"] = self_ms.get("state.load", 0.0) / max(n_opens, 1)
    for name in ("serve.row_groups_read", "codec.postings_decoded",
                 "wand.taat_calls", "wand.bmw_calls"):
        out[name] = tr.counts.get(name, 0) / per_q
    for kind in ("match", "bool", "phrase", "prefix"):
        lat = [(e - s) / 1e6 for _i, n, s, e, p, _q in tr.spans
               if n == f"serve.{kind}" and p is None]
        out[f"serve.{kind}_ms"] = statistics.median(lat) if lat else 0.0
    out["trace.spans"] = len(tr.spans)
    return out


def check_build(tally: Tally, m: dict, want: dict) -> None:
    """The set-up build's docs, postings and terms counters against the
    oracle's."""
    c = m["counters"]
    got = {k: c[k] for k in ("docs", "postings", "terms")}
    tally.record(got == want, f"build: counters {got} != {want}")


def overhead_pct(traced: list[float], plain: list[float]) -> float:
    if not traced or not plain:
        return 0.0
    return 100.0 * (statistics.median(traced) / statistics.median(plain) - 1.0)


# ---- serve ---------------------------------------------------------------


def _serve_call(searcher, kind: str, q):
    if kind == "match":
        return searcher.search(q, inputs.K)
    if kind == "bool":
        return searcher.search_bool(q, inputs.K)
    if kind == "phrase":
        return searcher.search_phrase(q, None, inputs.K)
    return searcher.search_prefix(q, inputs.K)


def serve(ctx) -> dict:
    """One client, closed loop, on a long-lived LocalSearcher over a v2
    (positional) index; Spark is gone before the loop starts."""
    import numpy as np

    pool = ctx.serve_pool()
    want = ctx.counts()
    t0 = time.perf_counter()
    spark = start_spark(ctx.cores)
    try:
        from osu_elastic_indexer_spark.operators.build import build_index
        from osu_elastic_indexer_spark.sources.catalog import Catalog

        cat = Catalog(ctx.scratch("serve"))
        tb = time.perf_counter()
        m = build_index(spark, spark.read.parquet(ctx.corpus), cat, SCHEMA, positions=True)
        build = (time.perf_counter() - tb, m)
    finally:
        stop_spark(spark)
    idx = cat.index_dir(SCHEMA)
    tr = Tracer() if ctx.trace else None
    searcher = open_searcher(idx, tr)
    setup_s = time.perf_counter() - t0
    expected = expected_in(pool, idx)

    tally = Tally()
    check_build(tally, m, want)

    def ask(i: int):
        try:
            return _serve_call(searcher, pool[i]["kind"], pool[i]["q"])
        except Exception as ex:  # a raising query is a failed operation
            return ex

    def check(i: int, got) -> None:
        tally.record(
            same_answer(got, expected[i]),
            f"{pool[i]['kind']} {pool[i]['q']!r}: {got!r} != {expected[i]!r}",
        )

    # untimed warm pass: fills the decode cache (part of set-up)
    t_warm = time.perf_counter()
    warm = [ask(i) for i in range(len(pool))]
    setup_s += time.perf_counter() - t_warm
    for i, got in enumerate(warm):
        check(i, got)

    order = np.random.default_rng([ctx.seed, 3]).permutation(len(pool))
    lat, traced, plain = [], [], []
    by_kind: dict[str, list[float]] = {}
    # a traced run alternates traced and untraced blocks of queries; the
    # wrappers are installed once per block, not per query
    block = 200
    n_traced = 0
    # seconds per complete pass over the pool: every pass runs the same
    # queries, and the median pass sets the throughput, so a few seconds
    # of a slower box do not
    passes = []
    start = t_pass = time.perf_counter()
    j = 0
    done = False
    while not done:
        use_trace = ctx.trace and (j // block) % 2 == 0
        with searcher_layers(tr) if use_trace else contextlib.nullcontext():
            for _ in range(block):
                i = int(order[j % len(order)])
                kind = pool[i]["kind"]
                t = time.perf_counter()
                if use_trace:
                    with tr.span(f"serve.{kind}", qid=j):
                        got = ask(i)
                else:
                    got = ask(i)
                dt = time.perf_counter() - t
                n_traced += use_trace
                (traced if use_trace else plain).append(dt)
                lat.append(dt)
                by_kind.setdefault(kind, []).append(dt)
                check(i, got)
                j += 1
                if j % len(order) == 0:
                    now = time.perf_counter()
                    passes.append(now - t_pass)
                    t_pass = now
                if time.perf_counter() - start >= ctx.seconds:
                    done = True
                    break
    window = time.perf_counter() - start

    ms = [x * 1e3 for x in lat]
    s = summarize(ms)
    qps = len(order) / statistics.median(passes) if passes else len(lat) / window
    report = {
        "setup_s": setup_s,
        "build_docs_per_s": m["counters"]["docs"] / build[0],
        "latency_p50_ms": s["p50"],
        "rate_per_s": qps,
        "index_bytes_per_doc": m["counters"]["bytes"] / m["counters"]["docs"],
        "samples": {"query_ms": s, "pass_s": summarize(passes), **{
            f"{k}_ms": summarize([x * 1e3 for x in v]) for k, v in sorted(by_kind.items())
        }},
        "named": {
            "serve_p50_ms": s["p50"],
            f"serve_p{s['tail_p']:g}_ms": s["tail"],
            "serve_qps": qps,
        },
    }
    layers = {}
    if ctx.trace:
        layers = {
            **build_layers([build]),
            **session_layers(None, 1),
            **searcher_layer_figures(tr, n_traced, 1),
            "trace.overhead_pct": overhead_pct(traced, plain),
        }
        ctx.dump_trace(tr)
    return {"tally": tally, "report": report, "layers": layers}


# ---- cdc -----------------------------------------------------------------


# a cycle takes most of a run's seconds, and a median needs two
MIN_CYCLES = 2


def _cdc_cycle(spark, cat, idx: str, j: int, path: str, sweep, bools,
               run_call, tr: Tracer | None) -> dict:
    """One CDC cycle: commit delta ``path``, reopen a searcher (its caches
    start empty, as after every real commit), run the cold sweep on it,
    then one Spark batch per query operator on the new snapshot. Returns
    timings and the unchecked answers; a raising query or batch is kept
    as its exception."""
    from osu_elastic_indexer_spark.operators.boolquery import bool_topk
    from osu_elastic_indexer_spark.operators.wand import wand_topk, wand_topk_docpart
    from osu_elastic_indexer_spark.streaming.incremental import incremental_update

    t = time.perf_counter()
    m = run_call(lambda: incremental_update(spark, spark.read.parquet(path), cat, SCHEMA))
    out = {"m": m, "update_s": time.perf_counter() - t, "cold": [], "traced": [],
           "plain": [], "got": [], "batches": []}
    searcher = open_searcher(idx, tr)
    for qi, e in enumerate(sweep):
        use_trace = tr is not None and qi % 2 == 0
        tq = time.perf_counter()
        try:
            res = traced_call(tr if use_trace else None, "serve.match", (j, qi),
                              lambda: searcher.search(e["q"], inputs.K))
        except Exception as ex:  # a raising query is a failed operation
            res = ex
        dq = time.perf_counter() - tq
        if qi == 0:
            out["visible_s"] = time.perf_counter() - t
        out["cold"].append(dq)
        out["traced" if use_trace else "plain"].append(dq)
        out["got"].append(res)
    for name, entries, fn in (
        ("wand.spark_batch_s", sweep, wand_topk),
        ("wand.docpart_batch_s", sweep, wand_topk_docpart),
        ("boolquery.spark_batch_s", bools, bool_topk),
    ):
        qs = [(qi, e["q"]) for qi, e in enumerate(entries)]
        tb = time.perf_counter()
        try:
            rows = run_call(lambda: fn(spark, idx, qs, inputs.K).collect())
        except Exception as ex:  # a raising batch fails all its queries
            rows = ex
        out["batches"].append((name, entries, rows, time.perf_counter() - tb))
    return out


def _check_cycle(tally: Tally, j: int, cyc: dict, want: dict, idx: str) -> None:
    c = cyc["m"]["counters"]
    tally.record(
        {"docs": c["docs"], "postings": c["postings"]}
        == {k: want["counts"][k] for k in ("docs", "postings")},
        f"delta {j}: counters {c}",
    )
    ids = live_doc_ids(idx)
    for e, res in zip(want["sweep"], cyc["got"]):
        exp = inputs.expected_ids(e["expect"], ids)
        tally.record(same_answer(res, exp), f"delta {j} sweep {e['q']!r}: {res!r} != {exp!r}")
    for name, entries, rows, _s in cyc["batches"]:
        by_q: dict[int, list] = {}
        if not isinstance(rows, Exception):
            for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
                by_q.setdefault(r.query_id, []).append((r.doc_id, r.score))
        for qi, e in enumerate(entries):
            exp = inputs.expected_ids(e["expect"], ids)
            got = rows if isinstance(rows, Exception) else by_q.get(qi, [])
            tally.record(same_answer(got, exp), f"delta {j} {name} {e['q']!r}: {got!r} != {exp!r}")


def cdc(ctx) -> dict:
    """CDC batches beside reads: after each incremental commit, a cold
    sweep on a reopened searcher and one Spark batch per query operator."""
    from osu_elastic_indexer_spark.operators.build import build_index
    from osu_elastic_indexer_spark.sources.catalog import Catalog

    want = ctx.counts()
    tally = Tally()
    tr = Tracer() if ctx.trace else None
    t0 = time.perf_counter()
    spark = start_spark(ctx.cores)
    try:
        cat = Catalog(ctx.scratch("cdc"))
        tb = time.perf_counter()
        base = build_index(spark, spark.read.parquet(ctx.corpus), cat, SCHEMA)
        build = (time.perf_counter() - tb, base)
        check_build(tally, base, want)
        idx = cat.index_dir(SCHEMA)
        open_searcher(idx, None).search("zebra", inputs.K)
        setup_s = time.perf_counter() - t0

        calls = SparkCalls(spark) if ctx.trace else None
        run_call = calls.run if calls is not None else (lambda fn: fn())
        cycles = []
        measured = 0.0
        j = 0
        while j < inputs.MAX_DELTAS and (j < MIN_CYCLES or measured < ctx.seconds):
            j += 1
            path, want = ctx.cdc_delta(j)  # input generation is not measured
            start = time.perf_counter()
            try:
                cyc = _cdc_cycle(spark, cat, idx, j, path, want["sweep"], want["bool"],
                                 run_call, tr)
            except Exception as e:  # a failed commit is a failed operation
                tally.record(False, f"delta {j}: {e!r}")
                continue
            finally:
                measured += time.perf_counter() - start
            _check_cycle(tally, j, cyc, want, idx)
            cycles.append(cyc)
    finally:
        stop_spark(spark)

    if not cycles:
        raise RuntimeError("no CDC cycle committed: " + "; ".join(tally.first_failures))
    visible = [c["visible_s"] for c in cycles]
    cold = [x for c in cycles for x in c["cold"]]
    batch_s: dict[str, list[float]] = {}
    spark_q = spark_t = 0.0
    for c in cycles:
        for name, entries, _rows, s in c["batches"]:
            batch_s.setdefault(name, []).append(s)
            spark_q += len(entries)
            spark_t += s
    m = cycles[-1]["m"]
    cold_ms = summarize([x * 1e3 for x in cold])
    report = {
        "setup_s": setup_s,
        "build_docs_per_s": base["counters"]["docs"] / build[0],
        "latency_p50_ms": statistics.median(visible) * 1e3,
        "rate_per_s": spark_q / spark_t,
        "index_bytes_per_doc": m["counters"]["bytes"] / m["counters"]["docs"],
        "samples": {
            "cdc_visible_s": summarize(visible),
            "cold_ms": cold_ms,
            **{k: summarize(v) for k, v in batch_s.items()},
        },
        "named": {
            "cdc_visible_s": statistics.median(visible),
            "cold_p50_ms": cold_ms["p50"],
            f"cold_p{cold_ms['tail_p']:g}_ms": cold_ms["tail"],
            "spark_batch_qps": spark_q / spark_t,
        },
    }
    layers = {}
    if ctx.trace:
        phases = [
            c["m"]["phases"].get(f"incremental_gen{c['m']['generations'] - 1}") or {}
            for c in cycles
        ]
        layers = {
            **build_layers([build]),
            **session_layers(calls, len(cycles)),
            **searcher_layer_figures(tr, sum(len(c["traced"]) for c in cycles), len(cycles)),
            "incremental.update_s": statistics.median(c["update_s"] for c in cycles),
            "incremental.gen_phase_s": statistics.median(
                float(p.get("wall_sec") or 0.0) for p in phases),
            "incremental.adds": statistics.mean(int(p.get("adds") or 0) for p in phases),
            "incremental.deletes": statistics.mean(int(p.get("deletes") or 0) for p in phases),
            **{k: statistics.median(v) for k, v in batch_s.items()},
            "trace.overhead_pct": overhead_pct(
                [x for c in cycles for x in c["traced"]],
                [x for c in cycles for x in c["plain"]]),
        }
        ctx.dump_trace(tr)
    return {"tally": tally, "report": report, "layers": layers}


WORKLOADS = {"serve": serve, "cdc": cdc}
