"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload {serve,cdc} --seed N \
        --seconds S --trace {0,1} [--docs N]

Run from the repository root. Human-readable lines come first; the last
line of standard output is one JSON object with the keys correct,
attempted, failed and metrics. With --trace 0 the metrics are the
end-to-end metrics named in BENCHMARK.json, with --trace 1 the per-layer
ones. Everything the run writes stays under .perfbench_work/ in the
repository root: cached inputs, Spark's scratch space, and span dumps.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import sys

import inputs
import procs
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(1, ROOT)
DEFAULT_DOCS = 5_000


def _confine_to_checkout(run_dir: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into the
    run's own directory, and make the package importable by Spark's
    Python workers from the checkout. Must run before pyspark starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # -XX:-UsePerfData: a JVM otherwise keeps its perf counters in /tmp,
    # whatever java.io.tmpdir says (both the launcher and the driver JVM)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ.setdefault("PYTHONHASHSEED", "0")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # Workers import the package from the checkout (PYTHONPATH above), so
    # the engine's per-session zip of itself, which it writes to /tmp, is
    # not needed.
    from osu_elastic_indexer_spark import session

    session.ship_package = lambda spark: None


class Ctx:
    """What a workload gets: its arguments, the box size, and its inputs."""

    def __init__(self, args, run_dir: str) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.docs = args.docs
        self.cores = len(os.sched_getaffinity(0))
        self.run_dir = run_dir
        self.cache = os.path.join(WORK, "inputs")
        os.makedirs(self.cache, exist_ok=True)
        self.corpus = inputs.corpus_path(self.cache, self.docs)

    @staticmethod
    def _in_child(fn, *args):
        """Run an input generator in a spawned child process, so the
        oracle's memory never counts toward the run's peak RSS. The
        generators cache their output on disk, where the parent reads it."""
        import multiprocessing
        from concurrent.futures import ProcessPoolExecutor
        from multiprocessing import resource_tracker

        with ProcessPoolExecutor(
            max_workers=1, mp_context=multiprocessing.get_context("spawn")
        ) as ex:
            ex.submit(fn, *args).result()
        # spawning started the resource tracker, which would otherwise
        # outlive this process for a moment
        resource_tracker._resource_tracker._stop()

    def counts(self) -> dict:
        if not os.path.exists(inputs.counts_path(self.cache, self.docs)):
            self._in_child(inputs.base_counts, self.cache, self.docs, self.corpus)
        return inputs.base_counts(self.cache, self.docs, self.corpus)

    def serve_pool(self) -> list[dict]:
        if not os.path.exists(inputs.serve_pool_path(self.cache, self.docs)):
            self._in_child(inputs.serve_pool, self.cache, self.docs, self.corpus)
        return inputs.serve_pool(self.cache, self.docs, self.corpus)

    def cdc_delta(self, j: int):
        """Delta j with its expectations. Every missing delta up to
        max(j, MIN_CYCLES) is generated in one child, since a run applies
        at least MIN_CYCLES."""
        upto = max(j, workloads.MIN_CYCLES)
        if not os.path.exists(inputs.cdc_stem(self.cache, self.docs, self.seed, upto) + ".json"):
            self._in_child(inputs.cdc_delta, self.cache, self.docs, self.seed, upto, self.corpus)
        return inputs.cdc_delta(self.cache, self.docs, self.seed, j, self.corpus)

    def scratch(self, name: str) -> str:
        return os.path.join(self.run_dir, name)

    def dump_trace(self, tr) -> None:
        d = os.path.join(WORK, "traces")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{self.workload}-s{self.seed}-{os.getpid()}.jsonl")
        tr.dump(path)
        print(f"spans: {len(tr.spans)} written to {os.path.relpath(path, ROOT)}")


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=DEFAULT_DOCS,
                    help="corpus size in documents")
    args = ap.parse_args(argv)
    if args.seconds <= 0 or args.docs < 1000:
        ap.error("--seconds must be > 0 and --docs >= 1000")

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        import osu_elastic_indexer_spark  # noqa: F401
    except (OSError, ImportError) as e:
        print(f"perfbench: run from the repository root ({e})", file=sys.stderr)
        return 2

    # every way out, a SIGTERM too, passes the finally below, which waits
    # for every process the run started (Spark's JVM and Python workers,
    # the input generators) to end
    procs.become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    try:
        _confine_to_checkout(run_dir)
        ctx = Ctx(args, run_dir)
        out = workloads.WORKLOADS[args.workload](ctx)
    finally:
        killed = procs.reap_descendants()
        if killed:
            print(f"perfbench: killed leftover processes {killed}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)

    tally, report = out["tally"], out["report"]
    report["peak_rss_mb"] = (
        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    )
    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"docs={args.docs} nproc={ctx.cores} seconds={args.seconds} "
          f"trace={args.trace}")
    for name, s in report["samples"].items():
        tail = (f" p{_fmt(s['tail_p'])}={_fmt(s['tail'])}" if "tail" in s else "")
        print(f"  samples {name}: n={s['n']} p50={_fmt(s['p50'])}{tail}")
    for name, v in report["named"].items():
        print(f"  {name} = {_fmt(v)}")
    print(f"  failed_frac = {_fmt(tally.failed_frac)} "
          f"({tally.failed}/{tally.attempted})")
    for what in tally.first_failures:
        print(f"  FAILED: {what[:300]}")

    if args.trace:
        metrics = {
            # a layer the workload never reaches did no work in it
            m["name"]: {"value": out["layers"].get(m["name"], 0), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        metrics = {
            m["name"]: {"value": report[m["name"]], "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    for name, m in metrics.items():
        print(f"  {name} = {_fmt(m['value'])} {m['unit']}")
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
