"""SparkSession factory tuned for the index build + query workload.

Local testing runs on local[$SPARK_GRAFT_CPUS]; the same conf ships to a
multi-executor cluster unchanged (spark-submit --py-files). Everything here
is plain public Spark configuration.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_SHIPPED_SESSIONS: set[int] = set()
_PACKAGE_ZIP: str | None = None


def _package_zip() -> str:
    """This package's ``.py`` files as a zip, written once per process to
    a fresh ``tempfile`` path (so under ``TMPDIR``) and removed at exit. A
    fixed per-pid name would let a process on a recycled pid ship another
    run's leftover zip."""
    global _PACKAGE_ZIP
    if _PACKAGE_ZIP is None:
        import atexit
        import tempfile
        import zipfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        pkg_name = os.path.basename(pkg_dir)
        fd, path = tempfile.mkstemp(prefix=f"{pkg_name}-", suffix=".zip")
        atexit.register(_remove_quietly, path)
        with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.join(
                            pkg_name, os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
        _PACKAGE_ZIP = path
    return _PACKAGE_ZIP


def _remove_quietly(path: str) -> None:
    try:
        os.remove(path)
    except OSError:
        pass


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on Python workers regardless of the
    driver's cwd: zip it and addPyFile (the runtime equivalent of
    ``spark-submit --py-files``, which is how the north_rule says the job
    runs on a real cluster). Idempotent per session."""
    key = id(spark)
    if key in _SHIPPED_SESSIONS:
        return
    spark.sparkContext.addPyFile(_package_zip())
    _SHIPPED_SESSIONS.add(key)


def get_spark(
    app_name: str = "osu-elastic-indexer-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    executors: int | None = None,
    executor_cores: int = 2,
    executor_mem_mb: int = 4096,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: parallelism for local mode; None -> $SPARK_GRAFT_CPUS or '*'.
    executors: if set, use local-cluster[executors, executor_cores, mem] —
    SEPARATE executor JVMs with their own heaps, the faithful in-sandbox
    stand-in for a multi-executor cluster (used by the scaling evidence;
    plain local[N] shares one heap across all threads, which flattens
    shuffle-heavy stages at high thread counts).
    """
    if executors is not None:
        master = f"local-cluster[{executors},{executor_cores},{executor_mem_mb}]"
        n = executors * executor_cores
    else:
        env_cores = os.environ.get("SPARK_GRAFT_CPUS")
        if cores is None:
            master = f"local[{env_cores}]" if env_cores else "local[*]"
            n = int(env_cores) if env_cores else (os.cpu_count() or 8)
        else:
            master = f"local[{cores}]"
            n = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(n, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # shuffle sized to the core count at test scale; at cluster scale
        # AQE coalesces / splits as needed
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow everywhere: the build pipeline is pandas-UDF heavy
        # (input_hint mandates vectorized UDFs, no per-row Python)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bound pandas-UDF group/batch memory (SURVEY §4: per-partition SPIMI
        # segments must fit executor memory); 10k == reference BATCH_SIZE
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # smaller scan splits: html-carrying inputs decode ~4x slower than
        # they read, so scan parallelism, not IO, bounds the build
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.sql.session.timeZone", "UTC")
        # local-mode memory headroom for the 32-thread bench JVM
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if executors is not None:
        builder = builder.config(
            "spark.executor.memory", f"{executor_mem_mb - 512}m"
        )
    return builder.getOrCreate()


def warm_python_workers(spark: SparkSession, n: int | None = None) -> None:
    """Spin up (and import numpy/pandas in) one Python worker per core so
    the first real Arrow stage doesn't pay the spawn storm. Benchmarks call
    this after session creation; production jobs don't care."""
    if n is None:
        n = os.cpu_count() or 8

    def touch(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        yield from batches

    spark.range(0, n * 4, 1, n).mapInPandas(touch, "id long").count()


def driver_frame(spark: SparkSession, rows, schema: str):
    """A small driver-held table (``rows``: tuples in ``schema``'s DDL
    column order, or an Arrow table of its columns) as a DataFrame whose
    rows ship to the JVM as Arrow batches. ``createDataFrame`` of a Python
    list plans a Python RDD instead, so every scan of it — a broadcast
    side, or an empty table joined in — runs one Python task per core."""
    import pyarrow as pa
    from pyspark.sql.types import DataType

    struct = DataType.fromDDL(schema)
    if not isinstance(rows, pa.Table):
        cols = list(zip(*rows)) if rows else [()] * len(struct.fields)
        rows = pa.table(
            {f.name: pa.array(list(c)) for f, c in zip(struct.fields, cols)}
        )
    return spark.createDataFrame(rows, struct)
