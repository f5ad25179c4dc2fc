"""SparkSession factory with scale-appropriate defaults.

The reference resolves tunables as arg > env > default
(/root/reference/picovdb/pico_vdb.py:146-212); here the same role is
played by Spark confs, overridable via env or builder kwargs.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def _driver_memory() -> str:
    """Driver heap: `SPARK_GRAFT_DRIVER_MEM` when set, else half the
    host's physical memory (MemTotal) in whole GiB, at least 1g and at
    most 32g. A `spark.driver.memory` passed to `get_spark` wins over
    both.

    In local mode the driver is also the executor, so the heap holds
    every cached store: 8g thrashed GC once the bench's scale tier held
    two ~1 GB columnar caches (2.1 s -> 8.8 s on the same workload). A
    fixed 32g, though, let the JVM grow past a 15 GB host's memory until
    the kernel killed it. The other half of the memory is left to the
    Python workers and the JVM's off-heap memory."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return "32g"
    return f"{min(32, max(1, total // 2 // 2**30))}g"


# Defaults chosen for the local[32] test harness; on a real cluster the
# same confs are what you'd tune (shuffle partitions ≈ 2-3× total cores,
# AQE coalesces them down at runtime).
_DEFAULT_CONFS = {
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    "spark.driver.memory": _driver_memory(),
    # silence JVM unified logging, which writes to STDOUT and would break
    # one-line-JSON output contracts (bench.py)
    "spark.driver.extraJavaOptions": "-Xlog:disable",
    # list partition directories (an IVF artifact holds one per cluster)
    # on the driver: above the default threshold of 32 directories Spark
    # lists them in a job of one task per directory, and in a local[N]
    # session those tasks run in this same JVM, so every index reopen
    # paid a ~0.7 s job for what a driver-side listing does in ~0.1 s
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "4096",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.ui.enabled": "false",
    # Bound the PythonRunner reader's select(): a full-suite bench run
    # observed one task pinned 45+ min with the Python worker blocked
    # writing a ~10 MB Arrow batch to the socket while the JVM reader
    # sat in an unbounded epoll select() — a lost-wakeup shape in the
    # duplex loop. With an idle timeout the select wakes, logs, and
    # re-enters the loop (re-polling the readable socket); NOT paired
    # with killOnIdleTimeout, so a legitimately slow kernel (a long
    # GEMM cell produces no output for minutes) only logs a warning,
    # never dies.
    "spark.python.worker.idleTimeoutSeconds": os.environ.get(
        "SPARK_GRAFT_PY_IDLE_TIMEOUT", "300"
    ),
    # Python workers fork from this package's daemon, which stops every
    # task from re-reading pyspark.zip (see picovdb_spark/daemon.py)
    "spark.python.daemon.module": "picovdb_spark.daemon",
}

# directory holding the picovdb_spark package, exported to the workers
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _openblas_handle():
    """ctypes handle + symbol suffix for the OpenBLAS numpy links against
    (manylinux wheels ship it in numpy.libs, ILP64 builds suffix control
    symbols with '64_'). Returns (lib, set_fn, get_fn, core_fn) or None."""
    import ctypes
    import glob

    import numpy

    candidates = glob.glob(
        os.path.join(os.path.dirname(numpy.__file__), "..", "numpy.libs", "libopenblas*")
    ) + glob.glob(os.path.join(os.path.dirname(numpy.__file__), ".libs", "libopenblas*"))
    for path in candidates:
        try:
            lib = ctypes.CDLL(path)
        except OSError:
            continue
        for suffix in ("64_", "", "_64"):
            set_fn = getattr(lib, f"openblas_set_num_threads{suffix}", None)
            get_fn = getattr(lib, f"openblas_get_num_threads{suffix}", None)
            core_fn = getattr(lib, f"openblas_get_corename{suffix}", None)
            if set_fn is not None and get_fn is not None and core_fn is not None:
                get_fn.restype = ctypes.c_int
                core_fn.argtypes = []
                core_fn.restype = ctypes.c_char_p
                return lib, set_fn, get_fn, core_fn
    return None


def openblas_core_name() -> str | None:
    """Name of the OpenBLAS kernel set this process's NumPy runs (e.g.
    "SkylakeX", "Prescott"); None when NumPy is not linked to OpenBLAS.
    Call it inside a task to learn what the Python workers run."""
    handle = _openblas_handle()
    return None if handle is None else handle[3]().decode()


@contextmanager
def driver_blas_threads(n: int | None = None):
    """Temporarily raise the DRIVER process's OpenBLAS thread count.

    `get_spark` pins BLAS to one thread before the JVM starts so the 32
    parallel Python workers don't oversubscribe (workers inherit the
    env) — but the same pin reaches the driver's own numpy, which
    serializes the driver-side model fits (IVF k-means, PQ codebooks:
    dense GEMM Lloyd loops on a 25k sample) onto one core while the
    other 31 idle. This scope raises the thread count for exactly those
    fits and restores the pin afterwards.

    Thread count CAN perturb GEMM results at the last-ulp level
    (measured: OpenBLAS picks different kernels/blocking by thread
    count), so fitted centroids may differ across host configurations —
    acceptable because every downstream invariant is
    centroid-value-independent (full-probe ≡ exact, refine rescoring is
    exact) and a given host/thread config stays self-consistent. No-op
    when the control symbols are absent (non-OpenBLAS numpy)."""
    handle = _openblas_handle()
    if handle is None:
        yield
        return
    _, set_fn, get_fn, _ = handle
    prev = get_fn()
    set_fn(int(n or os.cpu_count() or 1))
    try:
        yield
    finally:
        set_fn(prev)


def get_spark(app_name: str = "picovdb_spark", **confs: str) -> SparkSession:
    # one BLAS thread per Python worker: tasks already saturate the cores,
    # and 32 workers × multi-threaded OpenBLAS oversubscribes (workers
    # inherit the env from the local JVM, so set it before startup)
    os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
    os.environ.setdefault("OMP_NUM_THREADS", "1")
    # the daemon imports this package, also when the driver found it only
    # through sys.path; the JVM hands its PYTHONPATH on to the workers
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_ROOT not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([*paths, _PACKAGE_ROOT])
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    merged = {**_DEFAULT_CONFS, **confs}
    for k, v in merged.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_for_oracle(spark: SparkSession) -> SparkSession:
    """Settings required for bit-compatible comparison with the DuckDB
    oracle (driver-owned sessions may not have them)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def local_df(spark: SparkSession, rows, schema):
    """Tiny driver-side DataFrame as a JVM LocalRelation.

    `createDataFrame(list_of_tuples)` parallelizes through a Python RDD
    and plans as `Scan ExistingRDD`; explicitly BROADCASTING that scan
    re-runs a Python-worker round trip per build and costs seconds per
    use (measured ~6 s vs ~0.3 s at local[32]). Routing the same rows
    through pandas + Arrow plans a `LocalRelation` (LocalTableScan) —
    JVM-resident, statistics-known, broadcast in milliseconds. Use this
    for every small driver-built side of a broadcast join (id lists,
    query batches, position maps).

    Falls back to the plain path when pandas/Arrow can't represent the
    rows (schema still enforced by Spark either way)."""
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema=schema)
    try:
        import pandas as pd

        if isinstance(schema, str):
            names = [f.split()[0] for f in schema.split(",")]
        else:  # StructType
            names = [f.name for f in schema.fields]
        pdf = pd.DataFrame(rows, columns=names)
        return spark.createDataFrame(pdf, schema=schema)
    except Exception:
        return spark.createDataFrame(rows, schema=schema)


def coalesce_to_cores(df: DataFrame) -> DataFrame:
    """`df` on at most one partition per core (`defaultParallelism`).

    Every Python pass pays a fixed start-up cost per task, and an
    operator's scan has no use for more tasks than cores. The coalesce
    is narrow: it joins neighbouring partitions into one task, never
    raises the partition count and adds no shuffle, so a frame that
    already has at most one partition per core runs as before."""
    return df.coalesce(df.sparkSession.sparkContext.defaultParallelism)
