"""SparkSession construction with scale-aware defaults.

The reference is a single-threaded Node.js process that materializes
whole files in memory (`/root/reference/index.js:84-101`). Here every
pipeline is a lazy DataFrame plan; these defaults are tuned so the
same code runs on local[N] for tests and on a large cluster:

- AQE on (runtime coalescing / skew-join splitting) — at 100 TB the
  static shuffle-partition count is always wrong for some stage.
- session timeZone pinned to UTC: the reference's date extraction is
  local-TZ-dependent (`/root/reference/freetrade.js:184-186`); UTC
  reproduces its golden outputs and matches the DuckDB oracle.
- Arrow enabled for the few pandas-UDF operators (similarity search,
  multimodal decode) — batched columnar transfer, never per-row.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# Runtime-settable SQL confs we need even on sessions we did not build
# (the correctness driver hands us its own SparkSession).
RUNTIME_CONFS = {
    # events.parquet is written with nanosecond timestamps, which the
    # Spark 4 parquet reader rejects; read them as raw int64 nanos and
    # convert explicitly (sources/tpch.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally-built session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable on some builds; loaders degrade gracefully
    return spark


# Warehouse + Derby metastore dir, created once per process. mkdtemp
# (NOT a pid-keyed name): /tmp persists across runs and pids recycle,
# so a pid-keyed path can collide with a stale warehouse left by an
# earlier process whose tables the fresh in-memory catalog has never
# heard of — saveAsTable then throws LOCATION_ALREADY_EXISTS even in
# overwrite mode (this zeroed the round-8 bench run). mkdtemp is
# guaranteed-fresh and race-free.
_WAREHOUSE_DIR: str | None = None


def _warehouse_dir() -> str:
    global _WAREHOUSE_DIR
    if _WAREHOUSE_DIR is None:
        _WAREHOUSE_DIR = tempfile.mkdtemp(prefix="spark_wh_")
        # /tmp persists across runs here, so without cleanup every
        # process leaks a spark_wh_* dir full of bucketed parquet
        # copies (ADVICE r9). Best-effort removal at exit — the JVM
        # may still hold Derby locks, hence ignore_errors.
        import atexit
        import shutil

        atexit.register(shutil.rmtree, _WAREHOUSE_DIR, ignore_errors=True)
    return _WAREHOUSE_DIR


# local[N] puts the driver and all N executor threads in ONE JVM, so
# spark.driver.memory is the heap of the whole local engine. The default
# is a quarter of physical memory (32g on a 128 GiB host, where an 8g
# heap across 32 concurrent tasks caused multi-second GC pauses late in
# long query batteries), capped at 32g and never below Spark's own 1g
# default: a heap allowed to grow past physical memory gets the JVM
# killed by the OS on small hosts. SPARK_DRIVER_MEMORY, when set and
# non-empty, wins; a real cluster sizes executor memory separately.
_DRIVER_MEMORY_CAP_MB = 32 * 1024
_DRIVER_MEMORY_FLOOR_MB = 1024


def driver_memory() -> str:
    """spark.driver.memory for get_spark: $SPARK_DRIVER_MEMORY if set and
    non-empty, else a quarter of physical memory within [1g, 32g]."""
    explicit = os.environ.get("SPARK_DRIVER_MEMORY")
    if explicit:
        return explicit
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mb = phys // 4 // (1024 * 1024)
    mb = max(_DRIVER_MEMORY_FLOOR_MB, min(_DRIVER_MEMORY_CAP_MB, mb))
    return f"{mb // 1024}g" if mb % 1024 == 0 else f"{mb}m"


def get_spark(
    app_name: str = "cgtcalc-data-transformer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    # Local mode: shuffle partitions ≈ cores. On a real cluster AQE
    # coalesces from a deliberately high initial number instead.
    shuffle_partitions = shuffle_partitions or int(cpus)
    # warehouse + metastore in a guaranteed-fresh temp dir: bucketed-
    # table writes (sources/bucketed.py) must not litter the caller's
    # cwd or collide with stale dirs from recycled pids
    wh = _warehouse_dir()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.warehouse.dir", wh)
        .config(
            "spark.driver.extraJavaOptions", f"-Dderby.system.home={wh}"
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
