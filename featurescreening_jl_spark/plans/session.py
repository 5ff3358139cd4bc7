"""SparkSession construction with scale-minded defaults.

One place to set the knobs that matter at 100 TB: AQE (runtime re-plan,
skew-join splitting, partition coalescing), Arrow for every pandas UDF
boundary, and shuffle-partition sizing. Tests and bench call ``get_spark``
with an explicit parallelism so the same job can be measured at two cluster
sizes (N vs 4N cores — the sandbox proxy for N vs 4N executors).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_PARALLELISM = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# the directory the engine package is imported from
_ENGINE_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def _default_driver_mem() -> str:
    """Conservative heap default: a quarter of physical RAM, clamped to
    [4g, 32g]. High-parallelism benchmarks opt into a bigger heap via
    SPARK_DRIVER_MEM (an undersized heap turns 32-thread local runs
    GC-bound, but an OVERSIZED one on a small host gets OS-OOM-killed —
    a worse failure mode than Spark-managed spill)."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    try:
        ram_gb = (
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        ) // (1024**3)
    except (ValueError, OSError):
        ram_gb = 16
    return f"{min(max(ram_gb // 4, 4), 32)}g"


def get_spark(
    app_name: str = "featurescreening-spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    iceberg_warehouse: str | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession.

    ``parallelism`` pins ``local[k]``; shuffle partitions default to the
    parallelism (small-cluster heuristic — on a real 1000-executor cluster
    you'd size this to total cores × 2-3 and let AQE coalesce).

    ``iceberg_warehouse`` attaches an Iceberg Hadoop catalog named
    ``graft`` when the runtime jar is available (sources/iceberg.py);
    without a jar it logs a warning and the engine stays on parquet.

    Python workers start from the engine's daemon (``plans/pydaemon.py``:
    a task no longer re-reads ``pyspark.zip``), so the engine's import
    root goes first on ``spark.executorEnv.PYTHONPATH``; a caller's value
    for that key in ``extra_conf`` is appended, not dropped.
    """
    k = parallelism or DEFAULT_PARALLELISM
    extra = dict(extra_conf or {})
    caller_path = extra.pop("spark.executorEnv.PYTHONPATH", "")
    worker_path = os.pathsep.join(filter(None, [_ENGINE_ROOT, caller_path]))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{k}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or k))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode runs every executor thread inside the driver JVM — an
        # undersized heap turns high-parallelism runs GC-bound and caps
        # scaling (measured: 8g heap held 8→32 threads to 1.6×; 32g+ gives
        # ~3.5×). On a real cluster this maps to executor memory sizing.
        .config("spark.driver.memory", _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config(
            "spark.python.daemon.module",
            "featurescreening_jl_spark.plans.pydaemon",
        )
        .config("spark.executorEnv.PYTHONPATH", worker_path)
    )
    if iceberg_warehouse:
        from featurescreening_jl_spark.sources.iceberg import configure_iceberg

        builder = configure_iceberg(builder, iceberg_warehouse)
    for key, val in extra.items():
        builder = builder.config(key, val)
    return builder.getOrCreate()
