"""SparkSession factory.

Single place where execution-relevant configuration is pinned so every
entry point (tests, bench, driver contract) runs with the same semantics:

- AQE on (runtime broadcast/skew re-planning — the engine's answer to the
  reference's hand-rolled build-side choice, see SURVEY §4);
- UTC session timezone (DuckDB-oracle comparability; parquet timestamps
  are naive-UTC);
- Arrow on (pandas UDF fast path);
- shuffle partitions sized to the local core count rather than the 200
  default (on a real cluster this is instead set ~2-3× total cores, or
  left to AQE coalescing);
- a driver heap sized to the host (:func:`default_driver_memory`), so a
  long session cannot grow the JVM past what the machine has.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Half the host's physical memory in whole GiB, between 1g and 48g:
    the heap left unset grows toward its cap, and a cap above the host's
    memory gets the driver killed instead of collected."""
    gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 30
    return f"{min(max(gib // 2, 1), 48)}g"


def get_spark(
    app_name: str = "datawarehouse_backup_system_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the configured SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` so the same code
    runs unchanged under the driver harness and on a real cluster (where
    ``master`` is supplied by spark-submit and this argument stays None —
    getOrCreate() then respects the externally-provided master). Unset,
    ``SPARK_GRAFT_CPUS`` falls back to the cores this process may run
    on, which also sizes the default shuffle partitions.
    ``SPARK_GRAFT_DRIVER_MEM`` overrides :func:`default_driver_memory`.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
    )
    env_master = os.environ.get("SPARK_MASTER")
    if master is not None:
        builder = builder.master(master)
    elif env_master:
        # apply the env value, don't just skip the local[] fallback — a
        # plain-python launch has no master conf, so treating the var as
        # a sentinel crashed getOrCreate with 'A master URL must be set'
        # (review r8)
        builder = builder.master(env_master)
    else:
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
