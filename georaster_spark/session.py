"""SparkSession factory with engine defaults.

Local-mode settings mirror what we would set cluster-side:
- shuffle partitions ~ cores (AQE coalesces further at runtime),
- AQE on (runtime re-plan, skew-join backstop behind our explicit
  salting),
- Arrow on (every custom kernel is a vectorized pandas UDF),
- UTC session timezone (DuckDB-oracle comparisons are UTC-naive),
- cores and driver heap sized from the host (CPU affinity, MemTotal),
- Python workers started by ``georaster_spark.worker_daemon``, which
  imports the installed pyspark instead of SPARK_HOME's archives.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DRIVER_MEM_FRACTION = 0.5
WORKER_DAEMON = "georaster_spark.worker_daemon"


def host_cores() -> int:
    """Cores this process may run on (its CPU affinity), not the
    machine's count."""
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """Driver heap as a fraction of the host's MemTotal."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1024, int(kib * DRIVER_MEM_FRACTION) >> 10)}m"


def _worker_daemon_conf() -> dict[str, str]:
    """Select ``WORKER_DAEMON`` when a worker can import it: workers
    start in the driver's cwd with its PYTHONPATH."""
    rel = os.path.join(*WORKER_DAEMON.split(".")) + ".py"
    roots = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    if any(r and os.path.isfile(os.path.join(r, rel)) for r in roots):
        return {"spark.python.daemon.module": WORKER_DAEMON}
    return {}


def get_spark(
    app_name: str = "georaster_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cores=None`` → ``$SPARK_GRAFT_CPUS``, else ``host_cores()``.
    ``shuffle_partitions`` defaults to the core count (never the 200
    default: wrong at both ends).
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else host_cores()
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # whole-table MIN/MAX/COUNT answered from parquet footers —
        # free for metadata-style queries (off by default)
        .config("spark.sql.parquet.aggregatePushdown", "true")
    )
    for k, v in {**_worker_daemon_conf(), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
