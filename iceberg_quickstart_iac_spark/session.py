"""SparkSession factory tuned for this engine.

Local defaults mirror what we would set fleet-wide on a real cluster:
AQE on (runtime re-planning, skew-join splitting, partition coalescing),
UTC session timezone (oracle parity + sane lakehouse semantics), Arrow
enabled for the pandas-UDF slow path. ``shuffle_partitions`` defaults to
the local core count; on a 1000-executor cluster it would be sized to
~2-3x total cores and AQE coalesces the rest.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the machine's memory (``MemTotal`` in ``/proc/meminfo``), at
    least 1 GiB: the local-mode driver JVM runs every task, so it gets a
    real share, but never more than the machine has. 4 GiB where
    ``/proc/meminfo`` is unreadable (not Linux)."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_mb = int(line.split()[1]) // 1024
                    return f"{max(1024, total_mb // 2)}m"
    except (OSError, ValueError, IndexError):
        pass
    return "4g"


def get_spark(
    app_name: str = "iceberg_quickstart_iac_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism per the driver
    contract and ``SPARK_DRIVER_MEMORY`` for the driver heap (default:
    half the machine's memory); any already-active session is returned
    as-is (Spark is a process singleton).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # default 100 kicks the sketch aggregations (64 minhash minima / 64
        # simhash bit-sums per group) out of generated code into the
        # interpreted path — measured ~20% on the minhash signature stage
        .config("spark.sql.codegen.maxFields", "250")
        # PySpark's per-call origin capture wraps every functions.* and
        # Column call in gateway round trips (active session, origin
        # lookup, conf read, set, clear) plus an IPython import probe:
        # building (col("a") + lit(1)).alias("b") took 38 round trips
        # with it, 8 without. The trade-off: an AnalysisException no
        # longer names the Python call site of the failing expression.
        # A static conf: it takes effect only on a session built here.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
