"""SparkSession factory tuned for the sketch workload.

Local mode here is a stand-in for a multi-executor cluster; every knob below
is the one you would set on a 1000-executor job reading 100 TB:

- AQE on (runtime shuffle coalescing + skew-join splitting),
- Arrow transport on (all Python kernels are vectorized pandas UDFs),
- shuffle partitions sized to cores (local) / 2-3x total cores (cluster),
- small broadcast threshold left at default so dimension joins broadcast.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def mem_total_kib(meminfo: str = "/proc/meminfo") -> int | None:
    """The machine's MemTotal in KiB, or None without a readable meminfo."""
    try:
        with open(meminfo) as f:
            return next(int(line.split()[1]) for line in f
                        if line.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return None


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half of the machine's MemTotal in whole GB (at least ``1g``), the
    driver heap used unless $SPARK_DRIVER_MEMORY is set. A fixed heap larger
    than the box lets the JVM grow until the kernel's OOM killer stops it.
    Without a readable meminfo the floor is used."""
    kib = mem_total_kib(meminfo)
    return "1g" if kib is None else f"{max(1, kib // 2 // (1 << 20))}g"


def get_spark(
    app_name: str = "ceef_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or 32. On a real cluster the
    master/resource args come from spark-submit; this factory only sets SQL
    conf that is safe either way.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cores
    # $SPARK_GRAFT_MASTER overrides the master URL — used by bench_scaling.py
    # to run the identical job under local-cluster[n,c,mem] (real multi-JVM
    # executors, separate Python worker pools) for the N->4N-executors
    # scaling datapoint. Default stays single-JVM local[cores].
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory())
        # ignored in local[*] mode; sized for local-cluster executors
        .config("spark.executor.memory", os.environ.get("SPARK_EXECUTOR_MEMORY", "4g"))
        # local-cluster executors spawn their own Python workers which don't
        # inherit the driver's sys.path; point them at this checkout. A real
        # cluster ships the package via spark-submit --py-files instead
        # (jobs/run_evaluation.py does exactly that).
        .config(
            "spark.executorEnv.PYTHONPATH",
            ":".join(
                p for p in (
                    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    os.environ.get("PYTHONPATH", ""),
                ) if p
            ),
        )
        .config("spark.ui.enabled", "false")
        # sketch states are small; keep maxRecordsPerBatch high so token
        # explode batches amortize Arrow transfer (measured best at 128k)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
