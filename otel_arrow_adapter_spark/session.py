"""SparkSession factory tuned for the pipeline.

Local mode is the sandbox stand-in for a multi-executor cluster; every
setting here is chosen to also be correct at cluster scale:

- AQE on (runtime re-plan, skew-join splitting) — the reference handles
  skew by round-robin multi-stream scheduling
  (/root/reference/collector/gen/exporter/otlpexporter/internal/arrow/exporter.go:125-179);
  we let AQE + explicit salting do it.
- shuffle.partitions ~ cores locally; on a real cluster AQE coalesces.
- Arrow execution on for pandas-UDF stages (vectorized batch transfer),
  maxRecordsPerBatch plays the role of the reference's batch unit
  (/root/reference/pkg/otel/arrow_record/producer.go:328-422 per-batch IPC).
- UTC session timezone for DuckDB-oracle parity.
- driver heap: $SPARK_DRIVER_MEM, else sized from the host's memory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_driver_mem() -> str:
    """Half the host's physical memory (MemTotal on Linux), kept between
    1 GiB and 24 GiB: local mode runs the whole engine in the driver JVM,
    and the other half is left to Python workers and the OS."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "24g"
    return f"{min(24 << 10, max(1 << 10, total >> 21))}m"


def get_spark(
    app_name: str = "otel_arrow_adapter_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all cores. On a real
    cluster the master/memory settings come from spark-submit instead;
    everything set here is master-agnostic except ``local[N]``.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cores), 4)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or _host_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
