"""SparkSession factory tuned for the CDC workload.

Local-mode testing uses ``local[N]``; the same configuration is what we'd
ship to a real cluster via ``spark-submit --py-files`` (AQE on, Arrow on,
UTC session timezone so results compare exactly against the DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Number of hash buckets for url-keyed lake tables.  On a real cluster this
#: scales with executor count (reference uses 16 hash partitions,
#: /root/reference/lib/tasks/ingest.py:87-91); local[32] testing keeps it
#: moderate so each bucket maps to ~1 task.
DEFAULT_BUCKETS = 32


def _default_driver_memory() -> str:
    """Half the host's physical memory, capped at 32g.

    The local-mode driver JVM holds every executor's heap, and a heap
    sized past the host's memory gets the JVM killed by the kernel's OOM
    killer once it grows (it did at 32g on a 16 GB host).
    """
    try:
        phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, ValueError, OSError):
        return "32g"
    return f"{min(32 << 10, max(1 << 10, phys // 2 >> 20))}m"


def get_spark(
    app_name: str = "aus_land_data_etl_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    ``cores`` may be an int (→ ``local[n]``), ``"*"``, or None to honour
    ``$SPARK_GRAFT_CPUS`` (driver convention) falling back to ``local[*]``.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8 if cores in ("*",) else int(cores)
        shuffle_partitions = max(8, int(n))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # ~cores, not the 200 default: local shuffles are driver-disk bound.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing, skew-join splitting, join-strategy switch.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas UDF / toPandas hop (input_hint: no per-row
        # Python anywhere).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic cross-engine comparison (DuckDB oracle is UTC-naive).
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
        # Parquet writer defaults: target sane file sizes at scale.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # zstd over snappy: identical write wall-clock on the html-heavy
        # pages payload (measured best-of-3: 1.93s vs 1.99s per 51k-row
        # delta) at 2.6x smaller files (7 vs 18 MB) — every downstream
        # fold/scan reads 2.6x less, and at the 100 TB target the
        # storage/IO saving compounds across delta stacks.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Micro-batch latency killers: don't wait for data locality on a
        # local/homogeneous cluster, and use the no-rename commit protocol
        # (v2) without _SUCCESS markers — per-epoch jobs are commit-bound.
        .config("spark.locality.wait", "0s")
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2"
        )
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs",
            "false",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
