"""SparkSession factory with scale-oriented defaults.

Local sandbox runs use ``local[N]``; the same builder settings are what we
would submit with ``spark-submit --py-files`` on a multi-executor cluster
(AQE on, Arrow on, adaptive skew-join on). Shuffle partition count defaults
to the core count so local runs don't pay 200-partition scheduling overhead;
on a real cluster this is overridden to ~2-3x total cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "nfl_feature_store_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the feature-engine workload.

    AQE handles runtime coalescing and skew-join splitting; Arrow is enabled
    for the applyInPandas kernels (EWM/Elo); timestamps are UTC so oracle
    comparisons (DuckDB) and the pandas referee agree bit-for-bit.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cpus
        shuffle_partitions = (os.cpu_count() or 4) if n == "*" else int(n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # bytes-driven coalescing throttles CPU-bound window/Python stages on
        # small-byte data: keep the parallelism floor high (AQE default
        # minPartitionSize=1m collapsed a 3MB window stage to 2 tasks)
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.session.timeZone", "UTC")
        # floor on scan splits (guide §6): a 126MB single-file table under
        # the 128MB maxPartitionBytes default scans as ONE task even when it
        # holds several row groups; the floor splits it into byte ranges so
        # every row group gets its own task (measured: sf1.0 lineitem 6 row
        # groups 1 -> 6 scan tasks). Scale-adaptive by construction — any
        # table bigger than cores x 128MB already exceeds the floor, so
        # nothing changes at production scale. Single-row-group files are
        # instead handled by plans/layout.spread at the operator level.
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # zstd halves shuffle bytes vs the lz4 default on text-heavy
        # transcript payloads (measured 1.97x: 6.62 vs 13.05 MB on the
        # flagship, wall equal-or-faster — BENCH/BASELINE.md "Shuffle codec
        # A/B"). At cluster scale shuffle bytes are network traffic;
        # override via extra_conf if a workload proves CPU-bound.
        .config("spark.io.compression.codec", "zstd")
        # parquet sinks likewise: 15% smaller than snappy on the flagship
        # feature table at wall-neutral cost (BENCH/BASELINE.md "Parquet
        # storage codec") — and synthetic low-entropy text understates the
        # real-corpus gain
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
