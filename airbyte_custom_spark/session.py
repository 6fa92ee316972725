"""SparkSession factory with scale-appropriate defaults.

Local test/bench sessions mirror the configuration a production
``spark-submit --py-files`` deployment would use: AQE on (runtime
coalescing + skew-join splitting), shuffle partitions sized to cores,
UTC session time zone (required for the DuckDB oracle comparison),
Arrow enabled for every pandas-UDF exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "airbyte-custom-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``, else one thread
    per CPU this process may run on.  ``shuffle_partitions`` defaults to
    the core count — the guide's "set it to ~cores for local" rule; a
    real cluster job would set it to ~2-3x total cores.

    PySpark's DataFrame call-site capture
    (``spark.python.sql.dataFrameDebugging.enabled``) is off.  With it on,
    every ``F.col`` and ``Column`` method records its Python file:line
    through an active-session lookup, a conf read, a failed ``import
    IPython`` (a ``sys.path`` rescan) and two py4j calls — about 0.1 s of
    driver time per micro-batch.  What is given up: a runtime error's
    DataFrame query context no longer names the Python line that built
    the failing column.  The engine's row path casts with ``try_cast``,
    so by design it raises no ANSI runtime errors.
    """
    cpus = int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; local[*] → cpus
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if inner in ("", "*") else int(inner)

    # Shuffle/spill dir: default to tmpfs when present.  local[N] funnels
    # every shuffle through ONE host disk, which saturates long before 32
    # cores do and masks compute scaling; a real cluster has per-node disks
    # that scale with executor count.  Override with SPARK_GRAFT_LOCAL_DIR.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # moderate heap on purpose: a 48g ceiling makes the JVM grow the
        # heap instead of collecting — kernel page-zeroing storms (90%+ sys
        # time) and wildly erratic batch times at high core counts.  12g
        # keeps G1 collecting; shuffles spill to local dir (tmpfs) fine.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "12g"))
        .config("spark.ui.enabled", "false")
        # zstd, not snappy: ~1.7× smaller files → the scan becomes
        # ALU-bound decompression instead of DRAM-bound memcpy, which is
        # the resource that actually scales with cores (input-read scaling
        # measured 0.58→0.85 at 1→4; merge end-to-end 0.70→0.83).  Shuffle
        # stays lz4 — zstd in the shuffle hot path measured strictly slower.
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    """Stop the active session if any (used by the two-parallelism bench)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
