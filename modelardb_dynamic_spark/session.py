"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def half_ram(ram_bytes: int, share: int = 1) -> str:
    """Half of ram_bytes split `share` ways, in whole GiB (at least 1g, at
    most 24g): the heap of one of `share` local drivers on one host."""
    return f"{min(24, max(1, ram_bytes // 2 // share // (1 << 30)))}g"


def driver_memory() -> str:
    """SPARK_DRIVER_MEMORY if set, else half_ram of the host's physical
    RAM. In local mode the driver JVM hosts every executor too, and a heap
    sized past the host's RAM lets it grow until the kernel kills it
    instead of spilling."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    return half_ram(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))


def build_session(
    app_name: str = "modelardb_dynamic_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Local-mode session tuned for the engine.

    On a real cluster this module is bypassed: spark-submit provides the
    session and the same code runs unchanged (all operators take the
    session / DataFrames as parameters).

    In local mode the Python workers fork from the package's own daemon
    (spark.python.daemon.module = modelardb_dynamic_spark.daemon), which
    imports pandas and the compress/rollup kernels once before it forks:
    a fresh worker otherwise pays those imports itself after its fork, on
    the first Python stage's critical path. The daemon starts before any
    task ships the package, so the package's root on the driver (its
    directory, or the --py-files zip under spark-submit) goes on the
    workers' PYTHONPATH; a local worker shares the driver's filesystem.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # 2x the core count: a single wave (== cores) leaves cores idle
        # behind stragglers; AQE coalesces further at runtime when small
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = 2 * (cpus if n == "*" else int(n))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # 32 MB splits: keep scan parallelism >= core count even when the
        # input has few large files
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        # wide aggregates (64 MinHash permutation mins, 60 SimHash bit
        # sums) exceed the default 100-field codegen cutoff, which silently
        # drops the whole stage to interpreted mode (~6x slower measured)
        .config("spark.sql.codegen.maxFields", "256")
        # zstd over the default lz4 for shuffle blocks and parquet pages:
        # the pipeline is memory-bandwidth-bound at >=16 cores (BENCH.md
        # STREAM probe), so spending CPU to move fewer bytes is the right
        # trade — with the salt-column drop: 21.0 -> 12.2 shuffle B/turn
        # (-42%) on the 12.3M-turn probe, results value-identical
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # INT64 microsecond timestamps instead of the INT96 default: INT96
        # columns carry no min/max statistics, which the lineage manifests
        # (footer_stats) and row-group pruning read, and Iceberg tables
        # require microseconds anyway
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
    )
    if master.startswith("local"):
        import modelardb_dynamic_spark as pkg

        root = os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))
        builder = builder.config(
            "spark.python.daemon.module", "modelardb_dynamic_spark.daemon"
        ).config("spark.executorEnv.PYTHONPATH", root)
    # shuffle files / spills on tmpfs: opt-in via MDBS_TMPFS_LOCAL_DIR=1
    # (the bench sets it; a RAM-backed local dir can exhaust memory on a
    # host with large spills, so it is never applied implicitly) and only
    # when /dev/shm has headroom
    if (
        os.environ.get("MDBS_TMPFS_LOCAL_DIR") == "1"
        and os.path.isdir("/dev/shm")
        and os.access("/dev/shm", os.W_OK)
    ):
        try:
            st = os.statvfs("/dev/shm")
            free_gb = st.f_bavail * st.f_frsize / (1 << 30)
        except OSError:
            free_gb = 0.0
        if free_gb >= 8.0:
            local_dir = "/dev/shm/spark-local"
            os.makedirs(local_dir, exist_ok=True)
            builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
