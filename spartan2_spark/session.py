"""SparkSession factory tuned for the rollup engine.

Defaults match the deployment contract (BASELINE.json input_hint):
Arrow enabled for all pandas-UDF exchange, AQE on (runtime coalesce +
skew-join backstop), UTC session timezone (required for bit-stable
timestamp bucketing and for DuckDB oracle comparison — DuckDB
timestamps are UTC-naive), shuffle partitions sized to the local core
count rather than the 200 default.

On a real cluster the same factory is used via ``spark-submit
--py-files``; only ``master`` and memory sizing change.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_all", "default_driver_memory", "unpacked_daemon"]


def default_driver_memory() -> str:
    """Driver heap when ``SPARK_DRIVER_MEM`` is unset: half the host's
    physical memory, capped at 48g. The driver is the only JVM in local
    mode, and its heap must leave room for off-heap buffers, Python
    workers and the OS — a heap larger than the host gets the JVM
    killed by the kernel instead of spilling."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(48 << 10, phys_mb // 2)}m"


def unpacked_daemon(
    master: str, package_dir: str, cwd: str, pythonpath: str, site_dirs: list[str]
) -> bool:
    """Whether Python workers can start from ``spartan2_spark.pyworker``,
    which imports PySpark from its unpacked install (see that module).

    The daemon starts before any task, so the package must be importable
    from the worker's own path: a local master, whose workers share the
    driver's cwd and environment, and a package that is a directory (not
    inside a ``--py-files`` zip) whose parent is the cwd, a ``PYTHONPATH``
    entry or a site-packages directory. Otherwise Spark's default daemon
    runs.
    """
    if master != "local" and not master.startswith("local["):
        return False
    if not os.path.isdir(package_dir):
        return False
    roots = [cwd, *pythonpath.split(os.pathsep), *site_dirs]
    parent = os.path.realpath(os.path.dirname(package_dir))
    return parent in {os.path.realpath(r) for r in roots if r}


def get_spark(
    app_name: str = "spartan2_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback
    ``local[*]``). ``shuffle_partitions`` defaults to the parallelism of
    the master so small local runs don't fan out into 200 empty tasks.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = max(int(master[6:-1]), 8)
        else:
            shuffle_partitions = max(os.cpu_count() or 8, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # parquet scan granularity. Spark's 128m default yields too few
        # scan splits to feed 32 local cores on multi-GB inputs (measured:
        # raw->1m capped at 2.2x going 8->32 cores because the scan had
        # ~20 splits); 32m keeps every core fed. At 100TB cluster scale
        # the input has orders of magnitude more splits than slots and
        # the default is fine — override via SPARK_MAX_PARTITION_BYTES.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_MAX_PARTITION_BYTES", "33554432"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        # Throughput-batch engine: ParallelGC beats G1 here. Measured on
        # the 16M-row gap-fill stage (876M output rows, local[32]):
        # 187s under G1 (allocation-rate death spiral at 32 threads) vs
        # 68s under ParallelGC. Executors on a real cluster get the same
        # flag via spark.executor.extraJavaOptions in spark-submit conf.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
    )
    # Shuffle/spill dirs on RAM-backed storage when available. Shuffle
    # files are ephemeral by definition (durable tier tables still go to
    # disk); on this single box, ext4 dirty-page writeback serializes in
    # the kernel once ~32 threads shuffle concurrently — sampled 40-68%
    # SYSTEM time phases during the 64M-point chain, and moving
    # spark.local.dir to /dev/shm cut the local[32] chain 81s -> 71s
    # while leaving local[8] unchanged. The cluster analogue is striped
    # NVMe local dirs per executor (standard spark-submit conf); honor
    # SPARK_LOCAL_DIRS if the deployment sets its own.
    #
    # tmpfs consumes physical RAM and /dev/shm is commonly capped at 50%
    # of it, so spilling a shuffle bigger than RAM to tmpfs defeats the
    # point of spilling. Guard rails: SPARK_GRAFT_TMPFS_LOCAL=1/0 forces
    # the choice; otherwise tmpfs is used only when /dev/shm has at
    # least 32 GiB free (a bench-class box), else disk stays default.
    tmpfs_flag = os.environ.get("SPARK_GRAFT_TMPFS_LOCAL")
    use_tmpfs = False
    if "SPARK_LOCAL_DIRS" not in os.environ and os.access("/dev/shm", os.W_OK):
        if tmpfs_flag is not None:
            use_tmpfs = tmpfs_flag not in ("0", "false", "")
        else:
            try:
                import shutil

                use_tmpfs = shutil.disk_usage("/dev/shm").free >= 32 << 30
            except OSError:
                use_tmpfs = False
    if use_tmpfs:
        builder = builder.config("spark.local.dir", "/dev/shm/spark_graft_local")
    if unpacked_daemon(
        master,
        os.path.dirname(os.path.abspath(__file__)),
        os.getcwd(),
        os.environ.get("PYTHONPATH", ""),
        site.getsitepackages(),
    ):
        builder = builder.config("spark.python.daemon.module", "spartan2_spark.pyworker")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_all() -> None:
    """Stop the active session (used between parallelism-level benches)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    # clear the cached builder state so the next get_spark honors a new master
    try:
        from pyspark.sql import SparkSession as _S

        _S.builder._options = {}
    except Exception:
        pass
