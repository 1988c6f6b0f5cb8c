"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the same config block is what we'd pass to
spark-submit on a real cluster (AQE, skew-join handling, Arrow UDF batches).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# Arrow batch size for pandas UDFs: large enough to amortize Python call
# overhead for the HTML/chunking UDFs, small enough to bound per-batch memory
# when html columns are wide (a 100 KB-page batch of 512 rows ≈ 50 MB —
# bigger batches drove the JVM into GCLocker retries with 32 workers).
ARROW_BATCH_SIZE = 512


def _default_driver_memory() -> str:
    """``spark.driver.memory`` when SPARK_DRIVER_MEM is unset: half the
    machine's RAM, clamped to 2-24 GiB. A fixed 24g let one long-lived
    driver JVM (a full test suite) grow its heap past a 16 GB machine's
    RAM, and the kernel then killed it mid-run."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(24, max(2, total // (2 << 30)))}g"


def get_spark(
    app_name: str = "louis-crawler-legacy-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
    executor_memory: str = "4g",
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus``: int N → master local[N]; "*" → local[*]; None → env
    SPARK_GRAFT_CPUS or local[*].
    ``master``: explicit master override (e.g. ``local-cluster[4,2,4096]``
    for real multi-executor JVMs, or a cluster URL for spark-submit runs);
    wins over ``cpus``. Multi-executor masters need the package shipped —
    see ``ship_package`` (the spark-submit --py-files twin).
    """
    if master is None:
        if cpus is None:
            cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_SIZE)
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.executor.memory", executor_memory)
        # multi-executor: don't stall short stages waiting for cache-block
        # locality — the crawl round runs many small state jobs whose tasks
        # would otherwise each wait the default 3 s for their preferred
        # executor; remote reads of the small state blocks are cheaper
        .config("spark.locality.wait", "0s")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if master.startswith("local-cluster") or "://" in master:
        ship_package(spark)
    return spark


def release(df: DataFrame) -> None:
    """Drop a DataFrame's cached or localCheckpointed blocks.
    ``unpersist()`` only covers ``cache()``: a localCheckpoint's blocks
    belong to the RDD under its ``LogicalRDD`` leaf and stay until that
    RDD is unpersisted. The blocks are lineage-truncated, so the caller
    must know that nothing reads ``df`` any more."""
    df.unpersist()
    plan = df._jdf.queryExecution().logical()
    if (plan.getClass().getSimpleName() == "LogicalRDD"
            and plan.rdd().isLocallyCheckpointed()):
        plan.rdd().unpersist(False)


_PYFILES_ZIP: str | None = None


def ship_package(spark: SparkSession) -> None:
    """Ship louis_crawler_legacy_spark to the executors as a zip — the
    programmatic twin of ``spark-submit --py-files`` (scripts/run_crawl.py):
    executor-side Python workers unpickle our mapInPandas/applyInPandas
    functions by module reference, so multi-executor masters must be able
    to import the package without the driver's filesystem. The zip is built
    once per process (cached) and its temp dir is cleaned at exit."""
    global _PYFILES_ZIP
    if _PYFILES_ZIP is None:
        import atexit
        import shutil
        import tempfile
        import zipfile

        pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        tmpdir = tempfile.mkdtemp(prefix="pyfiles_")
        atexit.register(shutil.rmtree, tmpdir, ignore_errors=True)
        zpath = os.path.join(tmpdir, "louis_crawler_legacy_spark.zip")
        with zipfile.ZipFile(zpath, "w") as z:
            for root, _, files in os.walk(
                os.path.join(pkg_root, "louis_crawler_legacy_spark")
            ):
                for f in files:
                    if f.endswith(".py"):
                        p = os.path.join(root, f)
                        z.write(p, os.path.relpath(p, pkg_root))
        _PYFILES_ZIP = zpath
    spark.sparkContext.addPyFile(_PYFILES_ZIP)
