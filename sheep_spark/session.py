"""SparkSession factory with scale-oriented defaults.

All knobs here are chosen for the 100 TB / 1000-executor target and then
scaled down by environment for the local[N] sandbox:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing),
- Arrow on (every Python crossing is vectorized; no row-at-a-time UDFs
  exist anywhere in this package),
- explicit broadcast threshold (vertex-side tables of iterative jobs are
  broadcast when small; hinted explicitly at call sites otherwise),
- shuffle partitions sized from parallelism, overridable per job.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _mem_mib(size: str) -> float:
    """JVM memory string ("8g", "512m", "1024k", plain bytes) → MiB."""
    s = size.strip().lower()
    units = {"t": 1024 * 1024, "g": 1024, "m": 1, "k": 1 / 1024}
    if s and s[-1] in units:
        return float(s[:-1]) * units[s[-1]]
    return float(s) / (1024 * 1024)


def get_spark(
    app_name: str = "sheep_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or default_parallelism()
    shuffle_partitions = shuffle_partitions or max(cores, 8)

    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
    )
    extra_conf = dict(extra_conf or {})
    # Opt-in heap pre-touch (SPARK_GRAFT_XMS_PRETOUCH=10g): commit+touch
    # that much heap at JVM launch. This sandbox backs fresh pages at
    # ~20 MB/s/thread (measured — a real host faults orders of magnitude
    # faster), so an untouched heap bleeds page-fault sys-time into the
    # first stages that grow it; pre-touching moves that one-time cost to
    # session startup, where a long-lived production driver pays it once.
    # Clamped to the driver heap (-Xms > -Xmx aborts the JVM at launch)
    # and MERGED into any caller-supplied extraJavaOptions (ADVICE r4).
    pretouch = os.environ.get("SPARK_GRAFT_XMS_PRETOUCH")
    if pretouch:
        if _mem_mib(pretouch) > _mem_mib(driver_mem):
            import warnings

            warnings.warn(
                f"SPARK_GRAFT_XMS_PRETOUCH={pretouch} exceeds driver memory "
                f"{driver_mem}; clamping -Xms to {driver_mem}",
                stacklevel=2,
            )
            pretouch = driver_mem
        flags = f"-Xms{pretouch} -XX:+AlwaysPreTouch"
        caller = extra_conf.pop("spark.driver.extraJavaOptions", "")
        extra_conf["spark.driver.extraJavaOptions"] = f"{flags} {caller}".strip()
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    _warm_session(spark)
    return spark


_WARMED: set[str] = set()


def _warm_session(spark: SparkSession) -> None:
    """One-time per-session warmup (r6, guide §1.2/§4.5): run one tiny
    job through each lazily-initialized subsystem — codegen/classloader,
    shuffle machinery, the parquet reader+writer, the driver's Arrow
    collect path, and the Python worker pool (numpy/pandas imported once
    per worker) — so those fixed costs land at session startup instead
    of inside the first real query. A long-lived production driver pays
    these exactly once; a per-query benchmark otherwise charges them all
    to whichever query runs first. Costs ~10-15 s per NEW session on a
    4-core VM (groupBy job 4.6-5.4 s, Python worker pool 2.6-3.0 s,
    parquet write+read ~2.0 s, Arrow collect 0.5 s); no data or results
    are cached. Opt out with SPARK_GRAFT_NO_WARMUP=1."""
    if os.environ.get("SPARK_GRAFT_NO_WARMUP") == "1":
        return
    app = spark.sparkContext.applicationId
    if app in _WARMED:
        return
    _WARMED.add(app)
    from pyspark.sql import functions as F

    df = spark.range(1024).select("id", (F.col("id") % 7).alias("k"))
    df.groupBy("k").agg(F.count("*")).collect()  # codegen + shuffle init
    df.limit(64).toArrow()  # driver-side Arrow allocator

    def _w(batches):
        import numpy  # noqa: F401  (the Arrow kernels' imports)
        import pandas  # noqa: F401

        yield from batches

    n = spark.sparkContext.defaultParallelism
    spark.range(n).repartition(n).mapInArrow(_w, "id long").count()  # worker pool
    path = os.path.join(
        tempfile.gettempdir(), f"sheep_warm_{os.getpid()}_{app.replace(':', '_')}.parquet"
    )
    try:
        spark.range(16).write.mode("overwrite").parquet(path)
        spark.read.parquet(path).count()  # parquet writer + reader init
    finally:
        import shutil

        shutil.rmtree(path, ignore_errors=True)


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the programmatic equivalent of
    ``spark-submit --py-files``), so Arrow kernels unpickle on workers
    regardless of the driver's cwd."""
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(tempfile.gettempdir(), f"sheep_spark_pyfiles_{os.getpid()}.zip")
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)
