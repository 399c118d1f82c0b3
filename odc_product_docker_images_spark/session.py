"""SparkSession builder tuned for the engine.

Reference analog: the per-product Docker worker process sets up its
``datacube.Datacube(config)`` connection + dask chunking; here the whole
execution context is one SparkSession.  Defaults are sized for local[N]
testing but every knob is the one you would tune on a 1000-executor cluster:

- AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  replaces the reference's hand-tiled job partitioning.
- Arrow on: pandas-UDF kernels (geomedian, fractional cover) move batches
  JVM<->Python columnar, the analog of the reference's numpy-over-chunks.
- UTC session timezone: fixtures are tz-naive; DuckDB oracles compare equal.
- Python workers run under ``pyworker``, which removes a fixed CPU cost
  from every Python task (zip directory re-reads on Python < 3.12).
- DataFrame debugging off (``get_spark``'s static conf, and in ``prep`` the
  process-wide flag PySpark caches from it): PySpark 4 otherwise wraps
  every ``F.*`` call in ~5 py4j round trips and a stack walk to record its
  call site, most of the cost of building a query's DataFrame.  Errors
  lose that Python call site; the engine's key/phase job tags (ROADMAP
  item 2) are what should name them.
- Sized from the host when ``SPARK_GRAFT_CPUS`` / ``SPARK_DRIVER_MEM`` are
  unset: the cores this process may run on, and a heap of at most half
  the machine's memory.
- shuffle.partitions: local default = cores; at cluster scale this is set
  ~2-3x total cores (or left to AQE's coalescing from a high initial value).
"""

from __future__ import annotations

import os
from pathlib import Path

import pyspark.errors.utils as pyspark_errors_utils
from pyspark.sql import SparkSession

_DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"


def _host_heap() -> str:
    """16g, capped at half of ``MemTotal`` (whole GiB, at least 1g)."""
    with open("/proc/meminfo") as fh:
        total_gib = int(fh.readline().split()[1]) / 2**20
    return f"{max(1, min(16, int(total_gib // 2)))}g"


def get_spark(
    app_name: str = "odc-pdi-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or int(cpus)))
        # local fixtures are single ~50MB files: the default 128MB split
        # gives 1-3 scan tasks and a straggler owns the whole stage; 16MB
        # splits feed all cores (cluster deployments keep the default —
        # there the file count, not split size, provides parallelism)
        .config("spark.sql.files.maxPartitionBytes", "16m")
        # bucketed-table scans must KEEP the bucket layout even when the
        # plan declares no required distribution (the shuffle-free
        # geomedian's mapInPandas relies on bucket = partition co-location)
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or _host_heap())
        .config(_DEBUGGING, "false")
        # workers fork from a daemon that stops every task re-reading the
        # zips on the worker path (see pyworker.py); the package's parent
        # on the worker path makes it, and the kernels pickled by
        # reference, importable whatever the driver's working directory
        .config("spark.python.daemon.module", f"{__package__}.pyworker")
        .config("spark.executorEnv.PYTHONPATH", str(Path(__file__).resolve().parents[1]))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def prep(spark: SparkSession) -> SparkSession:
    """Runtime-settable conf the engine relies on, applied defensively.

    The driver hands us an externally-built session for ``queries()`` /
    ``entry()``; these are the confs that matter for oracle parity and can
    be set post-launch (unlike driver memory).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # DataFrame debugging off (see get_spark).  Its conf is static, so on
    # a session built elsewhere it cannot be set; PySpark reads it once
    # per process into this cache, which is what every F.* call consults
    pyspark_errors_utils._enable_debugging_cache = False
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # a default-200-partition host session runs 200-task stages for every
    # tiny stateful micro-batch; size to the local core budget instead —
    # the driver contract's $SPARK_GRAFT_CPUS when set, else the actual
    # master width (r12: was a literal 32 fallback tuned to this VM)
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        os.environ.get("SPARK_GRAFT_CPUS")
        or str(spark.sparkContext.defaultParallelism),
    )
    # single-file fixtures need small splits to feed all cores (see get_spark)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16m")
    # bucket = partition co-location for the shuffle-free geomedian path
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    return spark
