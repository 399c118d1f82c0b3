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
  from every Python task (zip directory re-reads on Python < 3.12).  The
  daemons Spark starts to plan a Python data source (``-m pyspark.daemon``
  running ``pyspark.sql.worker.create_data_source``,
  ``lookup_data_sources`` and ``plan_data_source_read``) do not: Spark
  starts those with the stock daemon, so they get no zip guard.  Only
  ``source_stream_feed`` (the ``synthetic_feed`` streaming source) starts
  them; the tile scans are ``mapInArrow`` passes.
- The driver JVM maps a class-data archive (AppCDS, JEP 350) of the ~16k
  Spark, Scala and Parquet classes a run loads, so a later start neither
  parses nor verifies them again.  The first launch on a host records it
  (``-XX:ArchiveClassesAtExit``: a few seconds more set-up, ~10-25 s more
  exit); its exit hook publishes it into
  ``${XDG_CACHE_HOME:-~/.cache}/<package>/cds`` only after the JVM and a
  validation start both exit 0, as a truncated archive crashes the JVM
  that maps it.  One recording per host: a failed or killed one is not
  retried until that directory is deleted.  CDS refuses a non-empty
  directory on the classpath, so the launch points ``SPARK_CONF_DIR`` at
  an empty one, and only when it is unset and the installed conf dir
  holds nothing but ``*.template`` files (Spark then reads the same
  config).  Elsewhere, and for a session that already exists, the launch
  is as without the archive.
- DataFrame debugging off (``get_spark``'s static conf, and in ``prep`` the
  process-wide flag PySpark caches from it): PySpark 4 otherwise wraps
  every ``F.*`` call in ~5 py4j round trips and a stack walk to record its
  call site, most of the cost of building a query's DataFrame.  Errors
  lose that Python call site; the engine's key/phase job tags (ROADMAP
  item 2) are what should name them.
- Generated-code cache of 2000 classes (``spark.sql.codegen.cache.maxEntries``,
  a static conf; Spark's default is 100).  Spark reuses a compiled class
  only while its Java source is in this LRU cache.  One ``llm_curation``
  benchmark pass generates ~170 classes, so at 100 entries (fewer in
  effect: Guava's cache is segmented and evicts per segment) a warm pass
  missed almost every lookup and Janino recompiled ~158 classes;
  each recompiled class is also a new class for the JIT.  At 2000 the
  benchmark's sessions keep every class and a warm pass compiles a few.
  Tier-1's suite (every key in one session) generates more than any
  bounded cache should hold: 12,552 compiles at 100 entries, 7,928 at
  2000, which held 54-107 MB more heap (two runs) and ~13 MB more
  metaspace at its end (~35-65 KB a class); a larger cache would buy the
  suite fewer compiles at that price.  ``prep`` cannot set it.
- Sized from the host when ``SPARK_GRAFT_CPUS`` / ``SPARK_DRIVER_MEM`` are
  unset: the cores this process may run on, and a heap of at most half
  the machine's memory.
- shuffle.partitions: local default = cores; at cluster scale this is set
  ~2-3x total cores (or left to AQE's coalescing from a high initial value).
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import subprocess
from pathlib import Path
from typing import NamedTuple

import pyspark.errors.utils as pyspark_errors_utils
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"
_JAVA_OPTIONS = "spark.driver.extraJavaOptions"
# the benchmark's and bench.py's stdout is the JVM's: no CDS log lines
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"


def _host_heap() -> str:
    """16g, capped at half of ``MemTotal`` (whole GiB, at least 1g)."""
    with open("/proc/meminfo") as fh:
        total_gib = int(fh.readline().split()[1]) / 2**20
    return f"{max(1, min(16, int(total_gib // 2)))}g"


def _cds_dir() -> Path:
    """Per-user archive cache (outside the repo: runs delete what they
    leave under ``.tmp``)."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return Path(base) / __package__ / "cds"


def _java() -> str:
    """The ``java`` Spark's launcher runs: ``$JAVA_HOME/bin/java``, else PATH's."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java") or "java"
    return os.path.realpath(java)


class _Cds(NamedTuple):
    options: str  # driver JVM options
    conf_dir: str  # SPARK_CONF_DIR for the launch: empty, as CDS requires
    archive: Path  # the published archive
    recording: Path | None  # this launch's own temp archive, if it records


def _cds_launch() -> _Cds | None:
    """How the next driver JVM uses the class-data archive: map it when it
    is published, record it when no process has tried yet, else None
    (launch without it, as when CDS cannot apply)."""
    cache = _cds_dir()
    conf = cache / "conf"
    if os.environ.get("SPARK_CONF_DIR", str(conf)) != str(conf):
        return None
    try:
        spark_home = Path(_find_spark_home())
        installed = spark_home / "conf"
        if installed.is_dir() and any(
            not p.name.endswith(".template") for p in installed.iterdir()
        ):
            return None
        java = _java()
        st = os.stat(java)
        jars = sorted((p.name, p.stat().st_size) for p in (spark_home / "jars").iterdir())
        ident = repr((java, st.st_size, st.st_mtime_ns, jars)).encode()
        key = hashlib.sha256(ident).hexdigest()[:16]
        cache.mkdir(mode=0o700, parents=True, exist_ok=True)
        conf.mkdir(exist_ok=True)
        archive = cache / f"{key}.jsa"
        if archive.is_file():
            return _Cds(f"-XX:SharedArchiveFile={archive} {_CDS_QUIET}", str(conf), archive, None)
        # one recording per key and host: the marker outlives a failed or
        # killed one, so later processes do not pay for it again
        os.close(os.open(cache / f"{key}.rec", os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o600))
    except OSError:  # FileExistsError: recorded (or recording) already
        return None
    tmp = cache / f"{key}.{os.getpid()}.tmp"
    return _Cds(f"-XX:ArchiveClassesAtExit={tmp} {_CDS_QUIET}", str(conf), archive, tmp)


def _publish(proc, owner: int, cds: _Cds, classpath: str, modules: list[str]) -> None:
    """End the recording JVM (closing its stdin ends the gateway), then move
    its archive into place only if it and a validation start of the same
    java, classpath and modules both exit 0: a truncated archive crashes
    the JVM that maps it.  The temp file never outlives this call."""
    if os.getpid() != owner:  # a forked child runs the same exit hooks
        return
    try:
        if proc.poll() is None:
            proc.stdin.close()
            try:
                proc.wait(timeout=120)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # a bad archive crashes this start: no crash report, no core file
        check = [_java(), "-Xshare:on", f"-XX:SharedArchiveFile={cds.recording}",
                 "-XX:ErrorFile=/dev/null", "-XX:-CreateCoredumpOnCrash",
                 "-cp", classpath, *modules, "-version"]
        if proc.returncode == 0 and subprocess.run(check, capture_output=True).returncode == 0:
            os.replace(cds.recording, cds.archive)
    finally:
        cds.recording.unlink(missing_ok=True)


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
        # static: sized to hold a long session's generated classes (see
        # the module docstring); a caller's extra_conf still wins
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # workers fork from a daemon that stops every task re-reading the
        # zips on the worker path (see pyworker.py); the package's parent
        # on the worker path makes it, and the kernels pickled by
        # reference, importable whatever the driver's working directory
        .config("spark.python.daemon.module", f"{__package__}.pyworker")
        .config("spark.executorEnv.PYTHONPATH", str(Path(__file__).resolve().parents[1]))
    )
    extra_conf = dict(extra_conf or {})
    # only a launch starts a JVM: an existing gateway (a stopped session's,
    # or the driver's) keeps the one it has
    cds = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        cds = _cds_launch()
    conf_dir = os.environ.get("SPARK_CONF_DIR")
    if cds:  # the caller's options come last, so they win
        extra_conf[_JAVA_OPTIONS] = f"{cds.options} {extra_conf.get(_JAVA_OPTIONS, '')}".strip()
        os.environ["SPARK_CONF_DIR"] = cds.conf_dir
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    try:
        spark = builder.getOrCreate()
    finally:
        if cds and conf_dir is None:
            del os.environ["SPARK_CONF_DIR"]
    if cds and cds.recording:
        # validated against the recording JVM's own classpath and modules
        jvm = spark.sparkContext._jvm
        args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
        atexit.register(
            _publish,
            spark.sparkContext._gateway.proc,
            os.getpid(),
            cds,
            jvm.System.getProperty("java.class.path"),
            [a for a in args if a.startswith("--add-modules")],
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def prep(spark: SparkSession) -> SparkSession:
    """Runtime-settable conf the engine relies on, applied defensively.

    The driver hands us an externally-built session for ``queries()`` /
    ``entry()``; these are the confs that matter for oracle parity and can
    be set post-launch (unlike driver memory).  Nor can it size the
    generated-code cache (``spark.sql.codegen.cache.maxEntries`` is static,
    CANNOT_MODIFY_STATIC_CONFIG): a session built elsewhere keeps Spark's
    100 entries and recompiles most of a repeated plan's classes.
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
