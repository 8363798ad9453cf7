"""SparkSession factory with scale-appropriate defaults.

Tuned for the 100 TB design point even though tests run on local[N]:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting —
  Common-Crawl domains are Zipfian, so skew handling must be on by default);
- Arrow execution on, with a bounded records-per-batch: pages rows carry
  multi-hundred-KB ``html`` payloads, so the default 10k-row Arrow batch
  could reach multi-GB row-wise; 2048 rows × ~200 KB ≈ 400 MB worst case,
  and Spark 4's byte-bound ``arrow.maxBytesPerBatch`` (64 MB default) is
  the hard memory guard that slices batches earlier whenever rows are fat
  (measured: row caps 512↔10k differ <5% on 1.5 KB pages — the byte bound
  is what matters);
- 128 MB file-split target so a 100 TB scan yields ~800k well-sized input
  tasks instead of a few giant ones.
"""
from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

ARROW_BATCH_ROWS = 2048


_SHIPPED_APPS: set = set()


def zip_package(prefix: str) -> str:
    """Zip the package's ``*.py`` files (``ZIP_STORED``, no
    ``__pycache__``) under ``pdf2doi_spark/`` into a new temp file named
    ``<prefix>*.zip`` and return its path: the ``--py-files`` archive."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    fd, zip_path = tempfile.mkstemp(prefix=prefix, suffix=".zip")
    os.close(fd)
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_STORED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.join(
                        "pdf2doi_spark", os.path.relpath(full, pkg_dir)))
    return zip_path


def ship_package(spark: SparkSession) -> None:
    """Ship the ``pdf2doi_spark`` package to executors.

    Equivalent of ``spark-submit --py-files pipeline.zip`` for sessions
    built programmatically: zips the installed package and registers it via
    ``addPyFile`` so every Python worker can import the pure-Python core
    regardless of the driver's working directory.

    Memoized per applicationId (multiple build_session/registry calls must
    not re-walk and re-zip). The zip gets a PROCESS-UNIQUE name: a fixed
    /tmp path would let a concurrent process truncate the file while this
    session's executors are still fetching it, and fails outright for the
    second user on a shared box.
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED_APPS:
        return
    zip_path = zip_package("pdf2doi_spark_pyfiles_")
    spark.sparkContext.addPyFile(zip_path)
    # Executors (re-)fetch and content-check the zip from this local path
    # lazily at task-dependency update, so it must outlive the session —
    # an eager unlink here makes the very first task fail (and a recycled
    # tempfile name then poisons later sessions with a content mismatch).
    # atexit cleanup keeps long-lived hosts from accumulating one orphan
    # zip per session in /tmp without racing the executors.
    import atexit

    atexit.register(_unlink_quiet, zip_path)
    _SHIPPED_APPS.add(app_id)


def _unlink_quiet(path: str) -> None:
    try:
        os.unlink(path)
    except OSError:
        pass


def _submit_time_conf(key: str) -> str | None:
    """Value of ``key`` set at spark-submit time, if any.

    Under spark-submit, ``--master`` / ``--conf`` land in the launched
    gateway JVM's system properties, and an unconditional
    ``builder.master(...)`` / ``builder.config(...)`` silently overrides
    them (measured: a ``spark-submit --master local[8]`` soak run actually
    executed with 32 task slots, and its ``--conf
    spark.sql.shuffle.partitions=64`` ran with 32). The property must be
    read from the gateway JVM directly — a fresh Python-side
    ``SparkConf(loadDefaults=True)`` does NOT see it before a context
    exists (verified empirically on Spark 4.1).

    Only consulted when this process was launched BY spark-submit
    (``PYSPARK_GATEWAY_PORT`` set). In programmatic sessions the gateway
    JVM is ours, and leftover system properties from a previous stopped
    session in the same process must not shadow our defaults.
    """
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return None
    try:
        from pyspark import SparkContext

        SparkContext._ensure_initialized()
        return SparkContext._jvm.System.getProperty(key)
    except Exception:
        return None


def build_session(master: str | None = None, app_name: str = "pdf2doi_spark",
                  shuffle_partitions: int | None = None,
                  extra_conf: dict | None = None) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER")
    builder = SparkSession.builder
    if master:
        builder = builder.master(master)
    elif not _submit_time_conf("spark.master"):
        builder = builder.master("local[*]")
    builder = builder.appName(app_name)

    # Explicit caller/env choices always win; the static entries below are
    # DEFAULTS — a value for the same key passed via spark-submit --conf
    # takes precedence over them.
    overrides: dict = {}
    if shuffle_partitions is not None:
        overrides["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    elif "SPARK_GRAFT_SHUFFLE" in os.environ:
        overrides["spark.sql.shuffle.partitions"] = os.environ["SPARK_GRAFT_SHUFFLE"]
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        overrides["spark.driver.memory"] = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    defaults = {
        "spark.sql.shuffle.partitions": "32",
        # Pin the session zone: timestamp<->epoch conversions must not
        # depend on the host JVM's default zone (DST transitions would
        # silently shift gaps/windows relative to tz-free engines).
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH_ROWS),
        "spark.sql.files.maxPartitionBytes": "134217728",
        # zstd ≈ snappy decode speed at ~30-40% smaller parquet — at 100 TB
        # of results + text columns that is tens of TB of storage and scan
        # bandwidth saved for a negligible write-side CPU cost.
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.driver.memory": "8g",
        "spark.ui.enabled": "false",
        # Iterative operators (connected components) write one durable
        # checkpoint per round when a checkpoint dir is configured; without
        # GC-driven cleanup a long pipeline leaks every round's files until
        # the job ends. Safe when off (no checkpoint dir -> no-op).
        "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
    }
    for k, v in defaults.items():
        if k in overrides:
            builder = builder.config(k, overrides[k])
        elif _submit_time_conf(k) is None:
            builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark
