"""SparkSession construction with scale-aware defaults.

Single place to encode the engine's execution posture: AQE on (runtime
re-planning, skew-join handling), UTC session timezone (deterministic
timestamp arithmetic for the DuckDB oracle), Arrow enabled (fast Pandas-UDF
boundary for the few operators that need Python). On executor Python
workers, `gate_worker_zip_invalidation` stops CPython < 3.13 from re-reading
pyspark.zip and the spark-core jar before every task (0.2-0.37 s a task
on 4 vCPU).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

#: Configs applied to sessions we build AND re-asserted (when runtime-settable)
#: on sessions handed to us by the driver.
ENGINE_RUNTIME_CONF = {
    # Determinism: all timestamp <-> epoch math in UTC, matching DuckDB.
    "spark.sql.session.timeZone": "UTC",
    # Let AQE coalesce shuffle partitions and split skewed ones at runtime.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Older events fixtures stored TIMESTAMP(NANOS) parquet, which Spark's
    # vectorized reader rejects; read as long and convert (tables.load).
    # Harmless for the current TIMESTAMP(MICROS) fixtures, kept so either
    # physical type loads (tables.load normalizes both to TimestampType).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # PySpark 4's DataFrame-debugging wraps EVERY DataFrame/Column API call
    # with call-site capture: a Python stack walk plus ~5 py4j round trips
    # (getActiveSession, a conf read, PySparkCurrentOrigin.set/clear). On
    # this box a py4j round trip is ~0.8 ms, so plan CONSTRUCTION paid
    # ~4 ms per API call — measured 108 ms for one trivial select, ~0.7 s
    # to build the minhash_dedup plan alone (r13 profile; cProfile showed
    # 3,400 round trips per construction). The capture only enriches error
    # messages with user line numbers; the engine's own errors carry their
    # context. Measured win: select() 108 -> 43 ms, whole-bench plan
    # construction is a large part of every sub-second query's time.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def gate_worker_zip_invalidation() -> None:
    """Inside a Spark task on CPython 3.10-3.12, make
    `zipimporter.invalidate_caches` re-read an archive's directory only
    when its (mtime, size, inode) changed since this importer last read it.

    A reused Python worker calls `importlib.invalidate_caches()` before
    every task (pyspark `worker_util.setup_spark_files`), and before 3.13
    each zip finder on sys.path re-reads its whole central directory: one
    read of pyspark.zip per imported subpackage plus the spark-core jar.
    3.13 made that invalidation lazy; this is the same saving, kept sound
    by the stat key. A missing archive or any OSError falls through to
    the stdlib method. Installed once per process; on the driver
    (no TaskContext) and on 3.13+ it does nothing."""
    if not (3, 10) <= sys.version_info < (3, 13):
        return
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if taskcontext is None or taskcontext.TaskContext.get() is None:
        return
    import zipimport
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "stat_gated", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return reread(self)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        if getattr(self, "_dir_key", None) != key:
            reread(self)
            self._dir_key = key

    invalidate_caches.stat_gated = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def build_spark(app_name: str = "amazon-kinesis-replay-spark",
                shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or get) a local session sized from $SPARK_GRAFT_CPUS."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = str(shuffle_partitions or int(cpus))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.warehouse.dir", "/tmp/spark-graft-warehouse")
    )
    for k, v in ENGINE_RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Re-assert runtime-settable engine configs on an externally built
    session (the driver owns the session in `__spark_entry__` calls), and
    make this package importable on executor Python workers.

    Memoized per session object (r13 opt): the assertion is ~34 py4j
    round trips (~10 ms on this box), `tables.load` calls this on every
    load — memo hits included — and a composed query construction loads
    up to 6 tables, so the re-assertion dominated memo-hit load cost.
    Runtime confs persist for the session's lifetime, so asserting once
    per session is equivalent; a test that deliberately flips one of
    these confs mid-session (e.g. AQE off) now keeps its setting across
    engine calls instead of having it silently re-asserted away."""
    if getattr(spark, "_akrs_conf_asserted", False):
        # Sentinel spot-check on memo hits (r13 ADVICE): the memo assumes
        # the driver never mutates a runtime conf between entry calls on
        # the same session. Verify the cheapest result-critical conf (UTC
        # session timezone — 1 round trip) and fall through to the full
        # re-assertion if it drifted; a DELIBERATE mid-session flip of a
        # non-sentinel conf (e.g. the AQE-off streaming tests) still
        # survives, which the memo test pins.
        try:
            tz_ok = (spark.conf.get("spark.sql.session.timeZone")
                     == ENGINE_RUNTIME_CONF["spark.sql.session.timeZone"])
        except Exception:
            tz_ok = True
        if tz_ok:
            _ship_package(spark)
            return spark
    for k, v in ENGINE_RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build; keep going
    # The dataFrameDebugging switch is read ONCE per Python process and
    # memoized in pyspark.errors.utils._enable_debugging_cache; on a
    # driver-owned session that already ran DataFrame ops the True value
    # is cached and the conf.set above never takes effect. Resetting the
    # memo makes the conf authoritative mid-process; guarded because the
    # private name may move in a future PySpark (the conf alone then
    # covers sessions we build ourselves).
    try:
        from pyspark.errors import utils as _perr_utils
        _perr_utils._enable_debugging_cache = False
    except Exception:
        pass
    spark._akrs_conf_asserted = True
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors via addPyFile (once per session).

    Python-UDF closures (mapInPandas decoders, foreachPartition senders)
    reference module-level functions, which cloudpickle serializes BY
    REFERENCE — workers must be able to import the package. When the driver
    process was launched from outside the repo, the workers' sys.path does
    not include it; a zipped copy on the Spark files channel fixes that in
    both local and cluster mode.
    """
    if getattr(spark, "_akrs_pyfiles_shipped", False):
        return
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    try:
        staging = tempfile.mkdtemp(prefix="akrs-pyfiles-")
        zip_base = os.path.join(staging, "amazon_kinesis_replay_spark")
        archive = shutil.make_archive(
            zip_base, "zip",
            root_dir=os.path.dirname(pkg_dir),
            base_dir=os.path.basename(pkg_dir))
        spark.sparkContext.addPyFile(archive)
        spark._akrs_pyfiles_shipped = True
    except Exception:
        pass  # best-effort: repo-rooted runs work without it
