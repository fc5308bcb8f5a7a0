"""SparkSession factory with the engine's canonical configuration.

Scale notes (100 TB target): the same settings apply on a real cluster —
AQE handles skew/coalescing at runtime, Arrow keeps the pandas-UDF path
batched, UTC pins timestamp semantics. Only master/memory are local-mode
artifacts; on a cluster they come from spark-submit.
"""

from __future__ import annotations

import contextlib
import hashlib
import logging
import os
import shutil

from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

_JAVA_OPTS = "spark.driver.extraJavaOptions"
# first bytes of a JDK dynamic class-data-sharing archive: the magic
# 0xf00baba8, little-endian
_DYNAMIC_MAGIC = b"\xa8\xab\x0b\xf0"
# unified logging to stderr only (the launch's stdout is the caller's),
# and none of the dump's per-class "Skipping" warnings
_CDS_LOG = "-Xlog:all=off:stdout -Xlog:all=warning,cds=off,cds+dynamic=off:stderr"


def get_spark(
    app_name: str = "pulsar-io-delta-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet stores TIMESTAMP(NANOS); Spark reads it as long
        # with this flag, tables.py converts to timestamp (micros).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    cds = _ClassDataSharing.for_launch()
    if cds is None:
        return builder.getOrCreate()
    caller = (extra_conf or {}).get(_JAVA_OPTS, "")
    try:
        with cds.conf_dir():
            return builder.config(_JAVA_OPTS, f"{caller} {cds.flags}".strip()).getOrCreate()
    except PySparkRuntimeError as e:
        if not cds.reuses or e.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        log.warning("driver JVM did not start from %s; removed it, starting without it", cds.archive)
        with contextlib.suppress(FileNotFoundError):
            os.remove(cds.archive)
    return builder.config(_JAVA_OPTS, caller).getOrCreate()


class _ClassDataSharing:
    """Start the driver JVM from a dynamic class-data-sharing archive: a
    memory-mapped copy of the classes an earlier driver loaded, which
    halves JVM start. The archive lives in the per-user cache under a
    key of the java binary, the Spark jars and the pyspark version; a
    launch without one dumps it as its JVM exits. A corrupt or stale
    archive costs a normal start (see get_spark and PERF.md)."""

    def __init__(self, archive: str, empty_conf: str):
        self.archive = archive
        self.empty_conf = empty_conf
        try:
            with open(archive, "rb") as fh:
                self.reuses = fh.read(4) == _DYNAMIC_MAGIC
        except OSError:
            self.reuses = False
        opt = "SharedArchiveFile" if self.reuses else "ArchiveClassesAtExit"
        # a JVM that dies mapping a damaged archive writes its crash log
        # next to the archive, not into the caller's working directory
        crash_log = os.path.join(os.path.dirname(archive), "hs_err_pid%p.log")
        self.flags = f'"-XX:{opt}={archive}" "-XX:ErrorFile={crash_log}" {_CDS_LOG}'

    @classmethod
    def for_launch(cls) -> "_ClassDataSharing | None":
        """The archive for the JVM this process is about to launch, or
        None: no JVM will be launched, the conf dir is in use, or the
        cache is not writable."""
        from pyspark import SparkContext

        if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
            return None
        from pyspark.find_spark_home import _find_spark_home

        home = _find_spark_home()
        conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(home, "conf")
        # the conf dir is on the driver's classpath, and the JVM archives
        # no classpath with a non-empty directory: CDS swaps in an empty
        # one, which is the same launch only while conf holds templates
        used = sorted(n for n in (os.listdir(conf) if os.path.isdir(conf) else ())
                      if not n.endswith(".template"))
        if used:
            log.warning("driver JVM starts without class-data sharing: %s holds %s",
                        conf, ", ".join(used))
            return None
        cache = os.path.join(os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
                             "pulsar_io_delta_spark", "cds")
        empty_conf = os.path.join(cache, "conf")
        try:
            os.makedirs(empty_conf, exist_ok=True)
            key = _cds_key(home)
        except OSError:
            return None
        if key is None or not os.access(cache, os.W_OK):
            return None
        return cls(os.path.join(cache, f"{key}.jsa"), empty_conf)

    @contextlib.contextmanager
    def conf_dir(self):
        """SPARK_CONF_DIR set to the empty dir for the launch only."""
        prior = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = self.empty_conf
        try:
            yield
        finally:
            if prior is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = prior


def _cds_key(spark_home: str) -> str | None:
    """Hash of what an archive is only valid for: the java binary the
    launcher resolves (and its libjvm.so), each Spark jar's name, size
    and mtime, and the pyspark version."""
    from pyspark import __version__

    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java or not os.path.isfile(java):
        return None
    java = os.path.realpath(java)
    libjvm = os.stat(os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server", "libjvm.so"))
    h = hashlib.sha256(f"{java}\0{libjvm.st_size}\0{libjvm.st_mtime_ns}\0{__version__}\n".encode())
    for e in sorted(os.scandir(os.path.join(spark_home, "jars")), key=lambda e: e.name):
        st = e.stat()
        h.update(f"{e.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:20]


def pin_session(spark: SparkSession) -> SparkSession:
    """Idempotently pin the confs every query in this engine relies on.

    Called by the table loader so queries behave identically under a
    driver-provided session that wasn't built by :func:`get_spark`.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # 'id'-mode column mapping: read schemas carry parquet.field.id
    # metadata; files written by id-preserving engines (UniForm /
    # converted tables) match by field id, Delta-written files by name
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    return spark


def session_scrub(spark: SparkSession) -> dict:
    """Release session-accumulated state between queries in a
    LONG-RUNNING driver (r16, VERDICT r15 #4): a single JVM that has
    executed dozens of queries pins heap through four channels the
    per-query plans never see — the SQL cache, finished memory-sink
    tables (each holds its full result on the driver), loaded
    streaming state-store providers (HDFS-backed providers keep every
    maintained version's map in memory until unloaded), and
    checkpointed RDD blocks + broadcasts whose cleanup waits on GC of
    their Python/JVM handles (ContextCleaner is weak-reference-driven,
    so an idle driver can sit on gigabytes that one collection would
    free). The r15 sf10 sweep OOM'd a 16 GB JVM after 66 accumulated
    queries on exactly this — the victim stage was innocent.

    Call AFTER the previous query's result is fully consumed: dropping
    a pids_sink_* view invalidates DataFrames still pointing at it.
    Safe between streaming queries — StateStore.stop() tears down the
    provider cache and maintenance thread, and the next streaming
    query lazily restarts both (pinned by
    tests/test_streaming.py::test_session_scrub_between_streams).

    Returns counts for observability ({views_dropped, state_store_
    stopped}); every step degrades gracefully on private-API drift."""
    import gc

    out: dict = {"views_dropped": 0, "state_store_stopped": False}
    spark.catalog.clearCache()
    for t in spark.catalog.listTables():
        if t.name.startswith("pids_sink_") and t.isTemporary:
            spark.catalog.dropTempView(t.name)
            out["views_dropped"] += 1
    try:
        spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        out["state_store_stopped"] = True
    except Exception:  # noqa: BLE001 — internal API; absence is survivable
        pass
    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:  # noqa: BLE001
        pass
    return out
