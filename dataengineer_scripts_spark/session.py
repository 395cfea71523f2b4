"""SparkSession construction tuned for this engine.

One JVM per process, ``local[N]`` threads sized to the host, shuffle
partitions sized to cores (not the 200 default).  AQE is on, so at the
fixtures' sizes small shuffles coalesce and small join sides broadcast at
runtime.

Class-data sharing.  The client is a cron-style batch job, so every run
pays the driver JVM's class loading and verification.  ``builder()`` gives
the driver JVM a dynamic AppCDS archive: the first run on a host records
it when its JVM exits, and every later run maps it, which roughly halves
the JVM start and shortens the first SQL jobs.  The archive lives in
``${XDG_CACHE_HOME:-~/.cache}/spark-graft/cds/``, beside the empty
directory that becomes ``SPARK_CONF_DIR`` (JDK 17 records no archive while
a non-empty directory is on the class path, and ``$SPARK_HOME/conf`` is
one).  The directory is per user, not per checkout, because the class path
is the same for every checkout; delete it to drop the archive, and the
next run records a new one.  The archive is used only when
``SPARK_CONF_DIR`` is unset and ``$SPARK_HOME/conf`` holds nothing but
``*.template`` files, so a real ``spark-defaults.conf`` keeps working,
without an archive.  An archive that no longer matches costs speed, never
an answer: the JVM checks it at start and falls back to normal class
loading.  A truncated archive is the exception (the JVM dies on it), so an
archive is only ever published whole; delete the directory if a copy or a
disk fault damaged it.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shutil
import subprocess
from collections.abc import Mapping

from pyspark.sql import SparkSession

#: Local parallelism, resolved once at import and read by both
#: ``ENGINE_CONFS`` and ``builder()``: ``SPARK_GRAFT_CPUS`` when set,
#: otherwise the CPUs this process may run on, so a small box is not
#: sized as a 32-core one.
CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` when set, otherwise a quarter of physical
    memory (the JVM's own default heap share), at least 1g."""
    if mem := os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return mem
    with open("/proc/meminfo") as fh:
        kib = int(next(ln for ln in fh if ln.startswith("MemTotal:")).split()[1])
    return f"{max(1, kib // 4 // 2**20)}g"


#: Confs that are safe (and wanted) on both local test runs and a real
#: cluster.  Runtime-settable ones are also re-applied per-query by the
#: registry so driver-owned sessions behave identically.
ENGINE_CONFS: dict[str, str] = {
    # Shuffle parallelism sized to local cores (not the 200 default) — also
    # applied to driver-owned sessions at query time; AQE coalesces below
    # this at runtime, and a real cluster would raise it to 2-3× total cores.
    "spark.sql.shuffle.partitions": CPUS,
    # AQE: runtime coalescing of shuffle partitions + skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas interchange (Pandas UDF / toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp semantics; DuckDB oracle reads parquet as
    # naive UTC, so the session must be pinned to UTC.
    "spark.sql.session.timeZone": "UTC",
    # Java-pattern timestamp parsing without legacy surprises.
    "spark.sql.legacy.timeParserPolicy": "CORRECTED",
    # Spark 4 rejects parquet INT64 TIMESTAMP(NANOS) outright; read it as a
    # long and convert at the scan (tables.table) — ns→µs truncation matches
    # DuckDB's TIMESTAMP_NS::TIMESTAMP cast.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Parquet TIMESTAMP(isAdjustedToUTC=false) must come back as plain
    # TimestampType, not TIMESTAMP_NTZ: the session is pinned to UTC (above)
    # so values are identical, and NTZ breaks event-time ops (withWatermark
    # rejects it; ntz→double casts throw).  DuckDB's oracle read is naive-UTC
    # either way, so this keeps both engines on the same semantics.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


#: Class-path entries the Spark launcher takes from the environment besides
#: the conf dir and ``$SPARK_HOME/jars``.  Any of them may be a non-empty
#: directory, with which the JVM fails the recording at exit (status 1), so
#: every run would pay for a recording that is never published.
_CLASS_PATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")

#: The flags carry the cache path unquoted: whitespace would split
#: ``extraJavaOptions`` and ``:`` separates ``-Xlog`` fields.
_PLAIN_PATH = re.compile(r"[\w./-]+")

_RECORD = "-XX:ArchiveClassesAtExit="

#: How long a recording process waits at exit for its JVM to write the
#: archive (about 12 s for a 160-220 MB archive on 4 cores).
ARCHIVE_WAIT_S = 60


def cds_dir() -> str:
    """Where the archive and its empty conf dir live: a per-user cache."""
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(os.path.abspath(cache), "spark-graft", "cds")


def archive_key(spark_home: str, env: Mapping[str, str], conf_dir: str) -> str:
    """Hash of what the archive was recorded against: the JDK the launcher
    runs (``$JAVA_HOME``, else ``java`` on the PATH; its home and its
    ``release`` file, which names the version) and the driver's class path
    (the conf dir, then the name, size and mtime of every jar in
    ``$SPARK_HOME/jars``, whose names carry the Spark version).  Raises
    ``OSError`` when ``$SPARK_HOME/jars`` cannot be listed."""
    java_home = env.get("JAVA_HOME")
    if not java_home and (java := shutil.which("java", path=env.get("PATH"))):
        java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    h = hashlib.sha256(f"{java_home}\0{conf_dir}\0".encode())
    if java_home:
        try:
            with open(os.path.join(java_home, "release"), "rb") as fh:
                h.update(fh.read())
        except OSError:
            pass
    for e in sorted(os.scandir(os.path.join(spark_home, "jars")), key=lambda e: e.name):
        st = e.stat()
        h.update(f"{e.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:20]


def _writable(path: str) -> bool:
    """Whether ``path`` is, or can be created as, a writable directory."""
    while not os.path.lexists(path):
        path = os.path.dirname(path)
    return os.path.isdir(path) and os.access(path, os.W_OK | os.X_OK)


def class_data_plan(
    spark_home: str, env: Mapping[str, str], cache: str
) -> tuple[dict[str, str], list[str]]:
    """The environment update and driver JVM flags that give the driver JVM
    the class-data-sharing archive kept in ``cache`` (see the module
    docstring): map the archive when it exists, record it when it does not
    and ``cache`` is writable; ``({}, [])`` when no archive can be used.

    The JVM logs one ``[cds]`` line per class it leaves out of a
    recording (over a thousand in a benchmark run); that goes to a file
    beside the recording, not to the batch job's stdout.  A mapped
    archive's warnings go to stderr."""
    empty = os.path.join(cache, "conf")
    if env.get("SPARK_CONF_DIR", empty) != empty or any(env.get(k) for k in _CLASS_PATH_ENV):
        return {}, []
    if not _PLAIN_PATH.fullmatch(cache):
        return {}, []
    try:
        conf = os.listdir(os.path.join(spark_home, "conf"))
    except FileNotFoundError:
        conf = []
    if any(not n.endswith(".template") for n in conf):
        return {}, []
    try:
        archive = os.path.join(cache, archive_key(spark_home, env, empty) + ".jsa")
    except OSError:
        return {}, []
    redirect = {"SPARK_CONF_DIR": empty}
    if os.path.isfile(archive):
        return redirect, [f"-XX:SharedArchiveFile={archive}", "-Xlog:cds*=off", "-Xlog:cds*=warning:stderr"]
    if not _writable(cache):
        return {}, []
    part = f"{archive}.{os.getpid()}.part"
    return redirect, [f"{_RECORD}{part}", "-Xlog:cds*=off", f"-Xlog:cds*=warning:file={part}.log"]


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def publish_archive(part: str, archive: str, proc: subprocess.Popen | None) -> bool:
    """Publish the recording ``part`` as ``archive`` once its JVM ``proc``
    has exited cleanly, then prune the cache directory.

    The JVM writes the recording only as it exits, and a JVM that maps a
    truncated archive dies with SIGBUS, so the archive appears under its
    name only whole: closing the JVM's stdin makes it exit, the wait is
    bounded by ``ARCHIVE_WAIT_S``, and a clean exit is followed by an fsync
    and an atomic rename.  Anything else leaves no archive, so the next run
    records again.  Pruning removes archives with other keys (after a
    publish) and recordings whose process is gone.  Returns whether
    ``archive`` was published."""
    published = False
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            status = proc.wait(timeout=ARCHIVE_WAIT_S)
        except subprocess.TimeoutExpired:
            status = None
        # wait() also reports 0 for a process it cannot reap (the copy of
        # ``proc`` in a forked child), so check that the JVM is gone
        published = status == 0 and not _alive(proc.pid) and os.path.isfile(part)
    if published:
        with open(part, "rb") as fh:
            os.fsync(fh.fileno())
        os.replace(part, archive)
        if os.path.isfile(part + ".log"):
            os.replace(part + ".log", archive + ".log")
    cache = os.path.dirname(archive)
    keep = {os.path.basename(archive), os.path.basename(archive) + ".log", "conf"}
    try:
        names = os.listdir(cache)
    except FileNotFoundError:  # the directory was deleted to drop the archive
        return published
    for name in names:
        m = re.search(r"\.(\d+)\.part(\.log)?$", name)
        if name in keep or (m and int(m[1]) != os.getpid() and _alive(int(m[1]))):
            continue
        if m or published:
            try:
                os.remove(os.path.join(cache, name))
            except OSError:
                pass
    return published


def _publish_at_exit(part: str, archive: str) -> None:
    from pyspark import SparkContext

    publish_archive(part, archive, getattr(SparkContext._gateway, "proc", None))


def builder(app_name: str = "dataengineer_scripts_spark") -> SparkSession.Builder:
    # pyspark's own lookup, so the plan keys the Spark the launcher runs
    from pyspark.find_spark_home import _find_spark_home

    env, cds_flags = class_data_plan(_find_spark_home(), os.environ, cds_dir())
    try:
        if env:
            os.makedirs(env["SPARK_CONF_DIR"], exist_ok=True)
    except OSError:
        env, cds_flags = {}, []
    os.environ.update(env)
    if part := next((f[len(_RECORD):] for f in cds_flags if f.startswith(_RECORD)), None):
        atexit.unregister(_publish_at_exit)
        atexit.register(_publish_at_exit, part, part.rsplit(".", 2)[0])
    b = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName(app_name)
        .config("spark.driver.memory", driver_memory())
        # ~90 registered queries compile thousands of generated classes in
        # one JVM; the 240 MB default code cache fills and HotSpot silently
        # stops JIT-compiling — codegen-heavy aggregates then run
        # interpreted at 3-5x cost.  Size it for a long-lived session.
        .config(
            "spark.driver.extraJavaOptions",
            " ".join(["-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing", *cds_flags]),
        )
        .config("spark.ui.enabled", "false")
        # No \r-chunked [Stage N:===>] progress bars on stderr: a batch
        # job's stderr is a log file, and carriage-return redraws both
        # bloat it and garble the lines the caller writes there.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in ENGINE_CONFS.items():
        b = b.config(k, v)
    return b


def _quiet_window_exec_warnings(spark: SparkSession) -> None:
    """Raise the WindowExec logger to ERROR for this JVM.

    A handful of registered ops intentionally run an UNPARTITIONED window
    over an already-bounded aggregate (constant grain: deciles over ~40
    day rows, rank recovery over a top-k frame — e.g. `x_agg_decile_edges`
    `operators/bi.py:1209`, `x_llm_zipf_fit` `operators/relevance.py:256`,
    the grain-bounded patterns documented at `operators/bi.py:172` and
    `operators/timeseries.py:1149`).  Each such window stays flat as the
    data grows because its input is a fixed-size aggregate, but Spark 4
    still logs `WindowExec: No Partition Defined` per execution — dozens
    of identical WARN lines per run that bury the caller's own log lines
    on stderr.  This is noise suppression for a known-safe pattern, NOT a
    blanket WARN mute: every other logger stays at the session default.
    What the mute costs in observability is repaid by a REGISTRY-WIDE
    detector: tests/plan_sweep.py sweeps every operator's
    physical plan for windows fed by an ``Exchange SinglePartition`` on
    every test run, failing any op not on its bounded-grain allowlist —
    a stronger guarantee than the WARN line, since it asserts on plans,
    not logs, and covers ops with no dedicated plan guard.  Best-effort:
    the log4j2 Configurator path is Spark-4-internal, so any failure
    leaves logging untouched.
    """
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:  # pragma: no cover - alternate log4j packaging
        pass


def get_spark(app_name: str = "dataengineer_scripts_spark") -> SparkSession:
    spark = builder(app_name).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _quiet_window_exec_warnings(spark)
    return spark


def apply_runtime_confs(spark: SparkSession) -> None:
    """Apply the runtime-settable engine confs to an existing session.

    The driver harness owns its own SparkSession; query results must not
    depend on its timezone or Arrow settings, so every registered query
    re-applies these (all of them are runtime-settable).
    """
    for k, v in ENGINE_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - static conf on some builds
            pass
