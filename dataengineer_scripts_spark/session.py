"""SparkSession construction tuned for this engine.

One JVM per process, ``local[N]`` threads sized to the host, shuffle
partitions sized to cores (not the 200 default).  AQE is on, so at the
fixtures' sizes small shuffles coalesce and small join sides broadcast at
runtime.
"""

from __future__ import annotations

import os

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
    # Python DataSource filter pushdown (the REST source implements
    # pushFilters; Spark REJECTS such readers outright when this is off).
    "spark.sql.python.filterPushdown.enabled": "true",
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


def builder(app_name: str = "dataengineer_scripts_spark") -> SparkSession.Builder:
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
            "-XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing",
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
