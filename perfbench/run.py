#!/usr/bin/env python3
"""Closed-loop benchmark of the registered queries, one workload per run.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all        # every workload, one table

A run is one fresh driver process.  It pins the deployment settings (cores
= the CPUs this process may use, a driver heap that fits the machine, all
scratch space inside the checkout), launches the JVM through
``session.get_spark`` and runs one untimed warm-up pass over the
workload's queries on the sf0.1 fixture tables in ``data/sf0.1``.  It then
runs timed batches until ``--seconds`` have passed (at least
``MIN_BATCHES``).  Each batch starts a fresh SparkSession in the same JVM
(so per-session caches start empty, as in a cron-style batch job) and
submits the workload's queries one after another in an order drawn from
``--seed``; each query is its function ``fn(spark, fixture_dir)`` followed
by one action that materializes every column and returns the row count and
digest checked against ``expected.json``.

End-to-end metrics (``--trace 0``):

- ``setup_s``: the cold start, from the JVM launch to the first timed
  query: ``session.get_spark`` and the warm-up pass (JIT and code
  generation, the Python worker daemon, the stub API server).  One
  sample per run: a set-up is a JVM launch, so repeated runs give its
  median.
- ``makespan_s``: one pass over the workload, first call to last check;
  the median over the run's batches.
- ``cpu_s``: CPU seconds of the process tree (driver, JVM, Python workers)
  per pass, from ``/proc``; the median over the run's batches.

Printed beside them: ``query_p50_s`` and ``query_tail_s`` (per-query
latency over every timed sample; the tail is the highest percentile with at
least ten samples beyond it, never below the median), ``peak_rss_mb`` (the
tree's peak resident memory per pass) and ``failed_ratio`` (failed or
mismatching queries over attempted ones, also the contract's
``attempted``/``failed`` counts).

With ``--trace 1`` timed batches alternate untraced and traced; traced
batches record spans around calls into each layer (``spans.py``) and the
per-layer metrics listed in ``BENCHMARK.json``; spans are written to
``.perfbench/traces/`` when the run ends.

The last stdout line is the JSON result.  The exit code is 0 when every
result matched, 1 when any query failed or mismatched, 2 when the program
or the fixtures cannot be loaded (no result is printed then).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
#: The sf0.1 fixture tables (seed 42), kept as read-only parquet files.
FIXTURES = os.path.join(HERE, "data", "sf0.1")
SCRATCH = os.path.join(ROOT, ".tmp")
EXPECTED = os.path.join(HERE, "expected.json")

sys.path[:0] = [HERE, ROOT]

import engine  # noqa: E402
from check import digest, mismatch  # noqa: E402
from proctree import ProcTree  # noqa: E402
from spans import Tracer, layer_summary, write_spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: Timed batches per run at least (a traced run needs one of each kind);
#: more run while ``--seconds`` have not passed.
MIN_BATCHES = 2
MIN_TRACED_BATCHES = 2
#: End-to-end metrics in the result line of an untraced run.
E2E_UNITS = {"setup_s": "s", "makespan_s": "s", "cpu_s": "CPU-s"}
#: Printed beside them.  Per-query latency percentiles move with the seed's
#: query order (the first query to touch a shared frame or the stub API pays
#: its set-up) and per-pass peak RSS with the JVM's heap growth, too much
#: between runs for a regression bound; traced runs report them per layer.
PRINTED_UNITS = {
    **E2E_UNITS,
    "query_p50_s": "s",
    "query_tail_s": "s",
    "peak_rss_mb": "MB",
}
#: Operator modules whose queries are timed per module in traced batches.
QUERY_MODULES = (
    "functions.scalar",
    "operators.relational",
    "operators.tpch",
    "operators.bi",
    "operators.timeseries",
    "operators.etl",
    "operators.llm",
    "operators.relevance",
    "operators.health",
    "operators.multimodal",
    "streaming.windows",
)


def _per_layer() -> dict[str, tuple[str, str]]:
    """Every per-layer metric of a traced run: name -> (unit, better)."""
    m: dict[str, tuple[str, str]] = {
        "session.start_s": ("s", "lower"),
        "session.warmup_s": ("s", "lower"),
        "session.restart_s": ("s", "lower"),
    }
    for mod in QUERY_MODULES:
        m[f"{mod}.queries"] = ("count", "higher")
        m[f"{mod}.plan_s"] = ("s", "lower")
        m[f"{mod}.exec_s"] = ("s", "lower")
    m.update(
        {
            "tables.calls": ("count", "lower"),
            "tables.misses": ("count", "lower"),
            "tables.s": ("s", "lower"),
            "session_cache.calls": ("count", "lower"),
            "session_cache.builds": ("count", "lower"),
            "session_cache.hit_ratio": ("ratio", "higher"),
            "rest.logins": ("count", "lower"),
            "rest.reads": ("count", "lower"),
            "rest.s": ("s", "lower"),
            "rest.http_requests": ("count", "lower"),
            "streaming.microbatches": ("count", "lower"),
            "streaming.batch_p50_ms": ("ms", "lower"),
            "streaming.state_rows": ("count", "lower"),
            "spark.jobs": ("count", "lower"),
            "spark.stages": ("count", "lower"),
            "spark.tasks": ("count", "lower"),
            "spark.tasks_failed": ("count", "lower"),
            "spark.shuffle_write_mb": ("MB", "lower"),
            "spark.spill_mb": ("MB", "lower"),
            "jvm.gc_s": ("s", "lower"),
            "jvm.gc_count": ("count", "lower"),
            "proc.driver_cpu_s": ("s", "lower"),
            "proc.jvm_cpu_s": ("s", "lower"),
            "proc.pyworker_cpu_s": ("s", "lower"),
            "query.p50_s": ("s", "lower"),
            "query.tail_s": ("s", "lower"),
            "proc.peak_rss_mb": ("MB", "lower"),
            "trace.overhead_s": ("s", "lower"),
            "trace.spans": ("count", "lower"),
        }
    )
    for layer in SELF_TIME_LAYERS:
        m[f"{layer}.self_s"] = ("s", "lower")
    return m


#: Span layers whose summed self time is reported.
SELF_TIME_LAYERS = ("query", "tables", "session_cache", "rest", "streaming")
PER_LAYER = _per_layer()


def pin_environment() -> dict[str, str]:
    """Deployment settings for this machine, exported before the program
    is imported (``session.py`` reads them at import and JVM launch)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_gb = int(next(ln for ln in fh if ln.startswith("MemTotal:")).split()[1]) / 2**20
    heap_gb = max(1, min(4, int(mem_gb // 4)))
    tmp = os.path.join(STATE, "tmp")
    local = os.path.join(STATE, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # No hsperfdata files in the system temp directory.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(settings)
    return settings


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least ten
    samples beyond it (the eleventh-largest sample), but never below the
    median: with fewer than twenty samples this is the median."""
    s = sorted(values)
    k = max(len(s) - 11, len(s) // 2)
    return s[k], 100.0 * (k + 1) / len(s)


class Bench:
    def __init__(self, workload, seed: int, seconds: float, trace: bool):
        from dataengineer_scripts_spark import registry

        self.wl = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.rng = random.Random(seed)
        defs = registry.definitions()
        missing = [q for q in workload.queries if q not in defs]
        if missing:
            raise LookupError(f"queries not registered: {missing}")
        self.fns = {q: defs[q].fn for q in workload.queries}
        self.module = {
            q: getattr(defs[q].fn, "__wrapped__", defs[q].fn).__module__.split(".", 1)[1]
            for q in workload.queries
        }
        with open(EXPECTED) as fh:
            self.expected = json.load(fh)["queries"]
        self.attempted = 0
        self.failures: list[str] = []
        self.spark = None
        self.tree = None

    # -- sessions ------------------------------------------------------------
    def start_session(self):
        from dataengineer_scripts_spark.session import get_spark

        # The Python worker daemon starts with the first query that needs
        # it, inside the pass, as it would in a fresh batch job.
        return get_spark(f"perfbench-{self.wl.name}")

    def restart_session(self) -> float:
        self.spark.stop()
        t0 = time.perf_counter()
        self.spark = self.start_session()
        return time.perf_counter() - t0

    # -- one pass --------------------------------------------------------------
    def run_query(self, q: str, tracer=None, stats=None):
        self.attempted += 1
        fn = self.fns[q]
        sc = self.spark.sparkContext
        if stats is not None:
            sc.setJobGroup(q, q)
        t0 = time.perf_counter()
        try:
            if tracer is None:
                df = fn(self.spark, FIXTURES)
                t1 = time.perf_counter()
                got = digest(df)
            else:
                with tracer.query_scope(q):
                    with tracer.span("query.plan"):
                        df = fn(self.spark, FIXTURES)
                    t1 = time.perf_counter()
                    with tracer.span("query.exec"):
                        got = digest(df)
            t2 = time.perf_counter()
        except Exception as e:  # a failing query is counted, the run goes on
            self.failures.append(f"{q}: {type(e).__name__}: {str(e).splitlines()[0][:300]}")
            return None
        reason = mismatch(got, self.expected.get(q))
        if reason is not None:
            self.failures.append(f"{q}: {reason}")
            return None
        if stats is not None:
            mod = self.module[q]
            stats[f"{mod}.queries"] += 1
            stats[f"{mod}.plan_s"] += t1 - t0
            stats[f"{mod}.exec_s"] += t2 - t1
            stats.update(engine.job_group_stats(self.spark, q))
        return t2 - t0

    def run_pass(self, order: list[str], tracer=None, stats=None):
        c0 = self.tree.cpu()
        t0 = time.perf_counter()
        lat = {q: self.run_query(q, tracer, stats) for q in order}
        makespan = time.perf_counter() - t0
        return makespan, self.tree.cpu() - c0, {q: x for q, x in lat.items() if x is not None}

    # -- the run -----------------------------------------------------------------
    def run(self) -> dict:
        from pyspark import SparkContext

        t0 = time.perf_counter()
        self.spark = self.start_session()
        start_s = time.perf_counter() - t0
        self.tree = ProcTree(SparkContext._gateway.proc.pid)
        t1 = time.perf_counter()
        self.run_pass(list(self.wl.queries))
        warmup_s = time.perf_counter() - t1

        restarts, passes, traced_passes, layer_rows = [], [], [], []
        latencies: dict[str, list[float]] = {q: [] for q in self.wl.queries}
        spans: list = []
        self.tree.start_sampler()
        t_measure = time.perf_counter()
        batch = 0
        least = MIN_TRACED_BATCHES if self.trace else MIN_BATCHES
        while batch < least or time.perf_counter() - t_measure < self.seconds:
            traced = self.trace and batch % 2 == 1
            restarts.append(self.restart_session())
            order = self.rng.sample(self.wl.queries, len(self.wl.queries))
            if traced:
                row, makespan = self.traced_pass(order, spans)
                layer_rows.append(row)
                traced_passes.append(makespan)
            else:
                self.tree.take_peak()
                makespan, cpu, lat = self.run_pass(order)
                passes.append((makespan, cpu, self.tree.take_peak()))
                for q, x in lat.items():
                    latencies[q].append(x)
            batch += 1
        self.tree.stop_sampler()

        samples = [x for xs in latencies.values() for x in xs]
        result = {
            "per_query_s": {q: statistics.median(xs) for q, xs in latencies.items() if xs},
            "batches": batch,
            "start_s": start_s,
            "warmup_s": warmup_s,
            "setup_s": start_s + warmup_s,
            "restart_s": statistics.median(restarts),
            "makespan_s": statistics.median(p[0] for p in passes),
            "cpu_s": statistics.median(p[1].total_s for p in passes),
            "peak_rss_mb": statistics.median(p[2] for p in passes) / 2**20,
            "samples": len(samples),
        }
        if samples:
            result["query_p50_s"] = statistics.median(samples)
            result["query_tail_s"], result["tail_pct"] = tail(samples)
        if self.trace:
            result["layers"] = self.layer_metrics(layer_rows, result, traced_passes, spans)
        return result

    def traced_pass(self, order: list[str], spans: list) -> tuple[dict, float]:
        # Every stub API server the program started, by (flavor, sf_dir).
        from dataengineer_scripts_spark.operators.etl import _SERVERS

        listener = engine.StreamProgress()
        self.spark.streams.addListener(listener)
        seen0 = {id(s): len(s.requests_seen) for s in _SERVERS.values()}
        gc0 = engine.gc_totals(self.spark)
        tracer = Tracer()
        stats: Counter = Counter()
        tracer.install()
        try:
            makespan, cpu, _lat = self.run_pass(order, tracer, stats)
        finally:
            tracer.uninstall()
        gc1 = engine.gc_totals(self.spark)
        # Listener events arrive asynchronously; give the bus a moment.
        time.sleep(0.5)
        self.spark.streams.removeListener(listener)
        requests = []
        for stub in list(_SERVERS.values()):
            requests += stub.requests_seen[seen0.get(id(stub), 0) :]
        gets = [r for r in requests if r.startswith("GET ")]

        summary = layer_summary(tracer.spans)
        names = Counter(sp[2] for sp in tracer.spans)
        counts = tracer.counts

        def layer(name: str, key: str) -> float:
            return summary.get(name, {}).get(key, 0.0)

        row = {f"{m}.{k}": 0.0 for m in QUERY_MODULES for k in ("queries", "plan_s", "exec_s")}
        row.update({k: float(v) for k, v in stats.items() if not k.startswith("spark.")})
        row.update(
            {
                "spark.jobs": float(stats["spark.jobs"]),
                "spark.stages": float(stats["spark.stages"]),
                "spark.tasks": float(stats["spark.tasks"]),
                "spark.tasks_failed": float(stats["spark.tasks_failed"]),
                "spark.shuffle_write_mb": stats["spark.shuffle_write_bytes"] / 2**20,
                "spark.spill_mb": stats["spark.spill_bytes"] / 2**20,
                "tables.calls": float(names["tables.table"]),
                "tables.misses": float(counts["tables.misses"]),
                "tables.s": layer("tables", "busy_s"),
                "session_cache.calls": float(counts["session_cache.calls"]),
                "session_cache.builds": float(counts["session_cache.builds"]),
                "session_cache.hit_ratio": (
                    1.0 - counts["session_cache.builds"] / counts["session_cache.calls"]
                    if counts["session_cache.calls"]
                    else 0.0
                ),
                "rest.logins": float(names["rest.login"]),
                "rest.reads": float(len(gets)),
                "rest.s": layer("rest", "busy_s"),
                "rest.http_requests": float(len(requests)),
                "jvm.gc_s": gc1[0] - gc0[0],
                "jvm.gc_count": float(gc1[1] - gc0[1]),
                "proc.driver_cpu_s": cpu.driver_s,
                "proc.jvm_cpu_s": cpu.jvm_s,
                "proc.pyworker_cpu_s": cpu.pyworker_s,
                "trace.spans": float(len(tracer.spans)),
            }
        )
        for lay in SELF_TIME_LAYERS:
            row[f"{lay}.self_s"] = layer(lay, "self_s")
        row.update(listener.take())
        spans.extend(tracer.spans)
        return row, makespan

    def layer_metrics(self, rows: list[dict], result: dict, traced: list[float], spans: list) -> dict:
        out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
        out["session.start_s"] = result["start_s"]
        out["session.warmup_s"] = result["warmup_s"]
        out["session.restart_s"] = result["restart_s"]
        out["query.p50_s"] = result["query_p50_s"]
        out["query.tail_s"] = result["query_tail_s"]
        out["proc.peak_rss_mb"] = result["peak_rss_mb"]
        out["trace.overhead_s"] = statistics.median(traced) - result["makespan_s"]
        write_spans(spans, os.path.join(STATE, "traces", f"{self.wl.name}-seed{self.seed}.jsonl"))
        return out

    def close(self) -> None:
        if self.tree is not None:
            self.tree.stop_sampler()
        if self.spark is not None:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            self.spark.stop()
            self.spark = None
            if gw is not None and gw.proc is not None:
                # The JVM exits when its stdin closes; wait for it so the
                # run leaves no process behind.  (``gw.close()`` can block
                # on the streaming listener's callback connection.)
                gw.proc.stdin.close()
                gw.proc.wait(timeout=60)


def scratch_entries() -> set[str]:
    """The entries of the program's scratch directory ``.tmp``."""
    return set(os.listdir(SCRATCH)) if os.path.isdir(SCRATCH) else set()


def clean_disk_state(before: set[str]) -> None:
    """Remove what the run added to ``.tmp`` (per-process directories such
    as ``derby/jobs_db_<pid>`` are never reused) and the run's own scratch
    directories, so repeated runs start from the same on-disk state."""
    if os.path.isdir(SCRATCH):
        for d in set(os.listdir(SCRATCH)) - before:
            p = os.path.join(SCRATCH, d)
            shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.remove(p)
    for d in ("tmp", "spark-local"):
        shutil.rmtree(os.path.join(STATE, d), ignore_errors=True)


def run_one(args) -> int:
    wl = WORKLOADS[args.workload]
    settings = pin_environment()
    try:
        import dataengineer_scripts_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    from dataengineer_scripts_spark.tables import TABLE_NAMES

    missing = [n for n in TABLE_NAMES if not os.path.isfile(os.path.join(FIXTURES, f"{n}.parquet"))]
    if missing:
        print(f"perfbench: fixture tables missing from {FIXTURES}: {missing}", file=sys.stderr)
        return 2

    before = scratch_entries()
    bench = Bench(wl, args.seed, args.seconds, bool(args.trace))
    try:
        res = bench.run()
    finally:
        bench.close()
        clean_disk_state(before)

    failed = len(bench.failures)
    for f in bench.failures:
        print(f"FAILED {f}", file=sys.stderr)
    report(wl.name, args.seed, settings, res, bench.attempted, failed)
    if args.trace:
        metrics = {k: {"value": res["layers"][k], "unit": u} for k, (u, _b) in PER_LAYER.items()}
    else:
        metrics = {k: {"value": res[k], "unit": u} for k, u in E2E_UNITS.items() if k in res}
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": bench.attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0 if failed == 0 else 1


def report(name: str, seed: int, settings: dict, res: dict, attempted: int, failed: int) -> None:
    print(
        f"workload {name}  seed {seed}  local[{settings['SPARK_GRAFT_CPUS']}]"
        f"  heap {settings['SPARK_GRAFT_DRIVER_MEM']}  batches {res['batches']}"
        f"  jvm start {res['start_s']:.2f} s  warm-up pass {res['warmup_s']:.2f} s"
    )
    for k, u in PRINTED_UNITS.items():
        if k not in res:
            continue
        extra = f"  (p{res['tail_pct']:.0f} of {res['samples']} samples)" if k == "query_tail_s" else ""
        print(f"  {k:<14} {res[k]:>10.4f} {u}{extra}")
    print(f"  {'failed_ratio':<14} {failed / max(attempted, 1):>10.4f} ratio  ({failed}/{attempted})")
    for q, x in sorted(res["per_query_s"].items(), key=lambda kv: -kv[1]):
        print(f"    {q:<40} {x:8.3f} s", file=sys.stderr)


def run_all(args) -> int:
    """Each workload in a fresh process; a table of every metric."""
    rc = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        sys.stdout.write("".join(proc.stdout.splitlines(keepends=True)[:-1]))
        rc = rc or proc.returncode
    return rc


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
