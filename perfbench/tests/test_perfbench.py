"""Tests of the benchmark itself: its contract file, result checker, tracer
and the layer predictions each workload was chosen for.

    python -m pytest perfbench/tests -q

The Spark-backed tests share one session; the layer-prediction test runs the
benchmark command once per workload (a minute or less each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import Counter

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _expected() -> dict:
    with open(run.EXPECTED) as fh:
        return json.load(fh)


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [(w["name"], w["why"]) for w in spec["workloads"]] == [
        (w.name, w.why) for w in WORKLOADS.values()
    ]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == run.PER_LAYER


def test_expected_values_cover_every_workload_query():
    queries = _expected()["queries"]
    for w in WORKLOADS.values():
        assert set(w.queries) <= set(queries), w.name


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    assert run.tail([float(x) for x in range(1, 101)]) == (90.0, 90.0)
    # Too few samples for any percentile above the median: report the median.
    assert run.tail([float(x) for x in range(1, 13)]) == (7.0, 7 / 12 * 100)


def test_without_the_program_the_command_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analytics", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


@pytest.fixture(scope="module")
def spark():
    run.pin_environment()
    from dataengineer_scripts_spark.session import get_spark

    session = get_spark("perfbench-tests")
    yield session
    session.stop()


def _query(name: str):
    from dataengineer_scripts_spark import registry

    return registry.definitions()[name].fn


def test_checker_accepts_the_result_and_rejects_a_corrupted_one(spark):
    from pyspark.sql import functions as F

    from pyspark.sql import types as T

    from check import digest, mismatch

    name = "x_join_anti"
    want = _expected()["queries"][name]
    df = _query(name)(spark, run.FIXTURES)
    assert mismatch(digest(df), want) is None

    # Same row count, one value changed.
    col = next(f.name for f in df.schema.fields if isinstance(f.dataType, T.IntegralType))
    one = df.orderBy(*df.columns).limit(1)
    changed = df.exceptAll(one).unionByName(one.withColumn(col, F.col(col) + 1))
    reason = mismatch(digest(changed), want)
    assert reason is not None and reason.startswith("digest")
    # A row missing.
    reason = mismatch(digest(df.exceptAll(one)), want)
    assert reason is not None and reason.startswith("rows")


def test_traced_span_count_for_one_known_query(spark):
    from check import digest
    from dataengineer_scripts_spark import tables
    from dataengineer_scripts_spark.operators import tpch
    from spans import Tracer, self_times

    original = tables.table
    fn = _query("x_tpch_q6_forecast_revenue")
    tracer = Tracer()
    tracer.install()
    try:
        assert tpch.table is not original
        with tracer.query_scope("x_tpch_q6_forecast_revenue"):
            with tracer.span("query.plan"):
                df = fn(spark, run.FIXTURES)
            with tracer.span("query.exec"):
                digest(df)
    finally:
        tracer.uninstall()
    assert tpch.table is original and tables.table is original
    # q6 reads lineitem through tables.table, once.
    assert Counter(sp[2] for sp in tracer.spans) == {
        "query": 1,
        "query.plan": 1,
        "query.exec": 1,
        "tables.table": 1,
    }
    by_id = {sp[0]: sp for sp in tracer.spans}
    for sp in tracer.spans:
        assert sp[3] == "x_tpch_q6_forecast_revenue"
        if sp[2] == "tables.table":
            assert by_id[sp[1]][2] == "query.plan"
    assert all(v >= 0 for v in self_times(tracer.spans).values())


def _traced(workload: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    return {k: v["value"] for k, v in result["metrics"].items()}


def test_each_workload_exercises_the_layers_it_was_chosen_for():
    m = {w: _traced(w) for w in WORKLOADS}
    assert m["pipeline"]["session_cache.builds"] > 0
    assert m["analytics"]["session_cache.builds"] == 0
    assert m["analytics"]["session_cache.calls"] == 0
    assert m["pipeline"]["rest.logins"] > 0
    assert m["pipeline"]["rest.reads"] > 0
    assert m["pipeline"]["rest.http_requests"] > 0
    assert m["analytics"]["rest.http_requests"] == 0
    assert m["analytics"]["streaming.microbatches"] > 0
    for w in WORKLOADS:
        assert set(m[w]) == set(run.PER_LAYER)
        assert m[w]["trace.spans"] > 0
    # Every operator module has a query in some workload.
    for mod in run.QUERY_MODULES:
        assert max(m[w][f"{mod}.queries"] for w in WORKLOADS) > 0, mod
