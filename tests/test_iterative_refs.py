"""Independent Python references for the round-9 iterative/statistical
operators: PageRank re-run in pure Python over the same edge set, and the
Kaplan-Meier curve recomputed from raw events with pandas — both checked
against the operators' Spark output (the DuckDB oracle already checks
cross-engine parity; these check the MATH against a third, loop-free
implementation)."""

from __future__ import annotations

import math
import re

import pandas as pd

from dataengineer_scripts_spark import registry
from dataengineer_scripts_spark.operators.bi import (
    PAGERANK_CHECK_EVERY,
    PAGERANK_DAMPING,
    PAGERANK_EPS,
    PAGERANK_ITERS,
    PAGERANK_MAX_ITERS,
)

DEFS = registry.definitions()


def _pure_python_pagerank_graph(spark, sf_dir):
    """The rank-cut affinity digraph rebuilt in pandas — ONE copy shared
    by both PageRank reference tests, so a future change to the cut rule
    cannot silently leave one test validating a different graph."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").toPandas()
    part = spark.read.parquet(f"{sf_dir}/part.parquet").toPandas()
    ob = (
        li.merge(part, left_on="l_partkey", right_on="p_partkey")[
            ["l_orderkey", "p_brand"]
        ]
        .drop_duplicates()
    )
    co = ob.merge(ob, on="l_orderkey")
    co = co[co.p_brand_x != co.p_brand_y]
    cnt = co.groupby(["p_brand_x", "p_brand_y"]).size().reset_index(name="c")
    # top-2 per src, count desc then dst asc
    cnt = cnt.sort_values(["p_brand_x", "c", "p_brand_y"],
                          ascending=[True, False, True])
    edges = cnt.groupby("p_brand_x").head(2)[["p_brand_x", "p_brand_y"]]
    edges = edges.rename(columns={"p_brand_x": "src", "p_brand_y": "dst"})
    both = pd.concat([edges, edges.rename(columns={"src": "dst", "dst": "src"})])
    deg = both.groupby("src").size().to_dict()
    nodes = sorted(set(both.src) | set(both.dst))
    return both, deg, nodes


def _pure_python_pagerank_step(both, deg, nodes, r):
    """One power iteration, damping taken from the SAME constant as the
    operator (single-sourced this round — hardcoding 0.15/0.85 here
    would break both reference tests the moment the constant moves)."""
    n = len(nodes)
    s = {b: 0.0 for b in nodes}
    for _, row in both.iterrows():
        s[row.dst] += r[row.src] / deg[row.src]
    return {
        b: round((1.0 - PAGERANK_DAMPING) / n + PAGERANK_DAMPING * s[b], 12)
        for b in nodes
    }


def test_pagerank_matches_pure_python(spark, sf_dir):
    both, deg, nodes = _pure_python_pagerank_graph(spark, sf_dir)
    n = len(nodes)
    r = {b: 1.0 / n for b in nodes}
    for _ in range(PAGERANK_ITERS):
        r = _pure_python_pagerank_step(both, deg, nodes, r)
    out = {
        row["brand"]: row["pagerank"]
        for row in DEFS["x_graph_pagerank"].fn(spark, sf_dir).collect()
    }
    assert set(out) == set(nodes)
    for b in nodes:
        assert abs(out[b] - round(r[b], 6)) < 2e-6, (b, out[b], r[b])


def test_pagerank_converged_matches_pure_python_fixpoint(spark, sf_dir):
    both, deg, nodes = _pure_python_pagerank_graph(spark, sf_dir)
    n = len(nodes)
    r = {b: 1.0 / n for b in nodes}
    iters = 0
    # mirror the operator's block cadence: probe the delta across each
    # PAGERANK_CHECK_EVERY-step block, not per step
    while iters < PAGERANK_MAX_ITERS:
        block_start = dict(r)
        for _ in range(PAGERANK_CHECK_EVERY):
            r = _pure_python_pagerank_step(both, deg, nodes, r)
        iters += PAGERANK_CHECK_EVERY
        if max(abs(r[b] - block_start[b]) for b in nodes) < PAGERANK_EPS:
            break
    rows = DEFS["x_graph_pagerank_converged"].fn(spark, sf_dir).collect()
    out = {row["brand"]: row for row in rows}
    assert set(out) == set(nodes)
    # the loop must actually have converged, not hit the cap, and in
    # MORE iterations than the unrolled twin's 3 (else the fixpoint op
    # attests nothing the unrolled one doesn't)
    n_iters = {row["n_iters"] for row in rows}
    assert n_iters == {iters}, (n_iters, iters)
    assert PAGERANK_CHECK_EVERY < iters < PAGERANK_MAX_ITERS, iters
    for b in nodes:
        assert abs(out[b]["pagerank"] - round(r[b], 6)) < 2e-6, (
            b, out[b]["pagerank"], r[b],
        )


def _scala_iter(coll):
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


def test_pagerank_converged_loop_job_budget(spark, sf_dir):
    """The convergence loop must run ONE collect per 5-iteration block:
    endpoint ranks and the delta probe ride the same query, and the
    next block's ranks are rebuilt on the driver as a local frame that
    schedules no job of its own.  Counted structurally, by SQL
    execution: every job of a block's collect (the result job plus the
    per-step broadcast builds it triggers) carries the ``collect at
    …bi.py`` call site, and those jobs must fall into exactly one
    execution per block.  Outside the blocks only the loop's fixed
    set-up — the node-count ``first`` and the initial rank
    ``localCheckpoint`` — may schedule jobs, so anything that adds work
    per block (a second probe, an eager block checkpoint, a rebuild that
    runs a job) fails here."""
    from dataengineer_scripts_spark.operators.bi import _pagerank_graph

    # materialize the session-shared graph OUTSIDE the counted group
    edges, deg, nodes, trans = _pagerank_graph(spark, sf_dir)
    nodes.first()
    trans.count()
    sc = spark.sparkContext
    group = "prc-job-budget"
    sc.setJobGroup(group, "pagerank_converged loop job budget")
    try:
        out = DEFS["x_graph_pagerank_converged"].fn(spark, sf_dir)
        rows = out.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_blocks = max(1, rows[0]["n_iters"] // PAGERANK_CHECK_EVERY)

    tracker = sc.statusTracker()
    group_jobs = set(tracker.getJobIdsForGroup(group))

    def call_site(job_id):  # the result stage is the job's last-created one
        return tracker.getStageInfo(max(tracker.getJobInfo(job_id).stageIds)).name

    names = {j: call_site(j) for j in group_jobs}
    block_jobs = {
        j for j, name in names.items() if re.fullmatch(r"collect at .*bi\.py:\d+", name)
    }
    store = spark._jsparkSession.sharedState().statusStore()
    block_executions = {
        e.executionId()
        for e in _scala_iter(store.executionsList())
        if block_jobs & set(_scala_iter(e.jobs().keySet()))
    }
    assert len(block_executions) == n_blocks, (block_executions, n_blocks)
    # this test's own collect of the result is not part of the loop
    setup = {
        j: name
        for j, name in names.items()
        if j not in block_jobs and "test_iterative_refs.py" not in name
    }
    assert len(setup) <= 2, setup


def test_survival_km_matches_pandas_reference(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").toPandas()
    ev["h"] = pd.to_datetime(ev.ts).dt.floor("h")
    ud = ev[["user_id", "h"]].drop_duplicates()
    life = ud.groupby("user_id")["h"].agg(["min", "max"])
    life["t"] = ((life["max"] - life["min"]).dt.total_seconds() // 3600).astype(int)
    end = ud.h.max()
    life["ev"] = (
        (end - life["max"]).dt.total_seconds() // 3600 >= 72
    ).astype(int)
    grid = (
        life.groupby("t")
        .agg(d_t=("ev", "sum"), leaving=("ev", "size"))
        .sort_index()
    )
    n_at_risk = grid.leaving[::-1].cumsum()[::-1]
    surv, acc = {}, 0.0
    for t in grid.index:
        d, nrisk = grid.d_t[t], n_at_risk[t]
        if d > 0:
            acc += math.log(1.0 - d / nrisk)
        surv[t] = round(math.exp(acc), 6)
    out = {
        r["lifetime_hours"]: r
        for r in DEFS["x_ts_survival_km"].fn(spark, sf_dir).collect()
    }
    assert set(out) == set(surv)
    for t in surv:
        assert out[t]["n_at_risk"] == int(n_at_risk[t]), t
        assert abs(out[t]["survival"] - surv[t]) < 2e-6, t
