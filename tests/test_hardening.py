"""Regression tests for the round-3 hardening pass (code-review findings):
DDL parsing, the REST page walk's page 0, xlsx edge cases, label-prop convergence
valve, broadcast reuse."""

from __future__ import annotations

import numpy as np
import pytest

from dataengineer_scripts_spark.sources.rest import _ddl_field_names


def test_ddl_field_names_handles_commas_in_types():
    assert _ddl_field_names("node_id int, price decimal(10,2)") == (
        "node_id",
        "price",
    )
    assert _ddl_field_names("a int, tags array<struct<x:int,y:int>>, b string") == (
        "a",
        "tags",
        "b",
    )
    assert _ddl_field_names("x:int, y:decimal(10,2)") == ("x", "y")


def test_cell_xml_nan_inf_and_control_chars():
    from dataengineer_scripts_spark.xlsx import _cell_xml

    assert "<v>nan</v>" not in _cell_xml("A1", float("nan"), 0)
    assert "<v>inf</v>" not in _cell_xml("A1", float("inf"), 0)
    out = _cell_xml("A1", "bad\x1b[31mansi\x00", 0)
    assert "\x1b" not in out and "\x00" not in out
    # normal numerics still numeric
    assert "<v>2.5</v>" in _cell_xml("A1", 2.5, 0)


def test_merge_ref_beyond_26_columns():
    from dataengineer_scripts_spark.sinks import build_workbook_model

    cols = [f"c{i}" for i in range(28)]
    model = build_workbook_model([{c: 1 for c in cols}], columns=cols)
    assert model["header"]["merge"] == "A1:AB1"


def test_label_propagation_converges_on_chain_within_valve(spark):
    from dataengineer_scripts_spark.operators.llm import _min_label_components

    nodes = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.cluster_id for r in _min_label_components(nodes, pairs).collect()}
    assert got == {i: 0 for i in range(5)}


def test_components_auto_switch_on_adversarial_chain(spark):
    """A 64-node chain needs 63 min-label sweeps; the sweep loop must hand
    off to the large-star/small-star alternation after its 5-sweep budget
    and still produce exact components (plus a disjoint triangle and a
    singleton to prove no cross-component merging)."""
    from dataengineer_scripts_spark.operators.llm import _min_label_components

    n = 64
    chain = [(i, i + 1) for i in range(n - 1)]
    triangle = [(100, 101), (101, 102), (100, 102)]
    node_ids = list(range(n)) + [100, 101, 102, 999]
    nodes = spark.createDataFrame([(i,) for i in node_ids], "doc_id long")
    pairs = spark.createDataFrame(chain + triangle, "doc_a long, doc_b long")
    got = {r.doc_id: r.cluster_id for r in _min_label_components(nodes, pairs).collect()}
    want = {i: 0 for i in range(n)} | {100: 100, 101: 100, 102: 100, 999: 999}
    assert got == want


def test_label_propagation_incident_guard_both_sides(spark):
    """Min-label propagation over a graph that mixes a multi-sweep path
    component, a pair, and singletons (nodes with no incident edge, which
    every sweep carries and which must keep their own label)."""
    import dataengineer_scripts_spark.operators.llm as llm

    # path 0-1-2-3 (needs 3 sweeps), pair (10,11), singletons 20/21/22
    node_ids = [0, 1, 2, 3, 10, 11, 20, 21, 22]
    nodes = spark.createDataFrame([(i,) for i in node_ids], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    want = {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10, 20: 20, 21: 21, 22: 22}

    got = {
        r.doc_id: r.cluster_id
        for r in llm._min_label_components(nodes, pairs).collect()
    }
    assert got == want


def test_two_phase_components_random_graph_matches_union_find(spark):
    """Property check: star alternation == plain union-find on a seeded
    random graph (dense enough for multi-node components, sparse enough
    for many singletons)."""
    import random

    from dataengineer_scripts_spark.operators.llm import _two_phase_components

    rng = random.Random(42)
    n, m = 60, 45
    edge_list = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {i: find(i) for i in range(n)}
    # canonicalize union-find roots to component minima
    comp_min: dict[int, int] = {}
    for i in range(n):
        r = find(i)
        comp_min[r] = min(comp_min.get(r, i), i)
    want = {i: comp_min[find(i)] for i in range(n)}

    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = spark.createDataFrame(
        [(a, b) for a, b in edge_list] + [(b, a) for a, b in edge_list],
        "src long, dst long",
    )
    got = {r.doc_id: r.cluster_id for r in _two_phase_components(nodes, edges).collect()}
    assert got == want


def test_two_phase_raises_when_rounds_exhausted(spark, monkeypatch):
    import dataengineer_scripts_spark.operators.llm as llm

    monkeypatch.setattr(llm, "TWO_PHASE_MAX_ROUNDS", 0)
    nodes = spark.createDataFrame([(0,), (1,)], "doc_id long")
    edges = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not reach a fixpoint"):
        llm._two_phase_components(nodes, edges)


def test_simhash_packed_votes_fail_past_token_limit(spark, monkeypatch):
    """A document past the packed-vote token limit must raise, not get a
    carried (wrong) signature; documents at the limit still sign.  The
    real limit is 2^31 tokens, so the test lowers it."""
    import dataengineer_scripts_spark.operators.llm as llm

    assert llm.SIMHASH_MAX_DOC_TOKENS == 2**31 - 1
    monkeypatch.setattr(llm, "SIMHASH_MAX_DOC_TOKENS", 3)
    at_limit = spark.createDataFrame(
        [(0, -1), (0, -1), (0, 0), (1, 5)], "doc_id long, h long"
    )
    assert {r.doc_id: r.sig for r in llm._simhash_sig(at_limit, 64).collect()} == {
        0: -1,
        1: 5,
    }
    over = spark.createDataFrame(
        [(7, 1)] * 4 + [(8, 2)], "doc_id long, h long"
    )
    with pytest.raises(Exception, match="document 7 has 4 tokens"):
        llm._simhash_sig(over, 64).collect()


def test_knn_query_broadcast_is_cached_and_superseded(spark):
    import dataengineer_scripts_spark.operators.llm as llm

    llm._KNN_BC_CACHE.clear()
    ids = np.array([1, 2])
    mat = np.ones((2, 4))
    b1 = llm._query_matrix_broadcast(spark, ids, mat)
    b2 = llm._query_matrix_broadcast(spark, ids, mat)
    assert b1 is b2  # identical content reuses the live broadcast
    b3 = llm._query_matrix_broadcast(spark, ids, mat * 2.0)
    assert b3 is not b1
    assert len(llm._KNN_BC_CACHE) == 1  # superseded broadcast evicted


# ---------------------------------------------------------------------------
# Round-5 hardening: TIMESTAMP_NTZ fixture robustness.  The driver
# regenerated events.parquet with a plain timestamp[us] column (no tz),
# which Spark 4 reads as TIMESTAMP_NTZ when inferTimestampNTZ is on —
# breaking withWatermark and ts arithmetic.  The engine must deliver plain
# TimestampType regardless of which parquet encoding the fixture uses.
# ---------------------------------------------------------------------------


def test_events_ts_is_plain_timestamp(spark, sf_dir):
    from pyspark.sql import types as T

    from dataengineer_scripts_spark.tables import table

    assert isinstance(table(spark, sf_dir, "events").schema["ts"].dataType, T.TimestampType)


def test_ntz_parquet_normalized_even_without_session_conf(spark, tmp_path):
    """Even if a driver-owned session read the parquet as NTZ (confs not
    yet applied), tables.table must still hand back TimestampType."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from dataengineer_scripts_spark.tables import table

    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([1_700_000_000_000_000, 1_700_000_060_000_000], pa.timestamp("us")),
            "user_id": pa.array([10, 11], pa.int64()),
            "event_type": pa.array(["a", "b"]),
            "value": pa.array([1.0, 2.0]),
            "props": pa.array(["{}", "{}"]),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    old = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    try:
        df = table(spark, str(tmp_path), "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        # UTC-pinned session: wall-clock values survive the normalization
        got = sorted(r.ts.isoformat() for r in df.select("ts").collect())
        assert got == ["2023-11-14T22:13:20", "2023-11-14T22:14:20"]
    finally:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", old)


def test_ntz_cast_branch_exercised(spark, tmp_path, monkeypatch):
    """The TimestampNTZType cast branch in tables.table is normally
    shadowed by apply_runtime_confs (which pins inferTimestampNTZ=false
    before the read).  No-op that pin so the read genuinely yields NTZ and
    the cast branch itself is what delivers TimestampType."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    import dataengineer_scripts_spark.tables as tables

    tbl = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([1_700_000_000_000_000], pa.timestamp("us")),
            "user_id": pa.array([10], pa.int64()),
            "event_type": pa.array(["a"]),
            "value": pa.array([1.0]),
            "props": pa.array(["{}"]),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    monkeypatch.setattr(tables, "apply_runtime_confs", lambda s: None)
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    try:
        # Prove the branch is reachable: a raw read under this conf is NTZ.
        raw = spark.read.parquet(str(tmp_path / "events.parquet"))
        assert isinstance(raw.schema["ts"].dataType, T.TimestampNTZType)
        df = tables.table(spark, str(tmp_path), "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        [r] = df.select("ts").collect()
        assert r.ts.isoformat() == "2023-11-14T22:13:20"
    finally:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


def test_memo_rule_hits_by_identity_and_evicts_stopped_contexts(spark, sf_dir):
    """tables.table and session_cache.session_shared share one memo rule:
    a hit returns the stored object, a miss under a new applicationId
    evicts the entries of stopped contexts, and table() never builds
    through session_shared (it would checkpoint the scan)."""
    from types import SimpleNamespace

    from dataengineer_scripts_spark import session_cache, tables

    def session(app_id):
        return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))

    built: list[object] = []

    def build():
        built.append(object())
        return built[-1]

    memo: dict = {}
    first = session_cache._memoized(memo, session("app-1"), "x/../sf", "k", build)
    assert session_cache._memoized(memo, session("app-1"), "sf", "k", build) is first
    assert len(built) == 1
    session_cache._memoized(memo, session("app-2"), "sf", "k", build)
    assert len(built) == 2 and [k[0] for k in memo] == ["app-2"]

    frames = dict(session_cache._SESSION_FRAMES)
    nation = tables.table(spark, sf_dir, "nation")
    assert tables.table(spark, sf_dir, "nation") is nation
    assert session_cache._SESSION_FRAMES == frames


def test_stream_events_ts_is_plain_timestamp(spark, sf_dir):
    from dataengineer_scripts_spark.streaming.runtime import stream_events

    assert dict(stream_events(spark, sf_dir).dtypes)["ts"] == "timestamp"


def test_rest_page0_rides_the_planning_probe():
    """The walk's page-0 fetch both reports the total and supplies the
    first page's rows: page 0 is fetched once, then each later page once."""
    from dataengineer_scripts_spark.sources.rest import _walk_pages

    seen = []

    def get(url):
        seen.append(url)
        base = 8 * int(url.split("page=")[1].split("&")[0])
        return {"total": 20, "data": [{"id": i} for i in range(base, min(20, base + 8))]}

    rows = _walk_pages(get, "http://x/list", 8)
    assert [r["id"] for r in rows] == list(range(20))
    assert seen == [f"http://x/list?page={p}&page_size=8" for p in range(3)]


def test_ntz_parquet_normalized_under_hostile_timezone(spark, tmp_path):
    """A driver-owned session pinned to a non-UTC timezone (and NTZ
    inference on) must still get UTC-instant TimestampType back —
    tables.table re-pins the engine confs itself."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from dataengineer_scripts_spark.tables import table

    tbl = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([1_700_000_000_000_000], pa.timestamp("us")),
            "user_id": pa.array([10], pa.int64()),
            "event_type": pa.array(["a"]),
            "value": pa.array([1.0]),
            "props": pa.array(["{}"]),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    try:
        df = table(spark, str(tmp_path), "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        [r] = df.select("ts").collect()
        assert r.ts.isoformat() == "2023-11-14T22:13:20"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


# --- round-8 brute-force references ----------------------------------------
# The DuckDB oracle shares each operator's FORMULATION (same blocking, same
# window arithmetic), so a formulation-level recall bug would match the
# oracle and still be wrong.  These references recompute the semantics in
# plain Python from collected fixture rows — independent of both engines.

from dataengineer_scripts_spark import registry as _registry

DEFS = _registry.definitions()


def test_prefix_dedup_blocking_loses_no_pair(spark, sf_dir):
    """O(n²) python startswith sweep == the blocked operator's pairs —
    proves the first-16-chars blocking is lossless on the fixture (every
    proper-prefix pair shares the block when the short side ≥ 16 chars;
    fixture minimum is 48)."""
    from dataengineer_scripts_spark.tables import table

    docs = {
        r.doc_id: r.text
        for r in table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    want = {
        (a, b)
        for a, ta in docs.items()
        for b, tb in docs.items()
        if len(ta) < len(tb) and tb.startswith(ta)
    }
    got = {
        (r.doc_short, r.doc_long)
        for r in DEFS["x_llm_dedup_prefix"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_funnel_counts_match_python_reference(spark, sf_dir):
    from dataengineer_scripts_spark.operators.relational import FUNNEL_STAGES
    from dataengineer_scripts_spark.tables import table

    ev = sorted(
        table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_type")
        .collect(),
        key=lambda r: (r.user_id, r.ts),
    )
    by_user: dict[int, list] = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append(r)
    n = [0, 0, 0]
    for rows in by_user.values():
        anchor = None
        for stage in range(3):
            nxt = min(
                (
                    r.ts
                    for r in rows
                    if r.event_type == FUNNEL_STAGES[stage]
                    and (anchor is None or r.ts > anchor)
                ),
                default=None,
            )
            if nxt is None:
                break
            anchor = nxt
            n[stage] += 1
    row = DEFS["x_agg_funnel"].fn(spark, sf_dir).collect()[0]
    assert (row.n_stage1, row.n_stage2, row.n_stage3) == tuple(n)


def test_rolling_distinct_matches_python_reference(spark, sf_dir):
    from dataengineer_scripts_spark.operators.relational import (
        RETENTION_EPOCH,
        ROLLING_DISTINCT_DAYS,
    )
    from dataengineer_scripts_spark.tables import table
    import datetime as dt

    epoch = dt.date.fromisoformat(RETENTION_EPOCH)
    active: dict[int, set] = {}
    for r in table(spark, sf_dir, "events").select("user_id", "ts").collect():
        d = (r.ts.date() - epoch).days
        active.setdefault(d, set()).add(r.user_id)
    days = sorted(active)
    want = {
        d: len(
            set().union(
                *(
                    active.get(d2, set())
                    for d2 in range(d - ROLLING_DISTINCT_DAYS + 1, d + 1)
                )
            )
        )
        for d in days
    }
    got = {
        r.day_idx: r.n_users_7d
        for r in DEFS["x_agg_rolling_distinct"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_asof_tolerance_matches_python_reference(spark, sf_dir):
    from dataengineer_scripts_spark.operators.relational import (
        ASOF_TOLERANCE_SEC,
    )
    from dataengineer_scripts_spark.tables import table
    import datetime as dt

    rows = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    ).collect()
    purchases: dict[int, list] = {}
    for r in rows:
        if r.event_type == "purchase":
            purchases.setdefault(r.user_id, []).append(r.ts)
    want = {}
    for r in rows:
        if r.event_type != "error":
            continue
        cands = [t for t in purchases.get(r.user_id, []) if t <= r.ts]
        if not cands:
            continue
        last = max(cands)
        if r.ts - last <= dt.timedelta(seconds=ASOF_TOLERANCE_SEC):
            gap = int(
                (r.ts - last) // dt.timedelta(microseconds=1) // 1_000_000
            )
            want[r.event_id] = (last, gap)
    got = {
        r.event_id: (r.last_purchase_ts, r.gap_sec)
        for r in DEFS["x_join_asof_tolerance"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_retention_matches_python_reference(spark, sf_dir):
    from dataengineer_scripts_spark.operators.relational import RETENTION_EPOCH
    from dataengineer_scripts_spark.tables import table
    import datetime as dt

    epoch = dt.date.fromisoformat(RETENTION_EPOCH)
    weeks: dict[int, set] = {}
    for r in table(spark, sf_dir, "events").select("user_id", "ts").collect():
        w = (r.ts.date() - epoch).days // 7
        weeks.setdefault(r.user_id, set()).add(w)
    want: dict[tuple, int] = {}
    for ws in weeks.values():
        c = min(ws)
        for w in ws:
            want[(c, w - c)] = want.get((c, w - c), 0) + 1
    got = {
        (r.cohort_week, r.week_offset): r.n_users
        for r in DEFS["x_agg_retention"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_streaks_match_python_reference(spark, sf_dir):
    from dataengineer_scripts_spark.operators.relational import RETENTION_EPOCH
    from dataengineer_scripts_spark.tables import table
    import datetime as dt

    epoch = dt.date.fromisoformat(RETENTION_EPOCH)
    days: dict[int, set] = {}
    for r in table(spark, sf_dir, "events").select("user_id", "ts").collect():
        days.setdefault(r.user_id, set()).add((r.ts.date() - epoch).days)
    want = {}
    for u, ds in days.items():
        runs, cur = [], 1
        sd = sorted(ds)
        for a, b in zip(sd, sd[1:]):
            if b == a + 1:
                cur += 1
            else:
                runs.append(cur)
                cur = 1
        runs.append(cur)
        want[u] = (len(sd), len(runs), max(runs))
    got = {
        r.user_id: (r.n_active_days, r.n_streaks, r.longest_streak)
        for r in DEFS["x_win_streaks"].fn(spark, sf_dir).collect()
    }
    assert got == want
