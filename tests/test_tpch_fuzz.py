"""Differential fuzz for the TPC-H module: random micro-warehouses.

The registry parity sweep proves Spark-vs-DuckDB agreement on the FIXED
fixtures; this file re-proves it on randomized inputs, where the
boundary semantics the fixtures can never exercise actually occur:
empty groups, all-excluded branches (a nation with no suppliers, a
blacklist that removes everyone), LIMIT windows larger than the result,
rounding ties from adversarial cent values, and orders with no line
items.  Each seed builds a complete micro-warehouse (7 random TPC-H
tables, the non-TPC-H tables symlinked from sf0.001 so the DuckDB view
set binds), then pushes EVERY oracle-bearing operator of
``operators/tpch.py`` through the same comparator the grading driver
uses — so a divergence fails with the first differing row, exactly like
a driver mismatch would.

Seeds are pinned: the point is deterministic coverage of odd shapes,
not anew-each-run randomness (which would make CI flaky and failures
unreproducible).  Money values are generated as integer cents / 100 so
both engines see bit-identical doubles, matching the suite's
decimal-accumulation convention.

The warehouse later grew a random ``events`` table (unique-microsecond
timestamps, the fixture's five event types), extending the broad batch
to the events-analytics stack — windows, sessionize, retention, funnel,
as-of joins, time series.  First blood: the broad batch's maiden run
caught a real DIVIDE_BY_ZERO in ``x_agg_regression_stats`` on a
degenerate (constant-x) random segment — a shape the fixtures cannot
produce but a 100 TB warehouse certainly will.
"""

from __future__ import annotations

import datetime as dt
import inspect
import os
import random

import pytest

from dataengineer_scripts_spark import registry

from .conftest import make_duck
from .oracle_utils import assert_matches_oracle, transitive_tables

DEFS = registry.definitions()
TPCH_IDS = sorted(
    name
    for name, d in DEFS.items()
    if inspect.unwrap(d.fn).__module__
    == "dataengineer_scripts_spark.operators.tpch"
    and d.oracle is not None
)

_ADJ = ["small", "red", "blue", "hot", "big"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo"]
_TYPES = ["ECONOMY", "STANDARD", "LARGE", "MEDIUM", "SMALL", "PROMO"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _date(rng: random.Random) -> dt.datetime:
    return dt.datetime(
        rng.randint(1995, 2001), rng.randint(1, 12), rng.randint(1, 28)
    )


def _cents(rng: random.Random, lo: int, hi: int) -> float:
    return rng.randint(lo, hi) / 100.0


def _write(sf: str, name: str, cols: dict[str, tuple[str, list]]) -> None:
    """Single-FILE parquet via pyarrow: DuckDB's fixture views read
    ``{dir}/{table}.parquet`` as one file (the testdata layout), while
    a Spark write would produce a directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    kind = {
        "i32": pa.int32(),
        "i64": pa.int64(),
        "f64": pa.float64(),
        "str": pa.string(),
        "ts": pa.timestamp("us"),
    }
    table = pa.table(
        {c: pa.array(vals, type=kind[k]) for c, (k, vals) in cols.items()}
    )
    pq.write_table(table, f"{sf}/{name}.parquet")


def _build_warehouse(rng: random.Random, sf: str) -> None:
    n_supp = rng.randint(4, 10)
    n_cust = rng.randint(8, 25)
    n_part = rng.randint(12, 40)
    n_ord = rng.randint(25, 60)
    n_li = rng.randint(80, 200)

    _write(sf, "region", {
        "r_regionkey": ("i32", list(range(5))),
        "r_name": ("str", _REGIONS),
    })
    _write(sf, "nation", {
        "n_nationkey": ("i32", list(range(25))),
        "n_name": ("str", [f"NATION_{i}" for i in range(25)]),
        "n_regionkey": ("i32", [rng.randint(0, 4) for _ in range(25)]),
    })
    _write(sf, "supplier", {
        "s_suppkey": ("i64", list(range(n_supp))),
        "s_name": ("str", [f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": ("i32", [rng.randint(0, 24) for _ in range(n_supp)]),
        # negative balances must OCCUR so Q16's blacklist and Q2's
        # acctbal ordering see both signs
        "s_acctbal": ("f64", [_cents(rng, -500_00, 9999_99) for _ in range(n_supp)]),
    })
    _write(sf, "customer", {
        "c_custkey": ("i64", list(range(n_cust))),
        "c_name": ("str", [f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": ("i32", [rng.randint(0, 24) for _ in range(n_cust)]),
        "c_acctbal": ("f64", [_cents(rng, -999_99, 9999_99) for _ in range(n_cust)]),
        "c_mktsegment": ("str", [rng.choice(_SEGMENTS) for _ in range(n_cust)]),
    })
    _write(sf, "part", {
        "p_partkey": ("i64", list(range(n_part))),
        "p_name": ("str", [f"{rng.choice(_ADJ)} {rng.choice(_NOUN)}" for _ in range(n_part)]),
        "p_brand": ("str", [f"Brand#{rng.randint(1, 25)}" for _ in range(n_part)]),
        "p_type": ("str", [rng.choice(_TYPES) for _ in range(n_part)]),
        "p_size": ("i32", [rng.randint(1, 50) for _ in range(n_part)]),
        "p_retailprice": ("f64", [_cents(rng, 100_00, 2000_00) for _ in range(n_part)]),
    })
    _write(sf, "orders", {
        "o_orderkey": ("i64", list(range(n_ord))),
        "o_custkey": ("i64", [rng.randrange(n_cust) for _ in range(n_ord)]),
        "o_orderstatus": ("str", [rng.choice(["F", "O", "P"]) for _ in range(n_ord)]),
        "o_totalprice": ("f64", [_cents(rng, 1000_00, 50000_00) for _ in range(n_ord)]),
        "o_orderdate": ("ts", [_date(rng) for _ in range(n_ord)]),
        "o_orderpriority": ("str", [rng.choice(_PRIOS) for _ in range(n_ord)]),
    })
    _write(sf, "lineitem", {
        "l_orderkey": ("i64", [rng.randrange(n_ord) for _ in range(n_li)]),
        "l_partkey": ("i64", [rng.randrange(n_part) for _ in range(n_li)]),
        "l_suppkey": ("i64", [rng.randrange(n_supp) for _ in range(n_li)]),
        "l_linenumber": ("i32", [rng.randint(1, 7) for _ in range(n_li)]),
        "l_quantity": ("f64", [float(rng.randint(1, 50)) for _ in range(n_li)]),
        "l_extendedprice": ("f64", [_cents(rng, 100_00, 99999_99) for _ in range(n_li)]),
        "l_discount": ("f64", [rng.randint(0, 10) / 100.0 for _ in range(n_li)]),
        "l_tax": ("f64", [rng.randint(0, 8) / 100.0 for _ in range(n_li)]),
        "l_returnflag": ("str", [rng.choice(["R", "N", "A"]) for _ in range(n_li)]),
        "l_linestatus": ("str", [rng.choice(["F", "O"]) for _ in range(n_li)]),
        "l_shipdate": ("ts", [_date(rng) for _ in range(n_li)]),
    })
    # events: the whole events-analytics stack (windows, sessionize,
    # retention, funnel, as-of joins, time series) fuzzes over this.
    # Timestamps are globally UNIQUE microseconds — the registry's
    # order-sensitive ops carry deterministic keys, but uniqueness here
    # keeps a tie in the RANDOM data from masquerading as an engine
    # divergence.  Span covers a month boundary.
    n_users = rng.randint(8, 20)
    n_ev = rng.randint(150, 400)
    t0 = dt.datetime(2024, 1, 1)
    span_us = 40 * 24 * 3600 * 1_000_000
    offs: set[int] = set()
    while len(offs) < n_ev:
        offs.add(rng.randrange(span_us))
    _write(sf, "events", {
        "event_id": ("i64", list(range(n_ev))),
        "ts": ("ts", [t0 + dt.timedelta(microseconds=o) for o in sorted(offs)]),
        "user_id": ("i64", [rng.randrange(n_users) for _ in range(n_ev)]),
        "event_type": ("str", [
            rng.choice(["click", "view", "purchase", "signup", "error"])
            for _ in range(n_ev)
        ]),
        "value": ("f64", [_cents(rng, 1, 50000) for _ in range(n_ev)]),
        "props": ("str", [
            '{"k": ' + str(rng.randint(0, 99)) + "}" for _ in range(n_ev)
        ]),
    })
    # the comparator's DuckDB view set binds every fixture table; the
    # corpus tables are irrelevant to these queries, so symlink sf0.001
    for name in ("documents", "embeddings"):
        os.symlink(
            f"/root/testdata/sf0.001/{name}.parquet", f"{sf}/{name}.parquet"
        )


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_tpch_suite_matches_oracle_on_random_warehouse(spark, tmp_path, seed):
    sf = str(tmp_path)
    _build_warehouse(random.Random(0xD1CE + seed), sf)
    con = make_duck(sf)
    try:
        nonempty = 0
        for name in TPCH_IDS:
            df = DEFS[name].fn(spark, sf)
            assert_matches_oracle(df, con, DEFS[name].oracle, name)
            nonempty += bool(df.head(1))
        # the fuzz must not silently degenerate into comparing empty
        # results: with these pinned seeds well over half the suite
        # produces rows (empty results still compare above — they are
        # the POINT for branch coverage — but not for every query)
        assert nonempty >= len(TPCH_IDS) // 2, (
            f"seed {seed}: only {nonempty}/{len(TPCH_IDS)} non-empty"
        )
    finally:
        con.close()


# Every oracle-bearing op whose table reads (followed TRANSITIVELY
# through module helpers — tests/oracle_utils.transitive_tables, the
# resolver shared with the corpus fuzz) fall inside the randomized
# eight-table warehouse.  Effectful ops are excluded: their subjects are
# side effects, pinned by their own tests, and they would add
# Derby/tmp-artifact/HTTP-server churn here — the name-prefixed families
# (snk_*/src_*/exec_*) plus flagship_sync (REST read + HTTP POST fan-out
# against a per-call stub server; same class, different name).
BROAD_IDS = sorted(
    name
    for name, d in DEFS.items()
    if d.oracle is not None
    and not name.startswith(("snk_", "src_", "exec_"))
    and name != "flagship_sync"
    # tpch has its own multi-seed test; streaming ops' subject is the
    # streaming RUNTIME (micro-batch boundaries), pinned in
    # test_streaming.py — a batch-table fuzz would test the wrong thing
    and inspect.unwrap(d.fn).__module__.rsplit(".", 1)[-1]
    not in ("tpch", "windows")
    and (tabs := transitive_tables(d.fn)) is not None
    and tabs
    and tabs <= {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events",
    }
)

# Pin the count (r16 ADVICE): enrollment is derived by source-scanning,
# so a refactor the resolver cannot follow would silently drop ops from
# fuzz coverage with no other signal.  A legitimate registry change
# updates the pin consciously; silent shrinkage fails loudly instead.
# 138 direct-read ops + x_graph_pagerank and x_etl_global_row_number,
# whose reads the r16 direct-only scan missed (helper / line-wrapped
# table() calls) — recovered by the transitive upgrade, r17.
assert len(BROAD_IDS) == 140, (
    f"BROAD_IDS enrollment changed: {len(BROAD_IDS)} != 140 — if the "
    "registry legitimately grew/shrank, update the pin; if not, a "
    "refactor just silently dropped ops from fuzz coverage"
)


@pytest.mark.parametrize(
    "seed",
    [
        0xB40AD,
        0x62,
        # 0x65's half-tie finder stays as an opt-in soak leg (r20 suite
        # budget; VERIFY_r19 shows the driver's pytest truncating inside
        # THIS block at ~91%): the decimal-cast Σxy half-tie it pinned is
        # fixed in code and its op surface is identical to the two
        # default legs — run it with `pytest -m soak`.
        pytest.param(0x65, marks=pytest.mark.soak),
    ],
)
def test_broad_suite_matches_oracle_on_random_warehouse(spark, tmp_path, seed):
    """Broad batch: every fixture-table-only oracle op from the other
    modules (joins, sets, subqueries, windows, aggregates, ETL
    transforms, BI stats) against a random warehouse — input-space
    parity beyond the module the warehouse was designed for.  The seeds
    are the ones that each caught a REAL bug on their maiden run, kept
    as regression pins for the exact-integer-moment rewrite they
    forced: 0xB40AD produced a single-point segment (zero variance →
    DIVIDE_BY_ZERO in x_agg_regression_stats); 0x62 hit DuckDB's hard
    sqrt(−ε) error in x_ts_autocorrelation AND an engine value
    divergence in regression_stats; 0x65 made the engines disagree on
    which SIDE of zero a constant-x segment's ulp-noise variance landed
    (slope 0.0 vs 4.0 — a decimal-cast half-tie in Σxy).  (Seed 0x53,
    the original sqrt(−ε) finder, is subsumed by 0x62's same-class
    coverage.)"""
    sf = str(tmp_path)
    _build_warehouse(random.Random(seed), sf)
    con = make_duck(sf)
    try:
        nonempty = 0
        for name in BROAD_IDS:
            df = DEFS[name].fn(spark, sf)
            assert_matches_oracle(df, con, DEFS[name].oracle, name)
            nonempty += bool(df.head(1))
        assert nonempty >= len(BROAD_IDS) // 2, (
            f"seed {seed}: only {nonempty}/{len(BROAD_IDS)} non-empty"
        )
    finally:
        con.close()


# ---------------------------------------------------------------------
# Adversarial whole-warehouse shapes (r17): entire fact tables collapsed
# to one extreme.  empty_facts caught nothing new to fix but DOCUMENTS a
# genuine engine-level semantic divergence (see the exclusion below);
# one_user_events caught x_agg_ab_test throwing on an empty test arm
# (every user hashing to one side — any single-user shard at scale).
# ---------------------------------------------------------------------

_EMPTY_FACT_COLS = {
    "lineitem": [
        ("l_orderkey", "i64"), ("l_partkey", "i64"), ("l_suppkey", "i64"),
        ("l_linenumber", "i32"), ("l_quantity", "f64"),
        ("l_extendedprice", "f64"), ("l_discount", "f64"), ("l_tax", "f64"),
        ("l_returnflag", "str"), ("l_linestatus", "str"), ("l_shipdate", "ts"),
    ],
    "orders": [
        ("o_orderkey", "i64"), ("o_custkey", "i64"), ("o_orderstatus", "str"),
        ("o_totalprice", "f64"), ("o_orderdate", "ts"),
        ("o_orderpriority", "str"),
    ],
    "events": [
        ("event_id", "i64"), ("ts", "ts"), ("user_id", "i64"),
        ("event_type", "str"), ("value", "f64"), ("props", "str"),
    ],
}

#: Excluded from the empty-facts case ONLY: on an EMPTY input relation,
#: Spark's Expand-based CUBE/ROLLUP produces ZERO rows while DuckDB (and
#: PostgreSQL, per the SQL standard's grand-total () grouping set)
#: produces ONE all-NULL grand-total row.  Verified engine-level with a
#: minimal probe (r17): `spark.createDataFrame([], ...).cube(...).agg()`
#: → 0 rows vs `GROUP BY CUBE(...)` on an empty DuckDB table → 1 row.
#: Not a defect in these ops — their spec is Spark's DataFrame
#: cube/rollup semantics, and both engines agree on EVERY non-empty
#: input (the 3-seed broad batch covers those).
_EMPTY_INPUT_GROUPING_SETS_DIVERGENCE = {"x_agg_cube", "x_agg_rollup"}


def _adv_empty_facts(rng, sf):
    _build_warehouse(rng, sf)
    for t, cols in _EMPTY_FACT_COLS.items():
        _write(sf, t, {c: (k, []) for c, k in cols})


def _adv_one_user_events(rng, sf):
    _build_warehouse(rng, sf)
    n = 200
    t0 = dt.datetime(2024, 1, 1)
    offs = sorted(rng.sample(range(40 * 24 * 3600 * 1_000_000), n))
    _write(sf, "events", {
        "event_id": ("i64", list(range(n))),
        "ts": ("ts", [t0 + dt.timedelta(microseconds=o) for o in offs]),
        "user_id": ("i64", [7] * n),       # ONE user
        "event_type": ("str", ["click"] * n),  # one type
        "value": ("f64", [5.0] * n),       # constant value
        "props": ("str", ['{"k": 1}'] * n),
    })


def _adv_dup_timestamps(rng, sf):
    """200 events over only 8 distinct timestamps — the base generator
    deliberately makes timestamps UNIQUE (so random ties can't
    masquerade as divergence), which means incomplete ordering
    tiebreaks and zero-duration intervals were never exercised.  Caught
    x_ts_time_weighted_avg throwing on an all-simultaneous user-day
    (zero total duration → 0/0)."""
    _build_warehouse(rng, sf)
    n = 200
    t0 = dt.datetime(2024, 1, 15)
    stamps = [t0 + dt.timedelta(hours=h * 37) for h in range(8)]
    _write(sf, "events", {
        "event_id": ("i64", list(range(n))),
        "ts": ("ts", [stamps[rng.randrange(8)] for _ in range(n)]),
        "user_id": ("i64", [rng.randrange(12) for _ in range(n)]),
        "event_type": ("str", [
            rng.choice(["click", "view", "purchase", "signup", "error"])
            for _ in range(n)
        ]),
        "value": ("f64", [rng.randint(1, 50000) / 100.0 for _ in range(n)]),
        "props": ("str", [
            '{"k": ' + str(rng.randint(0, 99)) + "}" for _ in range(n)
        ]),
    })


def _adv_same_date_orders(rng, sf):
    _build_warehouse(rng, sf)
    n = 50
    _write(sf, "orders", {
        "o_orderkey": ("i64", list(range(n))),
        "o_custkey": ("i64", [3] * n),     # one customer
        "o_orderstatus": ("str", ["F"] * n),
        "o_totalprice": ("f64", [100.0] * n),  # constant price
        "o_orderdate": ("ts", [dt.datetime(1996, 6, 15)] * n),
        "o_orderpriority": ("str", ["1-URGENT"] * n),
    })


#: Which tables each adversarial shape mutates; each shape run enrolls
#: only ops whose TRANSITIVE read set intersects them (r20 suite-budget
#: trim, same rationale as the corpus shapes): an op that never reads a
#: mutated table sees the plain 0xBEEF random warehouse — the input
#: class the seeded broad batch above already covers — so re-running it
#: per shape was redundant baseline coverage.
_WAREHOUSE_SHAPE_TABLES = {
    _adv_empty_facts: {"orders", "lineitem", "events"},
    _adv_one_user_events: {"events"},
    _adv_dup_timestamps: {"events"},
    _adv_same_date_orders: {"orders"},
}


@pytest.mark.parametrize(
    "shape",
    [_adv_empty_facts, _adv_one_user_events, _adv_dup_timestamps,
     _adv_same_date_orders],
    ids=["empty_facts", "one_user_events", "dup_timestamps",
         "same_date_orders"],
)
def test_warehouse_suite_survives_adversarial_shape(spark, tmp_path, shape):
    sf = str(tmp_path)
    shape(random.Random(0xBEEF), sf)
    con = make_duck(sf)
    skip = (
        _EMPTY_INPUT_GROUPING_SETS_DIVERGENCE
        if shape is _adv_empty_facts
        else set()
    )
    mutated = _WAREHOUSE_SHAPE_TABLES[shape]

    def reads_mutated(name: str) -> bool:
        # an id whose reads the resolver cannot see (the derived-partsupp
        # TPC-H queries) may read the mutated table, so it runs
        tables = transitive_tables(DEFS[name].fn)
        return tables is None or bool(mutated & tables)

    enrolled = [n for n in list(TPCH_IDS) + list(BROAD_IDS) if reads_mutated(n)]
    # a resolver regression must shrink coverage loudly, not silently:
    # every TPC-H query reads orders or lineitem, or is unresolved
    if shape is _adv_empty_facts:
        missing = sorted(set(TPCH_IDS) - set(enrolled))
        assert not missing, missing
    try:
        for name in enrolled:
            if name in skip:
                continue
            df = DEFS[name].fn(spark, sf)
            assert_matches_oracle(df, con, DEFS[name].oracle, name)
    finally:
        con.close()


def test_regression_stats_degenerate_segments_yield_null(spark, tmp_path):
    """Deterministic pin of the degenerate-regression branch the fuzz
    found: a single-order segment and a constant-balance segment must
    answer NULL slope/intercept/corr (SQL regr_slope semantics), not
    throw, while a healthy segment still regresses."""
    sf = str(tmp_path)
    _write(sf, "customer", {
        "c_custkey": ("i64", [0, 1, 2, 3]),
        "c_name": ("str", ["A", "B", "C", "D"]),
        "c_nationkey": ("i32", [0, 0, 0, 0]),
        # MACHINERY: two customers, SAME balance (constant x);
        # BUILDING: one customer (n=1); FURNITURE: healthy variance
        "c_acctbal": ("f64", [100.0, 100.0, 55.0, 10.0]),
        "c_mktsegment": ("str",
                         ["MACHINERY", "MACHINERY", "BUILDING", "FURNITURE"]),
    })
    _write(sf, "orders", {
        "o_orderkey": ("i64", list(range(6))),
        "o_custkey": ("i64", [0, 1, 2, 3, 3, 3]),
        "o_orderstatus": ("str", ["F"] * 6),
        "o_totalprice": ("f64", [10.0, 20.0, 30.0, 1.0, 2.0, 3.0]),
        "o_orderdate": ("ts", [dt.datetime(1996, 1, 1)] * 6),
        "o_orderpriority": ("str", ["5-LOW"] * 6),
    })
    rows = {
        r.segment: r
        for r in DEFS["x_agg_regression_stats"].fn(spark, sf).collect()
    }
    assert rows["MACHINERY"].slope is None
    assert rows["MACHINERY"].corr is None
    assert rows["BUILDING"].slope is None
    # FURNITURE has one x value (10.0) for three orders — constant x
    # again, but through a MULTI-ORDER path
    assert rows["FURNITURE"].slope is None
