"""Registry-wide unpartitioned-window plan sweep.

``session._quiet_window_exec_warnings`` raises the WindowExec logger to
ERROR JVM-wide so that `WindowExec: No Partition Defined` WARN floods
cannot bury the caller's own lines on stderr.  The cost: with the log
muted, a genuinely NEW accidental global window would be silent in both
logs and tests, because the plan guards in test_plans.py are per-op
opt-in.  This module is the registry-wide backstop: every operator
constructed by tests/test_registry_parity.py::test_operator has its
physical plan swept for Window nodes whose direct input chain is satisfied
by an ``Exchange SinglePartition``, and any hit outside the explicit
allowlist below fails that op's test.

Scope note: the sweep sees the plan of the RETURNED DataFrame.  Operators
that materialize intermediates (sinks, checkpointing compositions) hide
those stages from the returned plan — their shapes are pinned by the
dedicated per-op guards in test_plans.py / test_analytics_plans.py, which
assert on the internal frames directly.
"""

from __future__ import annotations

import re

#: Ops whose returned plan LEGITIMATELY windows over a single partition,
#: with the bounded input grain that makes the pattern safe at any input
#: size (the window input is a fixed-size aggregate, never the fact table).
#: Values are the EXACT number of such windows the plan must contain
#: (assert_plan_hygiene checks equality): more fails the op for growing
#: a new global window — including one stacked directly on an existing
#: allowlisted window, now that the scan continues through nested window
#: nodes — and fewer fails it for carrying a stale entry.
UNPARTITIONED_WINDOW_ALLOWLIST: dict[str, int] = {
    # day-grain series (~tens of rows at any SF): trailing means / trend.
    # ma_crossover STACKS its short and long trailing means directly (no
    # exchange between them — the first window's SinglePartition output
    # already satisfies the second's distribution); both windows became
    # countable when the sweep learned to scan through nested windows
    # (r15 ADVICE), hence 2
    "x_ts_ma_crossover": 2,
    "x_ts_seasonal_decompose": 2,
    # month-grain lag ratio
    "x_win_period_over_period": 1,
    # 9-row leading-digit distribution
    "x_agg_benford_distribution": 1,
    # partition-count-grain prefix sums (the distributed row-number
    # shape: one row PER PARTITION crosses)
    "x_etl_global_row_number": 1,
    # the exact equal-frequency granule split: one ntile over the whole
    # lineitem total order in a single task, bounded by the fixture's size
    "x_etl_zorder_stats": 1,
    # source-grain (≤ handful of sources) cumulative shares / weights
    "x_llm_dataset_split": 1,
    "x_llm_mixture_reweight": 1,
    # vocabulary-rank regression over a bounded top-k frame
    "x_llm_zipf_fit": 1,
    # flagship composition embedding the holdout-split member above
    "flagship_corpus_health": 1,
    # churn-time grain (distinct event hours, bounded by the window span);
    # the Kaplan-Meier cumulative product stacks a second window directly
    # on the first (same bounded input, no intervening exchange) — both
    # countable since the stacked-window-aware sweep (r15 ADVICE)
    "x_ts_survival_km": 2,
}


def _node_name(line: str) -> str:
    m = re.match(r"[\s:+\-*()0-9]*([A-Za-z]\w*)", line)
    return m.group(1) if m else ""


def _indent(line: str) -> int:
    m = re.search(r"[A-Za-z]", line)
    return m.start() if m else 0


#: Window-executing node names: JVM windows AND pandas-UDF windows — a
#: WindowInPandas with no PARTITION BY funnels through one task exactly
#: like WindowExec, and its ArrowEvalPython machinery is legitimate
#: elsewhere, so only THIS sweep can catch it.
_WINDOW_NODES = ("Window", "WindowInPandas")
#: Exchange node names: a ReusedExchange line still names the reused
#: exchange's partitioning ("ReusedExchange [...], Exchange
#: SinglePartition"), so it adjudicates the chain the same way —
#: without it, Spark's default exchange reuse would hide every window
#: after the first over the same single-partition input.
_EXCHANGE_NODES = ("Exchange", "ReusedExchange")


def unpartitioned_window_hits(plan: str) -> int:
    """Count window nodes whose input chain's FIRST exchange (reused or
    not) is SinglePartition — i.e. windows whose required distribution
    funnels the input through one task.  Walks the plan tree text: for
    each window line, scan its subtree (deeper-indented following lines)
    and adjudicate on the first exchange reached; a nested window does
    NOT end the chain — the scan continues through it, so the outer
    window inherits the inner one's adjudication (r15 ADVICE: a SECOND
    global window stacked directly on an allowlisted one plans WITHOUT
    an intervening exchange, because the inner window's SinglePartition
    output already satisfies the outer's required distribution — with a
    break there, that stacked window was invisible).  Leaving the
    subtree without an exchange means the input already satisfied the
    distribution non-globally (bucketed or upstream-partitioned), which
    is fine.  Window/WindowInPandas are unary, so scanning through a
    nested window stays on the single input chain."""
    lines = plan.splitlines()
    hits = 0
    for idx, line in enumerate(lines):
        if _node_name(line) not in _WINDOW_NODES:
            continue
        wi = _indent(line)
        for nxt in lines[idx + 1:]:
            if _indent(nxt) <= wi:
                break
            nm = _node_name(nxt)
            if nm in _EXCHANGE_NODES:
                if "SinglePartition" in nxt:
                    hits += 1
                break
    return hits


def assert_plan_hygiene(name: str, df) -> None:
    """The registry-wide physical-plan backstops, one executedPlan read:

    - no Window fed by an Exchange SinglePartition outside the
      bounded-grain allowlist (the WindowExec-WARN replacement above);
    - no CartesianProduct ANYWHERE (an r15 sweep of all 274 ops found
      zero — every crossJoin in the engine broadcasts a 1-row totals
      frame or a dim, which plans as BroadcastNestedLoopJoin — so the
      budget is hard 0, not an allowlist);
    - no BatchEvalPython (row-at-a-time Python UDF) — the dynamic twin
      of test_plans' static no-F.udf scan: a plan-level catch for any
      future dependency or expression that smuggles one in.
    """
    plan = df._jdf.queryExecution().executedPlan().toString()
    hits = unpartitioned_window_hits(plan)
    allowed = UNPARTITIONED_WINDOW_ALLOWLIST.get(name, 0)
    # EXACT equality, not a ceiling: window-over-SinglePartition presence
    # is plan-structural (the exchange is inserted whenever the child's
    # output partitioning doesn't already satisfy the required
    # distribution — independent of data size), so fewer hits than
    # allowed means the entry went STALE, and a stale entry would mask
    # the next accidental global window in that op.  Remove the entry
    # when an op sheds its bounded-grain window.
    assert hits == allowed, (
        f"{name}: {hits} unpartitioned window(s) fed by Exchange "
        f"SinglePartition, allowlist expects exactly {allowed}.  "
        "More than expected: a window with no PARTITION BY funnels the "
        "whole input through one task — partition it, or (if the input "
        "is a provably bounded aggregate) raise the op's "
        "UNPARTITIONED_WINDOW_ALLOWLIST entry with its grain "
        "justification.  Fewer than expected: the allowlist entry is "
        "stale — delete or lower it so it cannot mask a future "
        "accidental global window."
    )
    assert "CartesianProduct" not in plan, (
        f"{name}: CartesianProduct in the physical plan — pair work must "
        "be blocked/banded/broadcast, never an all-pairs product"
    )
    assert "BatchEvalPython" not in plan, (
        f"{name}: row-at-a-time Python UDF (BatchEvalPython) in the hot "
        "path — use built-in Column expressions or an Arrow-batched "
        "pandas UDF"
    )
