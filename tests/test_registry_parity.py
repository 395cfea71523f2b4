"""Every registered operator with an oracle must hash-match DuckDB — the
local twin of the driver's CORRECTNESS gate (sf0.001 for speed; the driver
runs sf0.01)."""

from __future__ import annotations

import pytest

from dataengineer_scripts_spark import registry

from .oracle_utils import assert_matches_oracle
from .plan_sweep import UNPARTITIONED_WINDOW_ALLOWLIST, assert_plan_hygiene

DEFS = registry.definitions()


@pytest.mark.parametrize("name", sorted(DEFS))
def test_operator(name, spark, duck, sf_dir):
    qd = DEFS[name]
    df = qd.fn(spark, sf_dir)
    # registry-wide scale backstops (r14 ADVICE): no NEW window may funnel
    # its input through a SinglePartition exchange — the WindowExec WARN
    # that would have hinted at it is muted to keep stderr readable
    # (session._quiet_window_exec_warnings), so the plan sweep is the
    # detector now (allowlisted ops are bounded-grain by construction) —
    # and no op may plan a CartesianProduct or row-at-a-time Python UDF.
    assert_plan_hygiene(name, df)
    if qd.oracle is None:
        assert df.count() >= 0  # rows-only check, mirrors the driver
    else:
        assert_matches_oracle(df, duck, qd.oracle, name)


def test_unpartitioned_window_allowlist_is_registered_and_tight():
    """Every allowlisted id must exist (a typo would silently allow a
    future op of that name) and carry a positive count.  Staleness is
    enforced by the sweep itself: assert_plan_hygiene requires EXACT
    equality with the allowlisted count, so an entry whose op shed its
    bounded-grain window fails that op's parity test until the entry is
    removed — a stale entry can never mask a future global window."""
    unknown = [n for n in UNPARTITIONED_WINDOW_ALLOWLIST if n not in DEFS]
    assert not unknown, f"allowlisted ids not in registry: {unknown}"
    assert all(v >= 1 for v in UNPARTITIONED_WINDOW_ALLOWLIST.values())


def test_type_guard_catches_uncast_integer_sum(spark, duck, sf_dir):
    """The r06 driver-hash failure class: DuckDB integer ``sum()`` returns
    HUGEINT (Arrow ``decimal128(38,0)``) while Spark returns ``bigint``;
    values compare equal at the Python level so only a type-level check can
    see it.  ``assert_matches_oracle`` must now flag an intentionally
    uncast sum — and pass once it is cast ``::BIGINT``."""
    import pyspark.sql.functions as F

    from dataengineer_scripts_spark.tables import table

    df = table(spark, sf_dir, "documents").agg(
        F.sum("n_chars").alias("s")
    )
    with pytest.raises(AssertionError, match="type-kind mismatch"):
        assert_matches_oracle(
            df, duck, "SELECT sum(n_chars) AS s FROM documents", "scratch"
        )
    assert_matches_oracle(
        df, duck, "SELECT sum(n_chars)::BIGINT AS s FROM documents", "scratch"
    )


def test_non_scalar_guard_rejects_array_output(spark, duck, sf_dir):
    """The r07 driver-ERR class: the grading driver's pandas canonicalizer
    cannot sort/hash array-typed cells, so an oracle-checked operator
    emitting ``array<...>`` (or map/struct) ERRs at grading time even when
    the values match.  ``assert_matches_oracle`` must reject such outputs
    — not tuple-coerce them like the pre-r08 ``_norm`` did — so local
    sweeps predict the driver."""
    import pyspark.sql.functions as F

    from dataengineer_scripts_spark.tables import table

    df = (
        table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sort_array(F.collect_set("lang")).alias("langs"))
    )
    sql = "SELECT source, list_sort(list(DISTINCT lang)) AS langs FROM documents GROUP BY source"
    with pytest.raises(AssertionError, match="non-scalar"):
        assert_matches_oracle(df, duck, sql, "scratch")
    # struct output must be rejected too, even one-sided
    df2 = table(spark, sf_dir, "documents").select(
        "doc_id", F.struct("source", "lang").alias("meta")
    )
    with pytest.raises(AssertionError, match="non-scalar"):
        assert_matches_oracle(
            df2, duck, "SELECT doc_id, source AS meta FROM documents", "scratch"
        )


def test_every_oracle_checked_operator_emits_scalar_columns_only():
    """Static registry-wide restatement of the guard: no oracle SQL may
    produce a list/map/struct column.  (The dynamic twin runs implicitly:
    ``test_operator`` routes every oracle-checked op through
    ``assert_matches_oracle``, which now rejects non-scalar Spark-side
    columns too.)"""
    from .conftest import make_duck
    from .oracle_utils import duck_arrow_types, non_scalar_columns

    con = make_duck("/root/testdata/sf0.001")
    bad = {}
    for name, qd in DEFS.items():
        if qd.oracle is None:
            continue
        ns = non_scalar_columns(duck_arrow_types(con, qd.oracle))
        if ns:
            bad[name] = ns
    assert not bad, f"oracle SQL with non-scalar output columns: {bad}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) >= 3


# ---------------------------------------------------------------------
# transitive_tables resolver (r19: AST walk).  These helpers must live at
# module scope — inspect.getsource needs real on-disk source.
# ---------------------------------------------------------------------


def _res_direct(spark, sf_dir):
    from dataengineer_scripts_spark.tables import table

    return table(spark, sf_dir, "nation")


def _res_kwargs(spark, sf_dir):
    # the r18 ADVICE escape: keyword-argument call form, invisible to the
    # old regexes, resolved by the AST walk
    from dataengineer_scripts_spark.tables import table

    return table(spark=spark, sf_dir=sf_dir, name="region")


def _res_composed(spark, sf_dir):
    a = _res_direct(spark, sf_dir)
    b = _res_kwargs(spark, sf_dir)
    return a.join(b)


def _res_dynamic(spark, sf_dir):
    from dataengineer_scripts_spark.tables import table

    name = "nat" + "ion"  # non-literal: cannot be enumerated statically
    return table(spark, sf_dir, name)


def _res_unresolvable(spark, sf_dir):
    fns = [_res_direct]
    return fns[0](spark, sf_dir)  # dynamic callee threading (spark, sf_dir)


def test_transitive_tables_follows_all_call_forms():
    from .oracle_utils import transitive_tables

    assert transitive_tables(_res_direct) == {"nation"}
    assert transitive_tables(_res_kwargs) == {"region"}
    assert transitive_tables(_res_composed) == {"nation", "region"}


def test_transitive_tables_refuses_dynamic_reads():
    """A read set that can't be fully enumerated must resolve to None
    (caller EXCLUDES the op) — never a silent underestimate."""
    from .oracle_utils import transitive_tables

    assert transitive_tables(_res_dynamic) is None
    assert transitive_tables(_res_unresolvable) is None
