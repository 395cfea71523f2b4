"""Operator registry backing ``__spark_entry__.queries()`` / ``oracle_sql()``.

Every operator from SURVEY.md §2 registers here with a stable id, a callable
``(spark, sf_dir) -> DataFrame`` and (when SQL-expressible) the equivalent
DuckDB oracle SQL.  The driver compares the two per-round (row count +
schema + order-insensitive value hash), so:

- every computed column is aliased identically in the Spark plan and the SQL;
- floating aggregates are rounded on both sides (sum order is
  non-deterministic under parallelism in *both* engines);
- anything order-sensitive (LIMIT, "first per key") carries an explicit
  deterministic ordering key.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .session import apply_runtime_confs

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str
    #: rows-only ops ONLY — one line on why no oracle SQL can exist, and
    #: the independent gate that pins correctness anyway.  A gate that
    #: leans on an oracle-bearing companion names that companion's id.
    why_no_oracle: str | None = None
    gate: str | None = None


_REGISTRY: dict[str, QueryDef] = {}


def register(
    name: str,
    oracle: str | None = None,
    *,
    why_no_oracle: str | None = None,
    gate: str | None = None,
) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as operator ``name`` with optional DuckDB oracle SQL.

    A rows-only registration (``oracle=None``) MUST say why no oracle is
    expressible and name its independent gate — the driver's rows-only
    check alone is too weak to claim correctness, and the requirement
    keeps any future rows-only op from landing ungated."""

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            apply_runtime_confs(spark)
            return fn(spark, sf_dir)

        if name in _REGISTRY:
            raise ValueError(f"duplicate operator id: {name}")
        if oracle is None and not (why_no_oracle and gate):
            raise ValueError(
                f"rows-only operator {name!r} must declare why_no_oracle= "
                "and gate= (see QueryDef)"
            )
        if oracle is not None and (why_no_oracle or gate):
            # symmetric rejection: an op that gains an oracle must shed the
            # rows-only metadata, or the stale gate prose would rot
            # invisibly
            raise ValueError(
                f"oracle-bearing operator {name!r} must not carry "
                "why_no_oracle=/gate= (rows-only metadata)"
            )
        _REGISTRY[name] = QueryDef(
            name, wrapped, oracle, (fn.__doc__ or "").strip(),
            why_no_oracle=why_no_oracle, gate=gate,
        )
        return fn

    return deco


def oracle_of(name: str) -> str:
    """The already-registered oracle SQL of ``name`` — for composite
    operators (flagships) that reuse member queries' oracles as
    subqueries instead of duplicating 60 lines of SQL.  Callable only
    after the member registered (i.e. from later in module import
    order), which the KeyError enforces loudly."""
    return _REGISTRY[name].oracle


def _load_all() -> None:
    """Import every module that registers operators (idempotent)."""
    from . import functions, operators, streaming  # noqa: F401
    from .functions import scalar  # noqa: F401
    from .operators import (  # noqa: F401
        bi,
        etl,
        health,
        llm,
        multimodal,
        relational,
        relevance,
        timeseries,
        tpch,
    )
    from .streaming import windows  # noqa: F401


def queries() -> dict[str, QueryFn]:
    _load_all()
    return {n: _REGISTRY[n].fn for n in sorted(_REGISTRY)}


def oracles() -> dict[str, str]:
    _load_all()
    return {
        n: _REGISTRY[n].oracle
        for n in sorted(_REGISTRY)
        if _REGISTRY[n].oracle
    }


def definitions() -> dict[str, QueryDef]:
    _load_all()
    return {n: _REGISTRY[n] for n in sorted(_REGISTRY)}
