"""Session-scoped materialization cache shared across operator modules.

Several registered queries recompute identical frames (the corpus shingle
build, the near-dup pair list, the PageRank affinity graph).  In one
bench/driver session the dedup family used to run the shingle self-join
three times over; sharing the ``localCheckpoint``-ed frame makes each
build once-per-session.  Keyed by (applicationId, sf_dir, frame) so a
restarted SparkContext or a different fixture rebuilds; checkpointed
frames are deterministic, so cached-vs-fresh results are bit-identical
(the pytest sweep exercises both orders).

``operators/llm.py`` and ``operators/bi.py`` (the PageRank graph build
shared by both variants) use it, and ``tables.table``'s loader memo keeps
its own dict under the same rule, ``_memoized``.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_SESSION_FRAMES: dict[tuple[str, str, str], DataFrame] = {}


def _memoized(
    memo: dict[tuple[str, str, str], DataFrame],
    spark: SparkSession,
    sf_dir: str,
    key: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """The package's one memo rule, shared with ``tables.table``: entries
    are keyed by (applicationId, abspath(sf_dir), key), so a restarted
    SparkContext or another fixture directory rebuilds, and a hit returns
    the very DataFrame object the miss stored.  A miss first evicts the
    entries bound to stopped contexts: a process that cycles SparkSessions
    must not retain dead-JVM DataFrames forever."""
    app_id = spark.sparkContext.applicationId
    k = (app_id, os.path.abspath(sf_dir), key)
    df = memo.get(k)
    if df is None:
        for stale in [mk for mk in memo if mk[0] != app_id]:
            memo.pop(stale, None)
        df = memo[k] = build()
    return df


def session_shared(
    spark: SparkSession,
    sf_dir: str,
    key: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    return _memoized(
        _SESSION_FRAMES,
        spark,
        sf_dir,
        key,
        lambda: build().localCheckpoint(eager=False),
    )
