"""Differential fuzz for the connector/executor family (4th batch, r18).

The effectful ops (``snk_*`` / ``src_*`` / ``exec_*`` / ``flagship_sync``)
are deliberately excluded from the warehouse broad batch (server/Derby/
tmp-artifact churn), and two more oracle ops (``flagship_analytics``,
``x_sql_text_api``) fall outside it because the transitive read resolver
cannot follow registry-composition / temp-view indirection.  Until this
file, all of them had FIXTURE-ONLY parity evidence.

The key observation making them fuzzable: the whole REST surface derives
from ``nation`` — the stub API's node listing is seeded from it and every
node oracle is ``_SQL_NODES`` over it — so a RANDOMIZED nation flows
coherently through the HTTP server, the Spark source, and the DuckDB
oracle.  The shapes target exactly the boundaries a paginated connector
gets wrong:

- an EMPTY listing (zero pages planned, empty fan-out, empty receipts);
- ``n % page_size == 0`` (exactly one / exactly two pages — the classic
  pagination off-by-one that fabricates a phantom trailing page);
- ``n = page_size + 1`` (a one-row final page);
- SPARSE keys (ids with gaps, not starting at 0 — the mod-derived
  type/status fields and the limit-pushdown's "lowest 8 ids" contract
  must key off VALUES, never positions);
- unicode names (UTF-8 through HTTP JSON, Derby JDBC, file roundtrips).

The rest of the warehouse is randomized via the TPC-H fuzz generator, so
the non-nation connector inputs (events → health/excel, orders →
memo-cache/partitioned-parquet, customer → json-records/sql-text) are
random too.  With this batch, EVERY oracle-bearing op in the registry is
enrolled in at least one randomized differential batch — pinned by
``test_no_oracle_op_escapes_every_fuzz_batch``.
"""

from __future__ import annotations

import random

import pytest

from dataengineer_scripts_spark import registry

from .conftest import make_duck
from .oracle_utils import assert_matches_oracle
from .test_tpch_fuzz import _build_warehouse, _write

DEFS = registry.definitions()

#: Explicit identity pin (the family is fixed; a registry change updates
#: this consciously).  x_stream_rest_poll is double-enrolled on purpose:
#: the stream fuzz randomizes its EVENTS context, this batch its NATION
#: listing (the data it actually polls).
CONNECTOR_IDS = [
    "exec_async",
    "exec_memo_cache",
    "exec_retry",
    "exec_sequential",
    "exec_threadpool",
    "flagship_analytics",
    "flagship_sync",
    "snk_excel_values",
    "snk_http_post",
    "snk_json_records",
    "snk_parquet_partitioned",
    "snk_stdout_progress",
    "src_jdbc_select",
    "src_json_file",
    "src_parquet_schema_evolution",
    "src_rest_auth",
    "src_rest_get",
    "src_rest_limit_push",
    "x_sql_text_api",
    "x_stream_rest_poll",
]

#: Rows-only warehouse readers smoked here (no oracle → no comparator):
#: the approx-quantile sketch and the styled-Excel artifact writer,
#: neither of which any other fuzz batch executes on random inputs.
ROWS_ONLY_CONNECTOR_IDS = [
    "snk_excel_styled",
    "x_agg_approx_quantile",
]


def test_no_oracle_op_escapes_every_fuzz_batch():
    """THE closing invariant of the four-batch fuzz program: every
    oracle-bearing op in the registry is enrolled in at least one
    randomized differential batch.  A new op must land in a batch (or
    extend one) in the same round it is registered."""
    from .test_corpus_fuzz import CORPUS_IDS
    from .test_stream_fuzz import STREAM_IDS
    from .test_tpch_fuzz import BROAD_IDS, TPCH_IDS

    covered = (
        set(BROAD_IDS) | set(TPCH_IDS) | set(CORPUS_IDS)
        | set(STREAM_IDS) | set(CONNECTOR_IDS)
    )
    all_oracle = {n for n, d in DEFS.items() if d.oracle is not None}
    missing = sorted(all_oracle - covered)
    assert missing == [], f"oracle ops in NO fuzz batch: {missing}"
    # and the pin itself is honest: every listed id exists and has an
    # oracle (rows-only ids live in ROWS_ONLY_CONNECTOR_IDS instead)
    for n in CONNECTOR_IDS:
        assert DEFS[n].oracle is not None, n
    for n in ROWS_ONLY_CONNECTOR_IDS:
        assert n in DEFS and DEFS[n].oracle is None, n


def _nation_cols(
    rng: random.Random, n: int, sparse: bool = False,
    unicode_names: bool = False,
) -> dict[str, tuple[str, list]]:
    if sparse:
        keys = sorted(rng.sample(range(0, 10_000), n))
    else:
        keys = list(range(n))
    names = []
    for i, k in enumerate(keys):
        if unicode_names and i % 3 == 0:
            names.append(f"NÄTION_{k}_ü日本")
        else:
            names.append(f"NATION_{k}")
    return {
        "n_nationkey": ("i32", keys),
        "n_name": ("str", names),
        "n_regionkey": ("i32", [rng.randint(0, 4) for _ in keys]),
    }


_CASES = {
    # n_nations, sparse, unicode — page size is 8 throughout the family
    "empty_listing": (0, False, False),
    "one_page_exact": (8, False, False),
    "one_page_plus_one": (9, True, False),
    "two_pages_exact": (16, True, True),
    "random_sparse_unicode": (None, True, True),
}


@pytest.mark.parametrize("case", sorted(_CASES), ids=sorted(_CASES))
def test_connector_suite_matches_oracle_on_random_listing(
    spark, tmp_path, case
):
    n, sparse, uni = _CASES[case]
    # stable per-case seed (str hash() is process-salted — never use it)
    rng = random.Random(0xC0DE + sorted(_CASES).index(case))
    sf = str(tmp_path)
    _build_warehouse(rng, sf)  # random non-nation inputs too
    if n is None:
        n = rng.randint(5, 60)
    _write(sf, "nation", _nation_cols(rng, n, sparse, uni))
    con = make_duck(sf)
    try:
        for name in CONNECTOR_IDS:
            df = DEFS[name].fn(spark, sf)
            assert_matches_oracle(df, con, DEFS[name].oracle, name)
    finally:
        con.close()


# ---------------------------------------------------------------------
# READ-side failure injection (r18): the sink/exec family's POST retry
# was always fuzzed via the "flaky" stub flavor, but a transient 5xx on
# a page GET would previously kill the executor task (and in local mode
# the whole query).  The source now carries the same bounded retry
# budget as the reference's POST path (GET_RETRIES == 3, mirroring
# sync_app3.py:58); these tests pin recovery, boundedness, and 4xx
# fail-fast.
# ---------------------------------------------------------------------


def _mk_nodes(n):
    return [
        {"id": i, "name": f"n{i}", "type": "job", "status": "SUCCESS",
         "export_status": "SUCCESS"}
        for i in range(n)
    ]


def test_rest_get_retry_survives_transient_5xx(spark):
    from dataengineer_scripts_spark.sources.rest import login, rest_read
    from dataengineer_scripts_spark.sources.stub_api import StubApi

    with StubApi(_mk_nodes(20), fail_first_get=2) as api:
        token = login(api.base_url)
        got = sorted(
            r.id
            for r in rest_read(spark, api.base_url, token, page_size=8)
            .collect()
        )
        assert got == list(range(20))


def test_rest_get_retry_survives_truncated_json(spark):
    """A 200 whose body stops mid-payload (connection dropped) is the
    OTHER transient read-failure class: json parsing fails, the bounded
    retry refetches, the read completes."""
    from dataengineer_scripts_spark.sources.rest import login, rest_read
    from dataengineer_scripts_spark.sources.stub_api import StubApi

    with StubApi(_mk_nodes(20), garble_first_get=2) as api:
        token = login(api.base_url)
        got = sorted(
            r.id
            for r in rest_read(spark, api.base_url, token, page_size=8)
            .collect()
        )
        assert got == list(range(20))


def test_rest_get_retry_budget_is_bounded(spark):
    """More consecutive 5xx than the budget → the read FAILS (bounded
    retry, not an infinite loop), and the listing saw at most
    GET_RETRIES attempts per fetch before giving up."""
    import pytest as _pytest

    from dataengineer_scripts_spark.sources.rest import (
        GET_RETRIES,
        login,
        rest_read,
    )
    from dataengineer_scripts_spark.sources.stub_api import (
        PROJECTS_PATH,
        StubApi,
    )

    with StubApi(_mk_nodes(20), fail_first_get=10_000) as api:
        token = login(api.base_url)
        with _pytest.raises(Exception):
            rest_read(spark, api.base_url, token, page_size=8).collect()
        listing_gets = [
            r for r in api.requests_seen
            if r.startswith("GET " + PROJECTS_PATH)
        ]
        assert 1 <= len(listing_gets) <= GET_RETRIES


def test_rest_get_4xx_fails_fast(spark):
    """Deterministic 4xx (bad token) must NOT be retried — exactly one
    listing request goes out before the error surfaces."""
    import pytest as _pytest

    from dataengineer_scripts_spark.sources.rest import rest_read
    from dataengineer_scripts_spark.sources.stub_api import (
        PROJECTS_PATH,
        StubApi,
    )

    with StubApi(_mk_nodes(5)) as api:
        with _pytest.raises(Exception):
            rest_read(
                spark, api.base_url, "Bearer wrong-token", page_size=8
            ).collect()
        listing_gets = [
            r for r in api.requests_seen
            if r.startswith("GET " + PROJECTS_PATH)
        ]
        assert len(listing_gets) == 1


# ---------------------------------------------------------------------
# Token expiry MID-pagination (r19): the one failure mode of the
# reference's module-global token (sync.py:14-32 logs in once and
# assumes the token outlives the run).  Pinned behavior: batch reads
# FAIL FAST with TokenExpiredError (rest_read is handed the token, never
# the credentials — it cannot re-login, and retrying a deterministic 401
# would just burn the budget); the streaming poll, which logs in with the
# environment's credentials, does ONE re-login + replay and keeps the
# fresh token (see the e2e twin in
# tests/test_streaming.py::test_stream_rest_poll_survives_token_expiry).
# ---------------------------------------------------------------------


def test_rest_batch_token_expiry_fails_fast(spark):
    """Token expires after 2 listing GETs of a 5-page read: the read
    fails with TokenExpiredError in the chain, and the 401s are NOT
    retried — total listing traffic stays far under what a retried 401
    would produce."""
    import pytest as _pytest

    from dataengineer_scripts_spark.sources.rest import (
        GET_RETRIES,
        login,
        rest_read,
    )
    from dataengineer_scripts_spark.sources.stub_api import (
        PROJECTS_PATH,
        StubApi,
    )

    with StubApi(_mk_nodes(40), expire_token_after=2) as api:
        token = login(api.base_url)
        with _pytest.raises(Exception) as exc_info:
            rest_read(spark, api.base_url, token, page_size=8).collect()
        assert "TokenExpiredError" in str(exc_info.value)
        listing_gets = [
            r for r in api.requests_seen
            if r.startswith("GET " + PROJECTS_PATH)
        ]
        # 2 successful + at most one single-shot 401 per remaining page
        # (the walk stops at the first); a retried 401 would read
        # 2 + 4*GET_RETRIES
        assert 3 <= len(listing_gets) <= 2 + 4 < 2 + 4 * GET_RETRIES


def test_rest_stream_reader_relogins_once_on_expiry():
    """Unit-level: the stream reader's poll hits a 401 mid-fetch, does
    exactly one re-login, replays with the fresh token, and KEEPS that
    token for subsequent polls."""
    from dataengineer_scripts_spark.sources.rest import (
        RestStreamReader,
        login,
    )
    from dataengineer_scripts_spark.sources.stub_api import LOGIN_PATH, StubApi

    with StubApi(_mk_nodes(20), expire_token_after=3) as api:
        token = login(api.base_url)
        reader = RestStreamReader(
            {"base_url": api.base_url, "token": token, "page_size": "8"}
        )
        # poll 1: probe (use 1) + pages 0,1 (uses 2,3) → page 2 401s →
        # one re-login, replay — all 20 rows and the offset still land
        rows, off = reader.read(reader.initialOffset())
        assert len(list(rows)) == 20 and off == {"row": 20}
        assert reader.token != token  # fresh token retained
        logins = [r for r in api.requests_seen if r == f"POST {LOGIN_PATH}"]
        assert len(logins) == 2  # the test's own + exactly one re-login
        # poll 2 runs on the retained fresh token without another login
        rows2, off2 = reader.read(off)
        assert list(rows2) == [] and off2 == {"row": 20}
        logins = [r for r in api.requests_seen if r == f"POST {LOGIN_PATH}"]
        assert len(logins) == 2


def test_rows_only_connector_ops_survive_random_warehouse(spark, tmp_path):
    sf = str(tmp_path)
    rng = random.Random(0xC0FF)
    _build_warehouse(rng, sf)
    _write(sf, "nation", _nation_cols(rng, 9, sparse=True))
    for name in ROWS_ONLY_CONNECTOR_IDS:
        df = DEFS[name].fn(spark, sf)
        assert df.count() > 0, f"{name}: empty on the random warehouse"
