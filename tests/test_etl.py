"""Behavior tests for the §2.1 source/sink + §2.8 executor surface that the
oracle-parity check can't see: auth failure, the REST page walk's request
counts, bounded retry semantics, and the styled-workbook model."""

from __future__ import annotations

import os
import urllib.error
import urllib.request
from datetime import date

import pytest
from pyspark.sql import functions as F

from dataengineer_scripts_spark.sinks import (
    STATUS_FILLS,
    build_workbook_model,
    fetch_receipts,
    post_sync,
    write_excel_styled,
)
from dataengineer_scripts_spark.sources.rest import login, rest_read
from dataengineer_scripts_spark.sources.stub_api import PROJECTS_PATH, TOKEN, StubApi

NODES = [
    {"id": i, "name": f"n{i}", "type": "next" if i % 5 == 4 else "job",
     "status": "SUCCESS", "export_status": "SUCCESS"}
    for i in range(10)
]


@pytest.fixture()
def api():
    with StubApi(list(NODES)) as s:
        yield s


def test_login_returns_header_token(api):
    assert login(api.base_url) == TOKEN


def test_login_rejects_bad_credentials(api):
    with pytest.raises(urllib.error.HTTPError) as ei:
        login(api.base_url, username="intruder", password="nope")
    assert ei.value.code == 401


def test_unauthenticated_get_is_401(api):
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(api.base_url + "/analytic/projects", timeout=5)
    assert ei.value.code == 401


def _listing_gets(api):
    return [r for r in api.requests_seen if r.startswith(f"GET {PROJECTS_PATH}?")]


def test_rest_pages_partition_the_read(api, spark):
    # 10 nodes / 4 per page: page 0 reports the total, pages 1-2 follow,
    # and every page is fetched exactly once
    rows = rest_read(spark, api.base_url, TOKEN, page_size=4).collect()
    assert sorted(r.id for r in rows) == list(range(10))
    pages = _listing_gets(api)
    assert len(pages) == 3 and len(set(pages)) == 3


def test_limit_pushdown_fetches_exactly_one_page(api, spark):
    rows = rest_read(spark, api.base_url, TOKEN, page_size=4, limit=4).collect()
    assert [r.id for r in rows] == [0, 1, 2, 3]
    # page 0 both reports the total and carries the rows: ONE data request
    assert len(_listing_gets(api)) == 1


def test_limit_pushdown_truncates_last_page(api, spark):
    rows = rest_read(spark, api.base_url, TOKEN, page_size=4, limit=6).collect()
    assert [r.id for r in rows] == list(range(6))  # page 1 cut to 2 rows
    assert len(_listing_gets(api)) == 2  # ceil(6/4): page 0 + page 1


def test_rest_read_limit_end_to_end(api, spark):
    df = rest_read(spark, api.base_url, TOKEN, page_size=4, limit=4)
    assert df.count() == 4
    assert df.count() == 4
    # the pages are read once, when the frame is built — counting the
    # frame again (or re-planning it) sends nothing
    assert _listing_gets(api) == [
        f"GET {PROJECTS_PATH}?page=0&page_size=4"
    ]


def test_flagship_sync_walks_the_listing_once(spark, sf_dir, monkeypatch):
    """One flagship_sync call reads the 25-node listing in exactly
    ceil(25/8) = 4 page GETs, although its node frame feeds both the POST
    fan-out and the receipts join; the bounded src_rest_limit_push read
    costs exactly 1."""
    from dataengineer_scripts_spark.operators import etl

    monkeypatch.setattr(etl, "_SERVERS", {})
    try:
        assert len(etl.flagship_sync(spark, sf_dir).collect()) == 20
        api = etl._SERVERS[("plain", sf_dir)]
        assert len(_listing_gets(api)) == 4
        seen = len(api.requests_seen)
        assert len(etl.src_rest_limit_push(spark, sf_dir).collect()) == 8
        listing = [
            r for r in api.requests_seen[seen:]
            if r.startswith(f"GET {PROJECTS_PATH}?")
        ]
        assert listing == [f"GET {PROJECTS_PATH}?page=0&page_size=8"]
    finally:
        for stub in etl._SERVERS.values():
            stub.stop()


def test_retry_short_circuits_on_success():
    with StubApi(list(NODES), fail_first=2) as flaky:
        used = post_sync(flaky.base_url, TOKEN, 1, retries=3)
        assert used == 3  # two 500s, success on the third
        rec = fetch_receipts(flaky.base_url, TOKEN)
        assert rec["synced"] == [1] and rec["attempts"]["1"] == 3
        # already-synced node succeeds first try (no further failures)
        assert post_sync(flaky.base_url, TOKEN, 1, retries=3) == 1


def test_retry_gives_up_after_budget():
    with StubApi(list(NODES), fail_first=5) as flaky:
        used = post_sync(flaky.base_url, TOKEN, 2, retries=3)
        assert used == 3
        assert fetch_receipts(flaky.base_url, TOKEN)["synced"] == []


def test_workbook_model_styles():
    rows = [
        {"name": "a", "status": "Success", "error_note": ""},
        {"name": "b", "status": "Failed", "error_note": "x --> FAILED"},
        {"name": "c", "status": "Not Synced", "error_note": "Last Sync at ..."},
    ]
    m = build_workbook_model(rows, columns=["name", "status", "error_note"],
                             report_date=date(2026, 8, 13))
    assert m["header"]["title"] == "Job Status Report 2026-08-13"
    assert m["header"]["merge"] == "A1:C1"
    fills = [r["fill"] for r in m["rows"]]
    assert fills == [STATUS_FILLS["Success"], STATUS_FILLS["Failed"],
                     STATUS_FILLS["Not Synced"]]
    assert all(r["border"] == "thin" for r in m["rows"])
    assert m["column_widths"]["G"] == 60  # note column width, app.py:235-241


def test_excel_sink_writes_real_xlsx(tmp_path, spark):
    from dataengineer_scripts_spark.xlsx import read_xlsx, validate_xlsx

    df = spark.createDataFrame(
        [("u1", "Success", ""), ("u2", "Failed", "boom"),
         ("u3", "Not Synced", "Last Sync at ..."), ("u4", "No Schedule", "")],
        "name string, status string, error_note string",
    )
    out = write_excel_styled(df, str(tmp_path / "report.xlsx"),
                             report_date=date(2026, 8, 13))
    assert out.endswith(".xlsx")
    validate_xlsx(out)
    wb = read_xlsx(out)
    # header: title, merge range across the 3 columns, reference yellow fill
    assert wb["rows"][1][0] == "Job Status Report 2026-08-13"
    assert wb["merges"] == ["A1:C1"]
    assert wb["header_fill"] == "FFFF00"  # app.py:231
    # row 2 = column names; rows 3+ = data with per-status fills
    assert wb["rows"][2] == ["name", "status", "error_note"]
    assert wb["rows"][3] == ["u1", "Success", ""]
    assert wb["rows"][4] == ["u2", "Failed", "boom"]
    assert [wb["row_fills"][r] for r in (3, 4, 5, 6)] == [
        STATUS_FILLS["Success"], STATUS_FILLS["Failed"],
        STATUS_FILLS["Not Synced"], STATUS_FILLS["No Schedule"]]
    # reference hex codes, app.py:243-249
    assert STATUS_FILLS["Not Synced"] == "FFE699"
    assert STATUS_FILLS["No Schedule"] == "BFBFBF"
    # column widths survive the round trip (app.py:235-241 analog)
    assert wb["column_widths"]["G"] == 60.0


def test_excel_values_gate_matches_report(spark, sf_dir):
    """The workbook value gate (snk_excel_values) must emit exactly the
    health report's rows — timestamps, notes and all — plus the
    reference's per-status fill (app.py:243-249), proving the .xlsx
    artifact carries the report losslessly."""
    from dataengineer_scripts_spark.operators.etl import snk_excel_values
    from dataengineer_scripts_spark.operators.health import health_report

    got = snk_excel_values(spark, sf_dir)
    expected = health_report(spark, sf_dir)
    # cell values == report values (order-insensitive, exact)
    report_cols = ["user_id", "last_ts", "status", "error_note", "n_err"]
    assert sorted(map(tuple, got.select(*report_cols).collect())) == sorted(
        map(tuple, expected.collect())
    )
    # every row's fill is the reference map of its status
    mism = got.filter(
        F.col("fill")
        != F.coalesce(
            *[
                F.when(F.col("status") == s, F.lit(c))
                for s, c in STATUS_FILLS.items()
                if s
            ],
            F.lit("FFFFFF"),
        )
    )
    assert mism.count() == 0


def test_excel_values_gate_survives_nonutc_os_timezone(spark, sf_dir):
    """The workbook gate must round-trip instants on a non-UTC HOST (not
    just a non-UTC Spark session): collect() renders timestamps through
    datetime.fromtimestamp — the driver OS zone — so the gate re-parses
    with the OS-local inverse (fromisoformat + naive toInternal), never
    a JVM cast under the UTC-pinned session zone.  Both conversions run
    Python-side, so flipping TZ+tzset exercises the non-UTC-host path."""
    import time as _time

    from dataengineer_scripts_spark.operators.etl import snk_excel_values
    from dataengineer_scripts_spark.operators.health import health_report

    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    _time.tzset()
    try:
        got = snk_excel_values(spark, sf_dir)
        expected = health_report(spark, sf_dir)
        cols = ["user_id", "last_ts", "status", "error_note", "n_err"]
        assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
            map(tuple, expected.collect())
        )
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        _time.tzset()


def test_xlsx_writer_escapes_and_types(tmp_path):
    from dataengineer_scripts_spark.sinks import build_workbook_model
    from dataengineer_scripts_spark.xlsx import read_xlsx, write_xlsx

    rows = [
        {"name": "a<b>&\"c\"", "status": "Success", "n": 7, "score": 1.5},
        {"name": "plain", "status": "", "n": None, "score": -2.0},
    ]
    model = build_workbook_model(
        rows, columns=["name", "status", "n", "score"],
        report_date=date(2026, 1, 2))
    p = str(tmp_path / "t.xlsx")
    write_xlsx(model, p)
    wb = read_xlsx(p)
    assert wb["rows"][3] == ["a<b>&\"c\"", "Success", 7, 1.5]
    assert wb["rows"][4] == ["plain", "", None, -2.0]
    # determinism: same model → byte-identical artifact
    p2 = str(tmp_path / "t2.xlsx")
    write_xlsx(model, p2)
    assert open(p, "rb").read() == open(p2, "rb").read()


def test_read_xlsx_resolves_shared_and_formula_strings(tmp_path):
    """openpyxl (when installed) writes text as shared strings (``t="s"``
    + ``xl/sharedStrings.xml``) rather than inline strings, and formula
    results as ``t="str"`` — read_xlsx must resolve both so the
    snk_excel_values gate reads identical values whichever writer
    write_excel_styled dispatched to (r11 advice item 1).  Hand-build the
    smallest such workbook with the module's own part templates."""
    import zipfile

    from dataengineer_scripts_spark import xlsx as X

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    shared = (
        f'<sst xmlns="{ns}" count="3" uniqueCount="2">'
        "<si><t>hello</t></si>"
        # rich-text runs: openpyxl emits these for styled substrings
        "<si><r><t>wo</t></r><r><t>rld</t></r></si>"
        "</sst>"
    )
    sheet = (
        f'<worksheet xmlns="{ns}"><sheetData>'
        '<row r="1">'
        '<c r="A1" t="s"><v>0</v></c>'
        '<c r="B1" t="s"><v>1</v></c>'
        '<c r="C1" t="str"><v>=ish</v></c>'
        '<c r="D1"><v>42</v></c>'
        '<c r="E1" s="0"/>'  # valueless: openpyxl's empty-string cell
        "</row>"
        '<row r="2"><c r="A2" t="s"><v>0</v></c></row>'
        "</sheetData></worksheet>"
    )
    p = str(tmp_path / "shared.xlsx")
    with zipfile.ZipFile(p, "w") as zf:
        zf.writestr("[Content_Types].xml", X._CONTENT_TYPES)
        zf.writestr("_rels/.rels", X._ROOT_RELS)
        zf.writestr("xl/workbook.xml", X._WORKBOOK)
        zf.writestr("xl/_rels/workbook.xml.rels", X._WORKBOOK_RELS)
        zf.writestr("xl/styles.xml", X._styles_xml([]))
        zf.writestr("xl/sharedStrings.xml", shared)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    wb = X.read_xlsx(p)
    assert wb["rows"][1] == ["hello", "world", "=ish", 42, None]
    assert wb["rows"][2] == ["hello"]


def test_xlsx_strips_xml_noncharacters(tmp_path):
    """U+FFFE/U+FFFF are noncharacters the XML 1.0 Char production
    forbids; expat refuses documents containing them.  The writer must
    strip them like the C0 controls, or read_xlsx fails with ParseError
    on our own artifact (r12 advice item 1)."""
    from dataengineer_scripts_spark.sinks import build_workbook_model
    from dataengineer_scripts_spark.xlsx import read_xlsx, write_xlsx

    rows = [{"name": "a\ufffeb\uffffc", "status": "Success", "n": 1}]
    model = build_workbook_model(
        rows, columns=["name", "status", "n"], report_date=date(2026, 1, 2)
    )
    p = str(tmp_path / "nonchar.xlsx")
    write_xlsx(model, p)
    wb = read_xlsx(p)  # must parse — the writer stripped the noncharacters
    assert wb["rows"][3] == ["abc", "Success", 1]


def test_workbook_model_strips_illegal_xml_in_shared_layer(tmp_path):
    """The strip must live in the MODEL layer (sinks._cell), not just the
    stdlib writer: with openpyxl installed, write_excel_styled renders
    the same model through openpyxl, whose own sanitizer covers only the
    C0 controls — a noncharacter or lone surrogate reaching it would
    produce an artifact expat can't parse, or crash the write (round-13
    review finding).  Lone surrogates additionally have no UTF-8 form,
    so the stdlib writer itself must survive them too."""
    from dataengineer_scripts_spark.sinks import build_workbook_model
    from dataengineer_scripts_spark.xlsx import read_xlsx, write_xlsx

    rows = [{"name": "a\ud800b\ufffec", "status": "Failed", "n": 2}]
    model = build_workbook_model(
        rows, columns=["name", "status", "n"], report_date=date(2026, 1, 2)
    )
    # model cells are already clean — BOTH renderers see sane input
    assert model["rows"][0]["cells"][0] == "abc"
    p = str(tmp_path / "surrogate.xlsx")
    write_xlsx(model, p)  # must not raise UnicodeEncodeError
    assert read_xlsx(p)["rows"][3] == ["abc", "Failed", 2]


def test_read_xlsx_places_cells_by_column_reference(tmp_path):
    """openpyxl omits a value-less, style-less cell from the row XML
    entirely; read_xlsx must place the remaining cells by their r=
    column reference, not iteration order, or every later column in the
    row silently shifts left (r12 advice item 3)."""
    import zipfile

    from dataengineer_scripts_spark import xlsx as X

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    sheet = (
        f'<worksheet xmlns="{ns}"><sheetData>'
        # B1 omitted entirely — D1 must still land in column 4
        '<row r="1">'
        '<c r="A1" t="inlineStr"><is><t>a</t></is></c>'
        '<c r="C1"><v>3</v></c>'
        '<c r="D1" t="inlineStr"><is><t>d</t></is></c>'
        "</row>"
        "</sheetData></worksheet>"
    )
    p = str(tmp_path / "sparse.xlsx")
    with zipfile.ZipFile(p, "w") as zf:
        zf.writestr("[Content_Types].xml", X._CONTENT_TYPES)
        zf.writestr("_rels/.rels", X._ROOT_RELS)
        zf.writestr("xl/workbook.xml", X._WORKBOOK)
        zf.writestr("xl/_rels/workbook.xml.rels", X._WORKBOOK_RELS)
        zf.writestr("xl/styles.xml", X._styles_xml([]))
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    wb = X.read_xlsx(p)
    assert wb["rows"][1] == ["a", None, 3, "d"]


def test_workbook_records_render_valueless_error_note_as_empty():
    """openpyxl stores an empty-string cell as a VALUELESS cell (no <v>),
    which read_xlsx returns as None — the snk_excel_values gate must
    render that back to '' (the oracle's healthy-row error_note), never
    the string 'None' (review finding, round 12)."""
    from dataengineer_scripts_spark.operators.etl import _workbook_records

    book = {
        "rows": {
            1: ["Summary"],
            2: ["user_id", "last sync", "status", "error note", "n_err"],
            3: [7, "2024-01-28T09:30:00", "Success", None, 0],
            4: [9, "2024-01-20T01:00:00", "Failed", "boom", 2],
        },
        "row_fills": {3: "C6EFCE", 4: None},
    }
    recs = _workbook_records(book)
    assert recs[0][3] == ""  # None cell -> '' like the oracle
    assert recs[0][5] == "C6EFCE"
    assert recs[1][3] == "boom"
    assert recs[1][5] == ""  # fill-less row -> '' not None


def test_memo_cache_computes_once_per_key(spark, sf_dir):
    from dataengineer_scripts_spark.operators.etl import exec_memo_cache

    df = exec_memo_cache(spark, sf_dir)
    # memo table materializes per DISTINCT key: output key-cardinality equals
    # the distinct input cardinality, and every duplicate key shares one tag.
    tags = df.select("o_custkey", "tag").distinct()
    assert tags.count() == df.select("o_custkey").distinct().count()
    assert "InMemoryTableScan" in df._jdf.queryExecution().executedPlan().toString()


def test_pushdown_query_mssql_dialect_matches_reference_shape():
    """The MSSQL dialect must render the reference's exact pull shape
    (bracket identifiers, inline literal — app.py:72) and TOP for limits;
    no server needed to lock the dialect contract."""
    from dataengineer_scripts_spark.sources.files import pushdown_query

    q = pushdown_query(
        "DailyJobCheck",
        ["name", "id", ("name", "init_name")],
        literals={"loc": "Delman"},
        dialect="mssql",
    )
    assert q == (
        "SELECT [name], [id], [name] AS [init_name], 'Delman' AS [loc] "
        "FROM DailyJobCheck"
    )
    assert pushdown_query("t", ["a"], dialect="mssql", limit=8) == (
        "SELECT TOP 8 [a] FROM t"
    )


def test_pushdown_query_ansi_dialect_and_escaping():
    from dataengineer_scripts_spark.sources.files import pushdown_query

    assert pushdown_query("t", ["a", ("b", "c")], dialect="derby", limit=5) == (
        'SELECT "a", "b" AS "c" FROM t FETCH FIRST 5 ROWS ONLY'
    )
    # closing-quote chars in identifiers double; quotes in literals double
    assert pushdown_query(
        "t", ['we"ird'], literals={"lit": "O'Brien"}, dialect="ansi"
    ) == 'SELECT "we""ird", \'O\'\'Brien\' AS "lit" FROM t'
    assert pushdown_query("t", ["a]b"], dialect="mssql") == "SELECT [a]]b] FROM t"


def test_zorder_skips_on_both_dimensions(spark, sf_dir):
    """The point of the Z-layout, quantitatively: per-granule min/max from
    the z-ordered split must prune suppkey-only range queries (where a
    linear l_partkey clustering prunes NOTHING) while staying within a
    few granules of the linear layout's partkey prunability."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dataengineer_scripts_spark.operators.etl import (
        ZORDER_BUCKETS,
        x_etl_zorder_stats,
    )
    from dataengineer_scripts_spark.tables import table

    zstats = x_etl_zorder_stats(spark, sf_dir).collect()
    assert len(zstats) == ZORDER_BUCKETS
    li = table(spark, sf_dir, "lineitem")
    assert sum(r["n_rows"] for r in zstats) == li.count()  # total coverage

    lin_bucket = F.ntile(ZORDER_BUCKETS).over(
        Window.orderBy("l_partkey", "l_orderkey", "l_linenumber")
    )
    lin = (
        li.select("l_partkey", "l_suppkey", lin_bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.min("l_suppkey").alias("min_sk"),
            F.max("l_suppkey").alias("max_sk"),
            F.min("l_partkey").alias("min_pk"),
            F.max("l_partkey").alias("max_pk"),
        )
        .collect()
    )

    def skipped(stats, lo, hi, lok, hik):
        return sum(1 for r in stats if not (r[lok] <= hi and r[hik] >= lo))

    for lo, hi in ((2, 3), (8, 9)):  # suppkey-only predicates
        z = skipped(zstats, lo, hi, "min_sk", "max_sk")
        naive = skipped(lin, lo, hi, "min_sk", "max_sk")
        assert naive == 0, "fixture drifted: linear layout suddenly prunes sk"
        assert z > 0, f"z-layout failed to prune sk box [{lo},{hi}]"
    # partkey predicate: z stays within a few granules of the linear layout
    z_pk = skipped(zstats, 50, 74, "min_pk", "max_pk")
    lin_pk = skipped(lin, 50, 74, "min_pk", "max_pk")
    assert z_pk >= lin_pk - 8


def test_resample_grid_is_dense_per_user(spark, sf_dir):
    """Every user's resampled series must cover every calendar day from
    first to last activity with no holes and no duplicates, and carry a
    non-null forward-filled close from day one (the span starts on an
    active day by construction)."""
    from pyspark.sql import functions as F

    from dataengineer_scripts_spark import registry

    df = registry.definitions()["x_etl_resample_ffill"].fn(spark, sf_dir)
    per_user = df.groupBy("user_id").agg(
        F.count("*").alias("n_days"),
        F.countDistinct("day").alias("n_distinct"),
        (F.datediff(F.max("day"), F.min("day")) + 1).alias("span"),
        F.sum(F.col("close_value").isNull().cast("int")).alias("n_null"),
    )
    bad = per_user.filter(
        (F.col("n_days") != F.col("span"))
        | (F.col("n_distinct") != F.col("span"))
        | (F.col("n_null") > 0)
    ).count()
    assert bad == 0
