"""REST source: authenticated JSON-over-HTTP reads as a Spark DataFrame.

Reference behavior being re-expressed (SURVEY.md §2.1):
- ``src_rest_auth`` — POST login, bearer token from the **Authorization
  response header**, creds from the environment (``Sync Job/sync.py:14-32``).
- ``src_rest_get`` — authenticated GET of JSON records, paginated with
  ``page_size``/``page`` (``Job Cek Script/app.py:125-129``), consumed as
  a table.

Spark-first design: a **Python DataSource** (Spark 4
``pyspark.sql.datasource``) named ``rest``:

- *Partitioned read*: one input partition per API page — pages are fetched
  by executors in parallel, not in a driver loop.  Page size mirrors the
  reference's ``page_size=8`` default and is the source-level limit
  knob (the reference pushes its LIMIT to the API the same way).
- *Filter pushdown*: ``pushFilters`` translates ``type <> 'x'`` /
  ``type = 'x'`` predicates into the API's ``type_ne``/``type_eq`` query
  params, so filtered pages are never transferred; unsupported filters are
  returned to Spark for post-scan evaluation (correctness never depends on
  the source honoring them).
- *Limit pushdown*: a ``limit`` reader option bounds the fetch to
  ``ceil(limit / page_size)`` pages, exactly like the reference's
  ``page_size=8&page=0`` bounded fetch (``app.py:126,162,202``).  The
  Python DataSource API (4.1) exposes no ``pushLimit`` hook — the JVM
  DSv2 ``SupportsPushDownLimit`` surface isn't mirrored — so the limit is
  declared at read time (``rest_read(..., limit=8)`` sets the option AND
  applies ``df.limit``); the planning probe's page-0 payload is embedded
  into partition 0 so a one-page limit costs exactly ONE data fetch.
  Safety: when a residual client-side ``type_eq`` filter is active the
  page bound is NOT applied (truncating pre-filter pages could starve a
  post-filter limit); Spark's own limit still guarantees the result.
- *Auth on the driver only*: the login exchange happens once, driver-side;
  executors receive the short-lived bearer token via the pickled reader,
  never the credentials.
"""

from __future__ import annotations

import json
import math
import os
import urllib.request
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    InputPartition,
    Not,
    SimpleDataSourceStreamReader,
)

from .stub_api import LOGIN_PATH, PROJECTS_PATH

NODE_SCHEMA = "id INT, name STRING, type STRING, status STRING, export_status STRING"
NODE_FIELDS = ("id", "name", "type", "status", "export_status")
DEFAULT_PAGE_SIZE = 8  # reference default: app.py:126 `page_size=8`


GET_RETRIES = 3  # same bounded budget as the POST sink (sync_app3.py:58)


class TokenExpiredError(RuntimeError):
    """The API rejected the bearer token (HTTP 401) after a read began.

    The reference's token model (``sync.py:14-32``: one module-global
    login, token assumed to outlive the run) has exactly one failure
    mode: the token expires MID-pagination.  The two read paths pin
    different recoveries:

    - **Batch reads fail fast with this error.**  Page fetches run on
      executors, which hold only the short-lived token — never the
      credentials — so they *cannot* re-login; retrying a deterministic
      401 would only burn the retry budget and mask the cause.  The
      caller re-logins (driver-side, where credentials live) and re-runs.
    - **The streaming reader recovers automatically**: its poll loop runs
      driver-side (``SimpleDataSourceStreamReader``), so on a 401 it
      performs ONE re-login and replays the request; a second consecutive
      401 propagates (that's a real auth failure, not expiry).
    """


def _get_json(url: str, token: str) -> dict:
    """Bounded-retry GET — the one chokepoint every page/probe fetch of
    the rest source and stream reader goes through.  A paginated read at
    fleet scale sees transient 5xx/connection blips on SOME page fetch;
    without per-request retry one blip kills the executor task (and in
    local mode tasks are never re-run, so it kills the whole query).
    Deterministic 4xx (bad token, bad path) still fails fast — retrying
    those would just mask configuration errors.  Linear backoff keeps
    the worst-case stall at 150 ms for the 3-attempt budget."""
    import http.client
    import time
    import urllib.error

    req = urllib.request.Request(url, headers={"Authorization": token})
    last: Exception | None = None
    for attempt in range(1, GET_RETRIES + 1):
        try:
            with urllib.request.urlopen(req, timeout=10) as resp:
                return json.loads(resp.read())
        except urllib.error.HTTPError as e:
            if e.code == 401:
                raise TokenExpiredError(
                    f"HTTP 401 from {url}: bearer token rejected "
                    "(expired or invalid); re-login for a fresh token "
                    "and re-run — see TokenExpiredError"
                ) from e
            if e.code < 500:
                raise
            last = e
        except (urllib.error.URLError, TimeoutError, ConnectionError) as e:
            last = e
        except (json.JSONDecodeError, http.client.HTTPException) as e:
            # a truncated/unparsable body is a connection dropped
            # mid-payload (http.client raises IncompleteRead against the
            # promised Content-Length; a proxy may instead deliver the
            # short body, surfacing as JSONDecodeError) — transient,
            # same budget; a genuinely malformed API still fails loudly
            # after 3 tries
            last = e
        if attempt < GET_RETRIES:
            time.sleep(0.05 * attempt)
    raise last


def login(base_url: str, username: str | None = None, password: str | None = None) -> str:
    """POST the login endpoint, return the bearer token from the
    ``Authorization`` response header (where the reference reads it,
    ``sync.py:30``).  Credentials come from the environment by default —
    they exist only on the driver and are never captured in the plan."""
    from .stub_api import PASSWORD, USERNAME

    creds = {
        "username": username or os.environ.get("ENGINE_API_USERNAME", USERNAME),
        "password": password or os.environ.get("ENGINE_API_PASSWORD", PASSWORD),
    }
    req = urllib.request.Request(
        base_url + LOGIN_PATH,
        data=json.dumps(creds).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=10) as resp:
        token = resp.headers.get("Authorization")
    if not token:
        raise RuntimeError("login response carried no Authorization header")
    return token


class RestPagePartition(InputPartition):
    def __init__(self, page: int, rows: list | None = None):
        self.page = page
        #: planning-probe payload for page 0, embedded so the executor
        #: doesn't refetch what the driver already holds (a page is ≤
        #: page_size small dicts — cheap to pickle into the task).
        self.rows = rows


def _ddl_field_names(ddl: str) -> tuple[str, ...]:
    """Top-level field names of a DDL struct string.  Splits only on
    commas at bracket depth 0, so types with embedded commas/brackets
    (``decimal(10,2)``, ``array<struct<a:int,b:int>>``) stay intact."""
    names, depth, start = [], 0, 0
    for i, ch in enumerate(ddl + ","):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            field = ddl[start:i].strip()
            if field:
                names.append(field.replace(":", " ").split()[0])
            start = i + 1
    return tuple(names)


class RestDataSourceReader(DataSourceReader):
    def __init__(self, options: dict):
        self.base_url = options["base_url"]
        self.token = options["token"]
        self.path = options.get("path", PROJECTS_PATH)
        self.fields = _ddl_field_names(options.get("schema", NODE_SCHEMA))
        self.page_size = int(options.get("page_size", DEFAULT_PAGE_SIZE))
        self.type_ne: str | None = options.get("type_ne")
        self.type_eq: str | None = None
        self.limit: int | None = (
            int(options["limit"]) if "limit" in options else None
        )

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Translate supported predicates to API query params; yield back
        the rest for Spark to evaluate post-scan."""
        for f in filters:
            if (
                isinstance(f, Not)
                and isinstance(f.child, EqualTo)
                and f.child.attribute == ("type",)
            ):
                # the API takes ONE type_ne param: consume the filter only
                # if it agrees with (or sets) the current value — never
                # clobber a constraint already pushed via reader option
                val = str(f.child.value)
                if self.type_ne is None or self.type_ne == val:
                    self.type_ne = val
                else:
                    yield f
            elif isinstance(f, EqualTo) and f.attribute == ("type",):
                val = str(f.value)
                if self.type_eq is None or self.type_eq == val:
                    self.type_eq = val
                else:
                    yield f
            else:
                yield f

    def _query(self, page: int) -> str:
        params = [f"page={page}", f"page_size={self.page_size}"]
        if self.type_ne is not None:
            params.append(f"type_ne={self.type_ne}")
        return f"{self.base_url}{self.path}?" + "&".join(params)

    def _effective_limit(self) -> int | None:
        # A client-side residual filter (type_eq) makes page truncation
        # unsafe: pages dropped pre-filter could starve a post-filter
        # limit.  type_ne is applied server-side before pagination, so it
        # composes with the page bound.
        return None if self.type_eq is not None else self.limit

    def partitions(self) -> Sequence[RestPagePartition]:
        # Planning fetch (driver-side): one cheap page-0 probe for the total,
        # then one partition per page — executors fetch pages in parallel.
        # The probe's payload rides along in partition 0, so the limit≤page
        # case (the reference's `page_size=8&page=0` single-page fetch,
        # app.py:126) performs exactly one data request in total.  Those
        # page-0 rows are a planning-time snapshot: a server-side write
        # between planning and execution shows on later pages only.
        head = _get_json(self._query(0), self.token)
        total = head["total"]
        limit = self._effective_limit()
        if limit is not None:
            total = min(total, limit)
        n_pages = max(1, math.ceil(total / self.page_size))
        return [
            RestPagePartition(p, rows=head["data"] if p == 0 else None)
            for p in range(n_pages)
        ]

    def read(self, partition: RestPagePartition) -> Iterator[tuple]:
        rows = partition.rows
        if rows is None:
            rows = _get_json(self._query(partition.page), self.token)["data"]
        limit = self._effective_limit()
        if limit is not None:
            # rows remaining under the limit once earlier pages are counted
            rows = rows[: max(0, limit - partition.page * self.page_size)]
        for r in rows:
            if self.type_eq is not None and r.get("type") != self.type_eq:
                continue
            yield tuple(r.get(k) for k in self.fields)


class RestStreamReader(SimpleDataSourceStreamReader):
    """Streaming twin of the paginated REST read: each microbatch polls the
    endpoint and emits the rows APPENDED since the last offset.  The
    generalization of the reference's poll loop (``Job Cek Script/
    app.py:161-165`` re-fetches the listing on a timer); here the poll is a
    checkpointable structured stream with exactly-once offsets.

    Offset = absolute row position in the server's stable listing order
    (``{"row": N}`` — N rows consumed).  Each ``read`` probes the current
    ``total``, fetches only the pages covering ``[start, total)``, and
    advances the offset to ``total``; ``readBetweenOffsets`` replays a
    committed range deterministically for recovery.  Requires the endpoint
    to be append-ordered (the stub serves listings in stable id order —
    true of ingest logs / receipt feeds, NOT of arbitrarily re-sorted
    views).

    A ``SimpleDataSourceStreamReader`` polls on the DRIVER by design —
    right-sized for a rate-limited REST API (KB/s, not GB/s).  A
    high-throughput feed would use the partition-planning
    ``DataSourceStreamReader`` instead, one partition per new page, same
    offset algebra."""

    def __init__(self, options: dict):
        self.base_url = options["base_url"]
        self.token = options["token"]
        self.path = options.get("path", PROJECTS_PATH)
        self.fields = _ddl_field_names(options.get("schema", NODE_SCHEMA))
        self.page_size = int(options.get("page_size", DEFAULT_PAGE_SIZE))

    def initialOffset(self) -> dict:
        return {"row": 0}

    def _get(self, url: str) -> dict:
        """GET with single re-login on token expiry.  The poll loop runs
        DRIVER-side, where credentials are available (environment /
        defaults — see :func:`login`), so a long-running stream survives
        token expiry with one re-login + replay; the fresh token is kept
        for subsequent microbatches.  A second consecutive 401 propagates
        — that's a real auth failure, not expiry."""
        try:
            return _get_json(url, self.token)
        except TokenExpiredError:
            self.token = login(self.base_url)
            return _get_json(url, self.token)

    def _page(self, page: int) -> list[dict]:
        url = f"{self.base_url}{self.path}?page={page}&page_size={self.page_size}"
        return self._get(url)["data"]

    def _fetch_range(self, lo: int, hi: int) -> list[tuple]:
        # a LIST, not a generator: Spark's simple-stream wrapper caches the
        # prefetched batch and copy.copy()s its iterator on replay, which a
        # generator does not support
        out = []
        for page in range(lo // self.page_size, math.ceil(hi / self.page_size)):
            base = page * self.page_size
            for i, r in enumerate(self._page(page)):
                if lo <= base + i < hi:
                    out.append(tuple(r.get(k) for k in self.fields))
        return out

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        lo = int(start["row"])
        url = f"{self.base_url}{self.path}?page=0&page_size=1"
        total = int(self._get(url)["total"])
        if total <= lo:
            return iter(()), start
        return iter(self._fetch_range(lo, total)), {"row": total}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        return iter(self._fetch_range(int(start["row"]), int(end["row"])))

    def commit(self, end: dict) -> None:
        pass  # nothing server-side to acknowledge; offsets live in the checkpoint


class RestDataSource(DataSource):
    """``spark.read.format("rest")`` — options: base_url, token, page_size,
    optional path (endpoint, default the projects list), schema (DDL string
    whose field names are the JSON keys to project, default node schema),
    limit (page-bounding fetch cap), type_ne (pre-set server-side filter).
    ``spark.readStream.format("rest")`` polls the same endpoint
    incrementally (see RestStreamReader)."""

    @classmethod
    def name(cls) -> str:
        return "rest"

    def schema(self) -> str:
        return self.options.get("schema", NODE_SCHEMA)

    def reader(self, schema) -> RestDataSourceReader:
        return RestDataSourceReader(self.options)

    def simpleStreamReader(self, schema) -> RestStreamReader:
        return RestStreamReader(self.options)


def register_rest_source(spark) -> None:
    """Idempotently register the ``rest`` format on this session."""
    spark.dataSource.register(RestDataSource)


def rest_read(
    spark,
    base_url: str,
    token: str,
    page_size: int = DEFAULT_PAGE_SIZE,
    limit: int | None = None,
    path: str | None = None,
    schema: str | None = None,
):
    """The blessed read path for the ``rest`` format.  ``limit`` is pushed
    to the source as a reader option (bounding pages fetched to
    ``ceil(limit/page_size)``, the reference's bounded-fetch behavior at
    ``app.py:126``) AND applied as a plan-level ``df.limit`` — the plan
    limit guarantees the row count regardless of what the source honors,
    the option keeps the bytes moved proportional to the limit."""
    register_rest_source(spark)
    reader = (
        spark.read.format("rest")
        .option("base_url", base_url)
        .option("token", token)
        .option("page_size", page_size)
    )
    if limit is not None:
        reader = reader.option("limit", limit)
    if path is not None:
        reader = reader.option("path", path)
    if schema is not None:
        reader = reader.option("schema", schema)
    df = reader.load()
    return df.limit(limit) if limit is not None else df


def rest_read_stream(
    spark,
    base_url: str,
    token: str,
    page_size: int = DEFAULT_PAGE_SIZE,
    path: str | None = None,
    schema: str | None = None,
):
    """``readStream`` twin of :func:`rest_read`: an unbounded DataFrame that
    polls the paginated endpoint per microbatch (new rows only, offsets in
    the checkpoint — see RestStreamReader)."""
    register_rest_source(spark)
    reader = (
        spark.readStream.format("rest")
        .option("base_url", base_url)
        .option("token", token)
        .option("page_size", page_size)
    )
    if path is not None:
        reader = reader.option("path", path)
    if schema is not None:
        reader = reader.option("schema", schema)
    return reader.load()
