"""REST source: authenticated JSON-over-HTTP reads as a Spark DataFrame.

Reference behavior being re-expressed (SURVEY.md §2.1):
- ``src_rest_auth`` — POST login, bearer token from the **Authorization
  response header**, creds from the environment (``Sync Job/sync.py:14-32``).
- ``src_rest_get`` — authenticated GET of JSON records, paginated with
  ``page_size``/``page`` (``Job Cek Script/app.py:125-129``), consumed as
  a table.

Design:

- *Batch reads walk the pages on the driver* (:func:`rest_read`), as the
  reference does (``sync.py:35-46``): page 0 reports the listing's
  ``total`` and its rows are kept, then only the pages under
  ``min(total, limit)`` are fetched, one after another, and the rows
  become a frame through ``tables.local_frame``.  The listings are small
  (the node listing is the 25-row ``nation`` dim, ≤ 4 pages of the
  reference's ``page_size=8``), so Spark planning, partitions and a
  Python worker would cost more than the GETs.  ``limit`` is the
  reference's bounded fetch (``page_size=8&page=0``, ``app.py:126``):
  ``ceil(limit / page_size)`` GETs, page 0 included.  Predicates are
  Spark expressions on the returned frame.
- *Streaming reads* go through the ``rest`` Python DataSource
  (``spark.readStream.format("rest")``, :class:`RestStreamReader`),
  whose poll walks the same pages with the same routine.
- *Auth on the driver*: :func:`login` exchanges the credentials for a
  bearer token; :func:`rest_read` is handed the token only, so an expired
  token fails the read fast (:class:`TokenExpiredError`), while the
  stream reader logs in again once and carries on.
"""

from __future__ import annotations

import json
import os
import urllib.request
from collections.abc import Callable, Iterator

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from ..tables import local_frame
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

    - **Batch reads fail fast with this error.**  :func:`rest_read` is
      handed a token, never the credentials, so it *cannot* re-login;
      retrying a deterministic 401 would only burn the retry budget and
      mask the cause.  The caller, who holds the credentials, re-logins
      and re-runs.
    - **The streaming reader recovers automatically**: it polls on the
      driver and logs in with the environment's credentials
      (:func:`login`), so on a 401 it performs ONE re-login and replays
      the request; a second consecutive 401 propagates (that's a real
      auth failure, not expiry).
    """


def _get_json(url: str, token: str) -> dict:
    """Bounded-retry GET — the one chokepoint every page/probe fetch of
    the batch walk and the stream reader goes through.  A paginated read
    sees transient 5xx/connection blips on SOME page fetch; without
    per-request retry one blip kills the whole read.  Deterministic 4xx (bad token, bad path) still fails fast — retrying
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


def _walk_pages(
    get: Callable[[str], dict],
    url: str,
    page_size: int,
    lo: int = 0,
    hi: int | None = None,
) -> list[dict]:
    """Rows ``[lo, hi)`` of the paginated listing at ``url`` (``hi=None``:
    to the end), fetched one page at a time, in order, through ``get``.

    Every page reports the listing's ``total``, which caps ``hi``, so the
    first page fetched decides how many follow and no page past the end
    is requested: a read of ``n`` rows from 0 costs ``ceil(n/page_size)``
    GETs, page 0 included.  A row's position is its page's base plus its
    index in the page, so a short page shifts nothing after it.  Returns a
    list, not a generator: Spark's simple-stream wrapper caches the
    prefetched batch and ``copy.copy()``s its iterator on replay, which a
    generator does not support."""
    rows: list[dict] = []
    page = lo // page_size
    while hi is None or page * page_size < hi:
        body = get(f"{url}?page={page}&page_size={page_size}")
        hi = body["total"] if hi is None else min(hi, body["total"])
        base = page * page_size
        rows += body["data"][max(0, lo - base) : max(0, hi - base)]
        page += 1
    return rows


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

    def _fetch_range(self, lo: int, hi: int) -> list[tuple]:
        rows = _walk_pages(self._get, self.base_url + self.path, self.page_size, lo, hi)
        return [tuple(r.get(k) for k in self.fields) for r in rows]

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
    """``spark.readStream.format("rest")`` — options: base_url, token,
    page_size, optional path (endpoint, default the projects list) and
    schema (DDL string whose field names are the JSON keys to project,
    default node schema).  Polls the endpoint incrementally (see
    RestStreamReader); batch reads are :func:`rest_read`."""

    @classmethod
    def name(cls) -> str:
        return "rest"

    def schema(self) -> str:
        return self.options.get("schema", NODE_SCHEMA)

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
    """The listing at ``path`` (default the projects list) as a
    driver-held frame: the pages are walked on the driver with ``token``
    (:func:`_walk_pages`), ``limit`` rows at most — the reference's
    bounded fetch (``app.py:126``) costs ``ceil(limit/page_size)`` GETs —
    projected to the field names of ``schema`` (default node schema).
    A 401 raises :class:`TokenExpiredError`."""
    schema = schema or NODE_SCHEMA
    rows = _walk_pages(
        lambda url: _get_json(url, token),
        base_url + (path or PROJECTS_PATH),
        page_size,
        hi=limit,
    )
    fields = _ddl_field_names(schema)
    return local_frame(spark, [tuple(r.get(k) for k in fields) for r in rows], schema)


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
