"""Paged-REST batch source (SURVEY.md §2.1 S1/S2, §4 R1-R3/R9-R10).

The reference's ingest is a sequential page loop per month window with
retry/backoff/rate-limit (src/movie.py:98-129, 145-182). This module keeps
that loop (:func:`fetch_window`) and offers two ways to run it:

* **on the driver** (:func:`fetch_windows_to_arrow`), several windows
  at once on threads: page 1 of every requested window is fetched first;
  when the windows' estimated Arrow size fits the caller's byte cap, the
  remaining pages follow and the rows come back as ONE Arrow table for
  ``spark.createDataFrame`` — no Python worker, no DataSource planning
  round trip;
* **on executors** (:class:`PagedRestDataSource`,
  ``spark.read.format("paged_rest")``), the PySpark Python DataSource
  API (Spark 4.x): **partitions = date windows** (one per calendar
  month), each executor task pages through one window — the reference's
  outer loop, parallelized. ``pipeline.run_backfill`` falls back to it
  when the driver estimate is over the cap.

Both run the same loop with the same options:

* **pushdown by option** (R1-R3): date range, min_votes, include_adult and
  the page cap travel as reader options into the request parameters — the
  Python DS API has no filter-pushdown hook yet, so predicates are
  forwarded explicitly, exactly like the reference's API params;
* **per-request resilience** (S2/R10): bounded retries with exponential
  backoff, Retry-After honor on 429, fail-fast on other 4xx — per window;
  on executors, task-level retries are Spark's (the driver fetch has
  none);
* **rate limit** (R9): polite sleep between pages, per window;
* **fixture transport**: tests and offline runs inject a deterministic
  page-serving function instead of a network session — no sockets needed.

The page cap (reference: 500 pages → silent 10k-row truncation,
src/movie.py:161-168) is an explicit option here and the reader reports the
truncation loudly via a warning instead of silently dropping data.
"""

from __future__ import annotations

import json
import threading
import time
import warnings
from collections.abc import Callable, Iterable, Iterator
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from datetime import date
from itertools import islice

import pyarrow as pa
from pyspark.sql.conversion import LocalDataToArrowConversion
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StringType, StructField, StructType

from ..schemas import RAW_MOVIE_SCHEMA

__all__ = [
    "PagedRestDataSource",
    "SOURCE_SCHEMA",
    "month_windows",
    "fetch_window",
    "fetch_windows_to_arrow",
    "RetryPolicy",
]

#: What the source emits: the raw API record plus the window that fetched it
#: (the unit/checkpoint key — attribution by provenance, not by value).
SOURCE_SCHEMA = StructType(
    list(RAW_MOVIE_SCHEMA.fields) + [StructField("_window_key", StringType(), False)]
)

PAGE_SIZE = 20
DEFAULT_MAX_PAGES = 500


def month_windows(start: str, end: str) -> list[tuple[str, str]]:
    """Calendar-month (start, end) ISO windows covering [start, end] —
    the partition planner (reference month_ranges, src/movie.py:228-238).

    Exact reference semantics, pinned by its own tests
    (tests/test_movie.py:87-117): the start is snapped to the first of its
    month (a mid-month start still fetches the whole month), the final
    window is clamped to ``end``.
    """
    s = date.fromisoformat(start)
    e = date.fromisoformat(end)
    cur = date(s.year, s.month, 1)
    out: list[tuple[str, str]] = []
    while cur <= e:
        nxt = date(cur.year + (cur.month == 12), cur.month % 12 + 1, 1)
        last = min(date.fromordinal(nxt.toordinal() - 1), e)
        out.append((cur.isoformat(), last.isoformat()))
        cur = nxt
    return out


@dataclass
class RetryPolicy:
    """S2 semantics: bounded retries, exponential backoff, 429 Retry-After."""

    max_retries: int = 6
    backoff_base: float = 1.0
    sleep: Callable[[float], None] = time.sleep

    def call(self, fn: Callable[[], dict]) -> dict:
        last_exc: Exception | None = None
        for attempt in range(self.max_retries):
            try:
                return fn()
            except TransientHttpError as exc:
                last_exc = exc
                wait = (
                    exc.retry_after
                    if exc.retry_after is not None
                    else self.backoff_base * (2**attempt)
                )
                self.sleep(wait)
            except PermanentHttpError:
                raise
        raise RuntimeError(f"retry budget exhausted: {last_exc}")


class TransientHttpError(Exception):
    """5xx / 429 — retryable."""

    def __init__(self, status: int, retry_after: float | None = None):
        super().__init__(f"HTTP {status}")
        self.status = status
        self.retry_after = retry_after


class PermanentHttpError(Exception):
    """Other 4xx — fail fast (reference src/movie.py:123-126)."""


def _window_params(
    date_from: str, date_to: str, min_votes: int, include_adult: bool, language: str | None
) -> dict:
    params = {
        "primary_release_date.gte": date_from,
        "primary_release_date.lte": date_to,
        "vote_count.gte": min_votes,
        "include_adult": str(include_adult).lower(),
        "sort_by": "popularity.desc",
        "page": 1,
    }
    if language:  # reference sends it on every request (src/movie.py:151)
        params["language"] = language
    return params


def fetch_window(
    transport: Callable[[dict], dict],
    date_from: str,
    date_to: str,
    *,
    min_votes: int = 0,
    include_adult: bool = False,
    max_pages: int = DEFAULT_MAX_PAGES,
    polite_sleep: float = 0.0,
    retry: RetryPolicy | None = None,
    sleeper: Callable[[float], None] = time.sleep,
    language: str | None = None,
    first: dict | None = None,
) -> Iterator[dict]:
    """Page through one window via ``transport(params) -> page_dict``.

    ``transport`` is the seam: a real HTTP session adapter in production, a
    fixture function in tests. Pushed-down predicates ride in the params
    (R1), ordering is the source's popularity-desc contract (R2), and the
    page cap stops fetching early (R3) — with a loud warning, never silent.
    ``first`` is the window's page 1 when the caller already fetched it;
    it is not requested again.
    """
    retry = retry or RetryPolicy()
    params = _window_params(date_from, date_to, min_votes, include_adult, language)
    if first is None:
        first = retry.call(lambda: transport(dict(params)))
    total_pages = int(first.get("total_pages", 1))
    if total_pages > max_pages:
        warnings.warn(
            f"window {date_from}..{date_to}: {total_pages} pages > cap {max_pages}; "
            f"truncating to {max_pages * PAGE_SIZE} rows",
            stacklevel=2,
        )
    yield from first.get("results", [])
    for page in range(2, min(total_pages, max_pages) + 1):
        if polite_sleep:
            sleeper(polite_sleep)
        p = dict(params, page=page)
        got = retry.call(lambda p=p: transport(p))
        yield from got.get("results", [])


def _source_args(opts: dict) -> tuple[Callable[[dict], dict], dict, dict]:
    """(transport, query options, paging options) from the source options —
    parsed here once for both the executor reader and the driver fetch."""
    fixture_dir = opts.get("fixture_dir")
    if fixture_dir:
        transport = _fixture_transport(fixture_dir)
    else:  # pragma: no cover - network path, exercised on real clusters
        transport = _http_transport(opts)
    query = dict(
        min_votes=int(opts.get("min_votes", 0)),
        include_adult=opts.get("include_adult", "false") == "true",
        language=opts.get("language"),
    )
    paging = dict(
        max_pages=int(opts.get("max_pages", DEFAULT_MAX_PAGES)),
        polite_sleep=float(opts.get("polite_sleep", 0.0)),
    )
    return transport, query, paging


_FIELDS = [f.name for f in RAW_MOVIE_SCHEMA.fields]


def _source_rows(records: Iterable[dict], window_key: str) -> Iterator[tuple]:
    """SOURCE_SCHEMA tuples. Every row carries the window that fetched it:
    downstream unit attribution (checkpointing, partitioned writes) never
    has to re-derive the window from release_date — which would mis-bin
    clamped final windows and drop null release dates (ADVICE r1)."""
    for rec in records:
        yield tuple(rec.get(f) for f in _FIELDS) + (window_key,)


def _arrow_rows(rows: list[tuple]) -> pa.Table:
    """SOURCE_SCHEMA rows as Arrow, converted value by value the way the
    Python DataSource worker converts what :class:`_PagedRestReader`
    yields (an integral ``vote_average`` becomes a double, a non-string
    in a string column its ``str``), so both ingest paths type the same
    records identically."""
    if not rows:
        return to_arrow_schema(SOURCE_SCHEMA).empty_table()
    return LocalDataToArrowConversion.convert(rows, SOURCE_SCHEMA, use_large_var_types=False)


def fetch_windows_to_arrow(
    options: dict, windows: list[tuple[str, str]], cap_bytes: int, workers: int = 1
) -> pa.Table | None:
    """Fetch exactly ``windows`` on the driver into one SOURCE_SCHEMA
    table, or return ``None`` when they would not fit in ``cap_bytes``.

    Up to ``workers`` windows are fetched at once, on threads (the
    requests are I/O bound). Page 1 of every window comes first; the
    table's size is estimated per window as page 1's Arrow bytes × the
    pages that will be read (``min(total_pages, max_pages)``), summed as
    the first pages arrive. Once the sum passes the cap no further request
    starts and the caller runs the distributed read instead. A cap ≤ 0
    returns ``None`` before any request. Under the cap each window's
    remaining pages are fetched and converted to Arrow one window at a
    time per worker. ``options`` are the ``paged_rest`` source options.

    Only :class:`RetryPolicy` guards these requests: unlike an executor
    task, a driver fetch that exhausts its retries is not rerun.
    """
    if cap_bytes <= 0:
        return None
    transport, query, paging = _source_args(options)
    retry = RetryPolicy()
    lock, over = threading.Lock(), threading.Event()
    estimate = 0

    def first_page(window: tuple[str, str]) -> tuple[dict, pa.Table] | None:
        nonlocal estimate
        if over.is_set():
            return None
        a, b = window
        page = retry.call(lambda: transport(_window_params(a, b, **query)))
        head = _arrow_rows(list(_source_rows(page.get("results", []), f"{a}_{b}")))
        pages = min(int(page.get("total_pages", 1)), paging["max_pages"])
        with lock:
            estimate += head.nbytes * pages
            if estimate > cap_bytes:
                over.set()
        return page, head

    def whole_window(window: tuple[str, str], first: tuple[dict, pa.Table]) -> pa.Table:
        (a, b), (page, head) = window, first
        records = fetch_window(transport, a, b, first=page, retry=retry, **query, **paging)
        # page 1's records are already converted (head): convert the rest
        rest = islice(records, len(page.get("results", [])), None)
        return pa.concat_tables([head, _arrow_rows(list(_source_rows(rest, f"{a}_{b}")))])

    with ThreadPoolExecutor(max(workers, 1)) as pool:
        firsts = list(pool.map(first_page, windows))
        if over.is_set():
            return None
        tables = list(pool.map(whole_window, windows, firsts))
    if not tables:
        return _arrow_rows([])
    # one chunk: spark.createDataFrame streams a table batch by batch, and
    # in Spark 4.1 the rows behind an empty batch that follows a non-empty
    # one are lost (a window, or a window's tail, may have no rows)
    return pa.concat_tables(tables).combine_chunks()


class _WindowPartition(InputPartition):
    def __init__(self, date_from: str, date_to: str):
        self.date_from = date_from
        self.date_to = date_to


class _PagedRestReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.options = options

    def partitions(self) -> list[InputPartition]:
        wins = month_windows(self.options["date_from"], self.options["date_to"])
        return [_WindowPartition(a, b) for a, b in wins]

    def read(self, partition: _WindowPartition) -> Iterator[tuple]:
        transport, query, paging = _source_args(self.options)
        a, b = partition.date_from, partition.date_to
        yield from _source_rows(
            fetch_window(transport, a, b, **query, **paging), f"{a}_{b}"
        )


def _fixture_transport(fixture_dir: str) -> Callable[[dict], dict]:
    """Deterministic offline transport: pages live as JSON files named
    ``{date_from}_{date_to}_p{page}.json``; missing file → empty page."""

    def transport(params: dict) -> dict:
        path = (
            f"{fixture_dir}/{params['primary_release_date.gte']}_"
            f"{params['primary_release_date.lte']}_p{params['page']}.json"
        )
        try:
            with open(path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"total_pages": 0, "results": []}

    return transport


def _http_transport(opts: dict) -> Callable[[dict], dict]:  # pragma: no cover
    """Real HTTP transport: one session per partition (reference keeps one
    per process, src/movie.py:82-83). Imported lazily — offline images never
    touch it."""
    import urllib.error
    import urllib.parse
    import urllib.request

    base = opts["base_url"].rstrip("/")
    token = opts.get("bearer_token", "")

    def transport(params: dict) -> dict:
        url = f"{base}/discover/movie?{urllib.parse.urlencode(params)}"
        req = urllib.request.Request(url, headers={"Authorization": f"Bearer {token}"})
        try:
            with urllib.request.urlopen(req, timeout=25) as resp:
                return json.load(resp)
        except urllib.error.HTTPError as exc:
            retry_after = exc.headers.get("Retry-After")
            if exc.code == 429:
                raise TransientHttpError(429, float(retry_after) if retry_after else None)
            if exc.code >= 500:
                raise TransientHttpError(exc.code)
            raise PermanentHttpError(f"HTTP {exc.code}")

    return transport


def fetch_genre_map(
    base_url: str, bearer_token: str, language: str = "en-US"
) -> dict[int, str]:  # pragma: no cover - network path
    """Genre dimension fetch (/genre/movie/list) — the reference loads this
    once per run before the month loop (src/movie.py:132-142)."""
    import urllib.parse
    import urllib.request

    url = (
        f"{base_url.rstrip('/')}/genre/movie/list?"
        + urllib.parse.urlencode({"language": language})
    )
    req = urllib.request.Request(
        url, headers={"Authorization": f"Bearer {bearer_token}"}
    )
    with urllib.request.urlopen(req, timeout=25) as resp:
        doc = json.load(resp)
    return {int(g["id"]): g["name"] for g in doc.get("genres", [])}


class PagedRestDataSource(DataSource):
    """``spark.read.format("paged_rest")`` — register with
    ``spark.dataSource.register(PagedRestDataSource)``.

    Options: date_from, date_to (required); min_votes, include_adult,
    max_pages, polite_sleep, language, fixture_dir | (base_url,
    bearer_token). The read has one partition per calendar month from
    date_from to date_to, every month in that span.
    """

    @classmethod
    def name(cls) -> str:
        return "paged_rest"

    def schema(self) -> StructType:
        return SOURCE_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return _PagedRestReader(schema, dict(self.options))
