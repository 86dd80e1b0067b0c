"""Paged-REST source: fixture transport, retry policy, DataSource reads."""

from __future__ import annotations

import json
import threading

import pytest

from pyspark.sql.pandas.types import to_arrow_schema

from tmdb_movie_data_pipeline_spark.sources import rest
from tmdb_movie_data_pipeline_spark.sources.rest import (
    SOURCE_SCHEMA,
    PagedRestDataSource,
    PermanentHttpError,
    RetryPolicy,
    TransientHttpError,
    fetch_window,
    fetch_windows_to_arrow,
)


def _page(ids, total_pages):
    return {
        "total_pages": total_pages,
        "results": [
            {"id": i, "title": f"m{i}", "genre_ids": [28], "vote_count": 10,
             "popularity": float(100 - i), "adult": False}
            for i in ids
        ],
    }


def test_fetch_window_pages_through(tmp_path):
    calls = []

    def transport(params):
        calls.append(params["page"])
        return _page(range(params["page"] * 10, params["page"] * 10 + 2), total_pages=3)

    rows = list(fetch_window(transport, "2023-01-01", "2023-01-31"))
    assert calls == [1, 2, 3]
    assert len(rows) == 6


def test_fetch_window_reuses_a_fetched_first_page():
    calls = []

    def transport(params):
        calls.append(params["page"])
        return _page([params["page"]], total_pages=3)

    rows = list(fetch_window(transport, "2023-01-01", "2023-01-31", first=_page([1], 3)))
    assert calls == [2, 3]  # page 1 was passed in, not requested again
    assert [r["id"] for r in rows] == [1, 2, 3]


JAN, FEB, MAR = (
    ("2023-01-01", "2023-01-31"), ("2023-02-01", "2023-02-28"), ("2023-03-01", "2023-03-31")
)


def _fixture_opts(tmp_path, monkeypatch, pages, on_request=None):
    """Fixture source options serving ``pages`` ({(window, page): doc});
    February's page 1 is unreadable JSON, so requesting it fails. Returns
    (options, the (date_from, page) of every request)."""
    for ((a, b), p), doc in pages.items():
        (tmp_path / f"{a}_{b}_p{p}.json").write_text(json.dumps(doc))
    (tmp_path / f"{FEB[0]}_{FEB[1]}_p1.json").write_text("{not json")
    calls = []
    fixture = rest._fixture_transport

    def counting(fixture_dir):
        serve = fixture(fixture_dir)

        def transport(params):
            calls.append((params["primary_release_date.gte"], params["page"]))
            if on_request:
                on_request(params)
            return serve(params)

        return transport

    monkeypatch.setattr(rest, "_fixture_transport", counting)
    return {"fixture_dir": str(tmp_path)}, calls


def test_fetch_windows_to_arrow_requests_only_the_given_windows(tmp_path, monkeypatch):
    """The driver fetch pages through exactly the windows it is given, each
    page once; a cap ≤ 0 sends no request at all."""
    pages = {(JAN, 1): _page([1, 2], 2), (JAN, 2): _page([3], 2), (MAR, 1): _page([4], 1)}
    opts, calls = _fixture_opts(tmp_path, monkeypatch, pages)

    table = fetch_windows_to_arrow(opts, [JAN, MAR], 1 << 20)
    assert sorted(calls) == [(JAN[0], 1), (JAN[0], 2), (MAR[0], 1)]
    assert table.schema == to_arrow_schema(SOURCE_SCHEMA)
    assert table.column("id").to_pylist() == [1, 2, 3, 4]
    assert table.column("_window_key").to_pylist() == ["2023-01-01_2023-01-31"] * 3 + [
        "2023-03-01_2023-03-31"
    ]

    calls.clear()
    assert fetch_windows_to_arrow(opts, [JAN, MAR], 0) is None
    assert calls == []


def test_fetch_windows_to_arrow_stops_requesting_once_over_the_cap(tmp_path, monkeypatch):
    """Over the cap, the first page that pushes the estimate past it is the
    last request: later windows' first pages (February's would fail to
    parse) and the remaining pages are never requested."""
    pages = {(JAN, 1): _page([1, 2], 2), (JAN, 2): _page([3], 2), (MAR, 1): _page([4], 1)}
    opts, calls = _fixture_opts(tmp_path, monkeypatch, pages)

    assert fetch_windows_to_arrow(opts, [JAN, FEB, MAR], 1) is None
    assert calls == [(JAN[0], 1)]


def test_fetch_windows_to_arrow_fetches_windows_concurrently(tmp_path, monkeypatch):
    """``workers`` windows are in flight at once (the barrier only opens
    when all three first pages are requested together), and the table
    keeps the windows' order."""
    apr = ("2023-04-01", "2023-04-30")
    pages = {
        (JAN, 1): _page([1], 2), (JAN, 2): _page([2], 2),
        (MAR, 1): _page([3], 1), (apr, 1): _page([4], 1),
    }
    barrier = threading.Barrier(3, timeout=10)

    def on_request(params):
        if params["page"] == 1:
            barrier.wait()

    opts, calls = _fixture_opts(tmp_path, monkeypatch, pages, on_request)
    table = fetch_windows_to_arrow(opts, [JAN, MAR, apr], 1 << 20, workers=3)
    assert table.column("id").to_pylist() == [1, 2, 3, 4]
    assert len(calls) == 4


def test_fetch_window_page_cap_warns():
    def transport(params):
        return _page([params["page"]], total_pages=50)

    with pytest.warns(UserWarning, match="truncating"):
        rows = list(fetch_window(transport, "2023-01-01", "2023-01-31", max_pages=5))
    assert len(rows) == 5  # stopped at the cap (R3), loudly (vs silent in reference)


def test_fetch_window_pushes_down_predicates():
    seen = {}

    def transport(params):
        seen.update(params)
        return _page([1], total_pages=1)

    list(fetch_window(transport, "2023-01-01", "2023-01-31", min_votes=42))
    # R1/R2: predicates and ordering travel to the source as params
    assert seen["primary_release_date.gte"] == "2023-01-01"
    assert seen["primary_release_date.lte"] == "2023-01-31"
    assert seen["vote_count.gte"] == 42
    assert seen["include_adult"] == "false"
    assert seen["sort_by"] == "popularity.desc"


def test_retry_policy_backoff_and_recovery():
    sleeps = []
    attempts = []

    def flaky():
        attempts.append(1)
        if len(attempts) < 4:
            raise TransientHttpError(500)
        return {"ok": True}

    rp = RetryPolicy(max_retries=6, backoff_base=1.0, sleep=sleeps.append)
    assert rp.call(flaky) == {"ok": True}
    assert sleeps == [1.0, 2.0, 4.0]  # exponential 1·2^k (movie.py:106)


def test_retry_policy_honors_retry_after():
    sleeps = []
    state = {"n": 0}

    def rate_limited():
        state["n"] += 1
        if state["n"] == 1:
            raise TransientHttpError(429, retry_after=7.5)
        return {}

    RetryPolicy(sleep=sleeps.append).call(rate_limited)
    assert sleeps == [7.5]  # 429 Retry-After honored (movie.py:113-121)


def test_retry_policy_fail_fast_on_4xx():
    def bad():
        raise PermanentHttpError("HTTP 404")

    with pytest.raises(PermanentHttpError):
        RetryPolicy().call(bad)


def test_retry_budget_exhausted():
    def always_down():
        raise TransientHttpError(503)

    with pytest.raises(RuntimeError, match="retry budget exhausted"):
        RetryPolicy(max_retries=3, sleep=lambda s: None).call(always_down)


def test_datasource_reads_fixture_pages(spark, tmp_path):
    # two month-windows, each with one fixture page; reader partitions =
    # windows, so this exercises the full DataSource path offline
    for win_start, win_end, ids in [
        ("2023-01-01", "2023-01-31", [1, 2]),
        ("2023-02-01", "2023-02-28", [3]),
    ]:
        page = _page(ids, total_pages=1)
        (tmp_path / f"{win_start}_{win_end}_p1.json").write_text(json.dumps(page))

    spark.dataSource.register(PagedRestDataSource)
    df = (
        spark.read.format("paged_rest")
        .option("date_from", "2023-01-01")
        .option("date_to", "2023-02-28")
        .option("fixture_dir", str(tmp_path))
        .load()
    )
    rows = df.collect()
    assert {r.id for r in rows} == {1, 2, 3}
    assert df.rdd.getNumPartitions() == 2  # one partition per month window


def test_datasource_end_to_end_normalize(spark, tmp_path):
    # ingest → normalize → dedup: the reference pipeline shape, offline
    page = _page([5, 5, 6], total_pages=1)  # duplicate id 5 within the batch
    (tmp_path / "2023-01-01_2023-01-31_p1.json").write_text(json.dumps(page))
    spark.dataSource.register(PagedRestDataSource)
    raw = (
        spark.read.format("paged_rest")
        .option("date_from", "2023-01-01")
        .option("date_to", "2023-01-31")
        .option("fixture_dir", str(tmp_path))
        .load()
    )
    from pyspark.sql import functions as F

    from tmdb_movie_data_pipeline_spark.operators.normalize import normalize_movies
    from tmdb_movie_data_pipeline_spark.operators.windows import keep_first

    movies = normalize_movies(raw, "https://cdn/", "w500", {28: "Action"})
    deduped = keep_first(movies, ["tmdb_id"], [F.desc("popularity")])
    assert deduped.count() == 2  # A1 dedup semantics (movie.py:275)


def test_http_transport_against_local_server(spark):
    """Exercise the REAL HTTP path (_http_transport + DataSource) against an
    in-process localhost server: first request per page 429s with
    Retry-After, then 503s once, then succeeds — the full S2 ladder."""
    import http.server
    import json as _json
    import threading
    import urllib.parse

    hits = {}

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            q = urllib.parse.parse_qs(urllib.parse.urlparse(self.path).query)
            page = int(q["page"][0])
            hits[page] = hits.get(page, 0) + 1
            if hits[page] == 1:
                self.send_response(429)
                self.send_header("Retry-After", "0")
                self.end_headers()
                return
            if hits[page] == 2:
                self.send_response(503)
                self.end_headers()
                return
            body = _json.dumps(
                {
                    "total_pages": 2,
                    "results": [
                        {"id": page * 10, "title": f"p{page}", "genre_ids": [28],
                         "vote_count": 1, "popularity": 1.0, "adult": False}
                    ],
                }
            ).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # quiet
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        from tmdb_movie_data_pipeline_spark.sources.rest import (
            PagedRestDataSource,
            RetryPolicy,
            _http_transport,
            fetch_window,
        )

        transport = _http_transport(
            {"base_url": f"http://127.0.0.1:{port}", "bearer_token": "t"}
        )
        rows = list(
            fetch_window(
                transport,
                "2023-01-01",
                "2023-01-31",
                retry=RetryPolicy(sleep=lambda s: None),
            )
        )
        assert [r["id"] for r in rows] == [10, 20]
        # each page: 429 → 503 → 200 = exactly 3 hits, no over-retry
        assert hits == {1: 3, 2: 3}
    finally:
        srv.shutdown()
