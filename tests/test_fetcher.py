"""The Fetcher seam (sources/fetcher.py): MockWebFetcher and HttpFetcher
must be interchangeable behind the same contract — same f_status taxonomy,
same payload/response_url semantics. The HTTP implementation is exercised
over REAL loopback sockets (a threading HTTP server serving mock-graph
pages), including redirects, POST bodies, transient 5xx (retryable), 404
(gone), and a FULL engine crawl that must still match the
reference-semantics simulator byte-for-byte (VERDICT r2 'Next round #5')."""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from crawler_spark.simulator import simulate_crawl
from crawler_spark.sources.fetcher import HttpFetcher, MockWebFetcher
from crawler_spark.sources.mock_web import build_site_graph, page_key, seeds_df
from crawler_spark.streaming.crawl_loop import CrawlEngine


def _rewrite_graph(graph: dict, base: str) -> dict:
    """Point every URL in a single-host mock graph at the loopback server
    (payload hrefs included), so HttpFetcher and the simulator crawl the
    SAME address space."""
    old = "http://site0.example.com"

    def rw(s):
        return s.replace(old, base) if isinstance(s, str) else s

    pages = {}
    for p in graph["pages"].values():
        payload = p["payload"]
        payload = (
            rw(payload) if isinstance(payload, str)
            else json.loads(rw(json.dumps(payload)))
        )
        np = dict(p, url=rw(p["url"]), response_url=rw(p["response_url"]),
                  payload=payload, host="127.0.0.1")
        pages[page_key(np["url"], np["method"], np["body"])] = np
    return dict(
        graph,
        pages=pages,
        seeds=[dict(s, url=rw(s["url"])) for s in graph["seeds"]],
    )


def _body_str(page: dict) -> str:
    p = page["payload"]
    return p if isinstance(p, str) else json.dumps(p)


class _GraphHandler(BaseHTTPRequestHandler):
    """Serves a mock graph over real HTTP: 302 for redirect pages (and 200
    at the redirect target), 503 for the first ``fail_times`` hits of a
    flaky page, 404 for unknown URLs."""

    graph: dict = {}
    hits: dict = {}
    hit_times: dict = {}
    lock = threading.Lock()

    def _serve(self, method: str):
        length = int(self.headers.get("Content-Length") or 0)
        body = self.rfile.read(length).decode() if length else ""
        url = f"http://{self.headers['Host']}{self.path}"
        key = (url, method, body)
        with self.lock:
            self.hit_times.setdefault(key, []).append(time.monotonic())
        page = self.graph["pages"].get(key)
        if page is None:
            # redirect target: serve the redirecting page's content
            page = self.graph.get("_by_response", {}).get(key)
            if page is None:
                self.send_error(404)
                return
            self._send_payload(page)
            return
        with self.lock:
            n = self.hits.get(key, 0)
            self.hits[key] = n + 1
        if n < page.get("fail_times", 0):
            self.send_error(503)
            return
        if page["response_url"] != page["url"]:
            self.send_response(302)
            self.send_header("Location", page["response_url"])
            self.end_headers()
            return
        self._send_payload(page)

    def _send_payload(self, page: dict):
        data = _body_str(page).encode()
        self.send_response(200)
        self.send_header("Content-Type", "text/html; charset=utf-8")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def do_GET(self):
        self._serve("GET")

    def do_POST(self):
        self._serve("POST")

    def log_message(self, *a):
        pass


@pytest.fixture(scope="module")
def http_graph():
    """A single-host mock graph served over loopback HTTP. Redirects and
    flaky pages included; graph bytes are rewritten to the exact HTTP body
    length so A4 metrics agree between fetchers. One synthetic POST page
    is added for the contract test."""
    g = build_site_graph(n_sites=1, cats_per_site=2, pages_per_cat=2,
                         entries_per_page=3, dup_fraction=0.2,
                         flaky_fraction=0.25, seed=41)
    server = ThreadingHTTPServer(("127.0.0.1", 0), _GraphHandler)
    base = f"http://127.0.0.1:{server.server_port}"
    g = _rewrite_graph(g, base)
    g["pages"][(f"{base}/api/feed", "POST", "page=1")] = {
        "url": f"{base}/api/feed", "method": "POST", "body": "page=1",
        "response_url": f"{base}/api/feed", "kind": "api",
        "payload": {"entries": [], "has_more": False}, "host": "127.0.0.1",
        "fail_times": 0, "required_cookie": None, "source": None,
    }
    # Deterministic contract-test targets regardless of the random layout:
    # one clean redirect page, one flaky non-redirect page.
    redirs = [p for p in g["pages"].values() if p["response_url"] != p["url"]]
    assert redirs
    redirs[0]["fail_times"] = 0
    plain_arts = [p for p in g["pages"].values()
                  if p["response_url"] == p["url"] and p["kind"] == "article"]
    plain_arts[0]["fail_times"] = max(plain_arts[0].get("fail_times", 0), 1)
    for p in g["pages"].values():
        p["bytes"] = len(_body_str(p).encode())
    g["_by_response"] = {
        (p["response_url"], p["method"], p["body"]): p
        for p in g["pages"].values() if p["response_url"] != p["url"]
    }
    _GraphHandler.graph = g
    _GraphHandler.hits = {}
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    yield g
    server.shutdown()


def _admitted_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "url string, method string, body string, attempt int,"
        " parse_kind string, ua string, cookie string, host string",
    )


def test_http_and_mock_fetchers_agree_on_contract(spark, http_graph):
    """Same admitted rows through both fetchers → identical
    (f_status, payload, response_url) per row: ok / POST ok /
    redirect-followed / retryable / past-failures ok / gone."""
    from crawler_spark.sources.mock_web import site_graph_df

    pages = [p for p in http_graph["pages"].values()]
    plain = next(p for p in pages if p["response_url"] == p["url"]
                 and not p.get("fail_times") and p["method"] == "GET")
    post = next(p for p in pages if p["method"] == "POST")
    redir = next(p for p in pages if p["response_url"] != p["url"]
                 and not p.get("fail_times"))
    flaky = next(p for p in pages if p.get("fail_times"))
    mk = lambda p, attempt=0: (p["url"], p["method"], p["body"], attempt,
                               p["kind"], "ua-x", None, "127.0.0.1")
    graph_df = site_graph_df(
        spark, {"pages": {k: v for k, v in http_graph["pages"].items()
                          if isinstance(v, dict) and "url" in v}}
    )
    mock_f = MockWebFetcher(spark, graph_df)
    http_f = HttpFetcher(timeout_s=10)

    def run(fetcher, rows):
        out = fetcher.fetch(_admitted_df(spark, rows)).collect()
        return {(r.url, r.method, r.attempt):
                (r.f_status, r.g_payload, r.g_response_url) for r in out}

    rows1 = [mk(plain), mk(post), mk(redir),
             (plain["url"] + "-nope", "GET", "", 0, "article", "ua-x",
              None, "127.0.0.1")]
    _GraphHandler.hits = {}
    http1 = run(http_f, rows1)
    mock1 = run(mock_f, rows1)
    assert http1 == mock1
    assert {v[0] for v in http1.values()} == {"ok", "gone"}
    assert http1[(redir["url"], "GET", 0)][2] == redir["response_url"]

    # flaky page: attempt 0 sees the transient failure...
    _GraphHandler.hits = {}
    rows2 = [mk(flaky, 0)]
    assert run(http_f, rows2) == run(mock_f, rows2)
    assert next(iter(run(mock_f, rows2).values()))[0] == "retryable"
    # ...and once the server has already failed fail_times times (the
    # state a retrying crawl arrives in), attempt = fail_times succeeds.
    ft = flaky["fail_times"]
    fkey = (flaky["url"], flaky["method"], flaky["body"])
    _GraphHandler.hits = {fkey: ft}
    rows3 = [mk(flaky, ft)]
    assert run(http_f, rows3) == run(mock_f, rows3)
    assert next(iter(run(mock_f, rows3).values()))[0] == "ok"


@pytest.mark.parametrize("concurrency", [1, 8])
def test_engine_over_real_http_matches_simulator(spark, http_graph,
                                                 tmp_path_factory,
                                                 concurrency):
    """The full micro-batch engine with HttpFetcher — every fetch a real
    loopback HTTP request — reproduces the simulator byte-for-byte:
    ordered crawl log, URL-seen set, docs, spans, metrics, and the retry
    schedule. Runs both serial and thread-pooled (CONCURRENT_REQUESTS
    semantics): per-host serial ordering makes the concurrent fetcher
    byte-identical too."""
    _GraphHandler.hits = {}
    sim = simulate_crawl(http_graph)
    ckpt = tmp_path_factory.mktemp(f"ckpt_http_{concurrency}")
    eng = CrawlEngine(
        spark,
        site_graph=None,
        registry=http_graph["registry"],
        seeds=seeds_df(spark, http_graph),
        cutoff_epoch=http_graph["cutoff_epoch"],
        as_of=http_graph["as_of"],
        checkpoint_dir=str(ckpt),
        fetcher=HttpFetcher(timeout_s=10, concurrency=concurrency),
    )
    res = eng.run()

    from tests.test_crawl_e2e import (
        _engine_docs,
        _engine_log,
        _engine_metrics,
        _sim_docs,
    )

    assert _engine_log(res) == sim["crawl_log"]
    assert {r.url for r in res["url_seen"].collect()} == sim["url_seen"]
    assert _engine_docs(res) == _sim_docs(sim)
    assert _engine_metrics(res) == sorted(sim["metrics"])
    # the flaky pages really went through the HTTP retry path
    assert res["crawl_log"].filter("attempt > 0").count() > 0


def test_paced_http_fetcher_honors_schedule(spark, http_graph):
    """paced=True realizes fetch_schedule's scheduled_at on the wall
    clock: same-host requests arrive at the server ≥ crawl_delay apart
    (DOWNLOAD_DELAY semantics, settings.py:28); unpaced requests arrive
    as one burst. Measured at the SERVER (arrival timestamps), not by
    Spark wall time."""
    pages = [p for p in http_graph["pages"].values()
             if p["response_url"] == p["url"] and not p.get("fail_times")
             and p["method"] == "GET"]
    three = pages[:3]
    assert len(three) == 3
    delay = 0.6
    rows = [
        (p["url"], "GET", "", 0, p["kind"], "ua-x", None, "127.0.0.1",
         rank, delay)
        for rank, p in enumerate(three, start=1)
    ]
    adf = spark.createDataFrame(
        rows,
        "url string, method string, body string, attempt int,"
        " parse_kind string, ua string, cookie string, host string,"
        " host_rank int, crawl_delay double",
    )
    _GraphHandler.hit_times = {}
    out = HttpFetcher(timeout_s=10, paced=True).fetch(adf).collect()
    assert {r.f_status for r in out} == {"ok"}
    assert not any(hasattr(r, "pace_off") for r in out)
    times = sorted(
        t for ts in _GraphHandler.hit_times.values() for t in ts
    )
    assert len(times) == 3
    gaps = [b - a for a, b in zip(times, times[1:])]
    assert all(g >= delay * 0.75 for g in gaps), gaps
    # unpaced: the same rows arrive in one burst, no spacing imposed
    _GraphHandler.hit_times = {}
    HttpFetcher(timeout_s=10).fetch(adf).collect()
    times2 = sorted(
        t for ts in _GraphHandler.hit_times.values() for t in ts
    )
    assert len(times2) == 3
    assert max(times2) - min(times2) < delay


def test_paced_pacing_holds_across_arrow_batches(spark, http_graph):
    """The pacing seam (fetcher.py): offsets are anchored to the
    PARTITION's fetch start (t0 before the batch loop), so DOWNLOAD_DELAY
    spacing must hold even when one host's admitted rows span multiple
    Arrow batches.  Force maxRecordsPerBatch below the host budget and
    measure arrival gaps at the server."""
    page = next(p for p in http_graph["pages"].values()
                if p["response_url"] == p["url"] and not p.get("fail_times")
                and p["method"] == "GET")
    delay = 0.4
    n = 6  # host budget 6 > Arrow batch size 2 -> >=3 batches
    rows = [
        (page["url"], "GET", "", 0, page["kind"], "ua-x", None,
         "127.0.0.1", rank, delay)
        for rank in range(1, n + 1)
    ]
    adf = spark.createDataFrame(
        rows,
        "url string, method string, body string, attempt int,"
        " parse_kind string, ua string, cookie string, host string,"
        " host_rank int, crawl_delay double",
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "2")
    try:
        _GraphHandler.hit_times = {}
        out = HttpFetcher(timeout_s=10, paced=True).fetch(adf).collect()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert {r.f_status for r in out} == {"ok"} and len(out) == n
    times = sorted(
        t for ts in _GraphHandler.hit_times.values() for t in ts
    )
    assert len(times) == n
    gaps = [b - a for a, b in zip(times, times[1:])]
    assert all(g >= delay * 0.75 for g in gaps), gaps


class _SlowHandler(BaseHTTPRequestHandler):
    """Serves every GET after a fixed delay and records each request's
    [start, end] service interval keyed by path."""

    delay = 0.4
    intervals: dict = {}
    lock = threading.Lock()

    def do_GET(self):
        t_start = time.monotonic()
        time.sleep(self.delay)
        data = b"<html>ok</html>"
        self.send_response(200)
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)
        with self.lock:
            self.intervals.setdefault(self.path, []).append(
                (t_start, time.monotonic())
            )

    def log_message(self, *a):
        pass


def test_concurrent_fetcher_overlaps_hosts_serializes_within_host(spark):
    """CONCURRENT_REQUESTS realization: within ONE partition, requests to
    DIFFERENT hosts overlap on the wall clock (thread pool), while each
    host's own requests stay strictly serial (the DOWNLOAD_DELAY-
    compatible ordering). Proven from the server's per-request service
    intervals, not Spark timings."""
    server = ThreadingHTTPServer(("127.0.0.1", 0), _SlowHandler)
    base = f"http://127.0.0.1:{server.server_port}"
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        _SlowHandler.intervals = {}
        rows = [
            (f"{base}/{host}/{i}", "GET", "", 0, "article", "ua", None, host)
            for host in ("host-a", "host-b") for i in (1, 2)
        ]
        adf = _admitted_df(spark, rows).repartition(1)
        out = HttpFetcher(timeout_s=10, concurrency=8).fetch(adf).collect()
        assert {r.f_status for r in out} == {"ok"}

        by_host: dict = {}
        for path, ivs in _SlowHandler.intervals.items():
            by_host.setdefault(path.split("/")[1], []).extend(ivs)
        assert set(by_host) == {"host-a", "host-b"} and all(
            len(v) == 2 for v in by_host.values()
        )

        def overlaps(a, b):
            return a[0] < b[1] and b[0] < a[1]

        # cross-host: at least one a-interval overlaps one b-interval
        assert any(
            overlaps(a, b)
            for a in by_host["host-a"] for b in by_host["host-b"]
        ), by_host
        # same-host: strictly serial
        for ivs in by_host.values():
            ivs = sorted(ivs)
            assert ivs[0][1] <= ivs[1][0], ivs
    finally:
        server.shutdown()


def test_http_fetcher_malformed_url_is_gone_not_crash(spark):
    """A malformed URL raises ValueError inside urllib BEFORE any network
    I/O; the fetch stage must record f_status='gone' for that row instead
    of killing the Spark task (one bad href in a batch must not abort the
    crawl batch)."""
    adf = _admitted_df(spark, [
        ("not a url at all", "GET", "", 0, "article", "ua", None, "h"),
    ])
    out = {r.url: r.f_status
           for r in HttpFetcher(timeout_s=2).fetch(adf).collect()}
    assert out == {"not a url at all": "gone"}


def test_paced_fetcher_requires_admission_columns(spark):
    import pytest as _pytest

    adf = spark.createDataFrame(
        [("http://x/", "GET", "", 0, "article", "ua", None, "x")],
        "url string, method string, body string, attempt int,"
        " parse_kind string, ua string, cookie string, host string",
    )
    with _pytest.raises(ValueError, match="host_rank"):
        HttpFetcher(paced=True).fetch(adf)


def test_mock_side_fetch_map_is_capped(spark, monkeypatch):
    """The mock's in-parse side-fetch map is the whole GET graph collected
    to the driver: above its row cap it raises instead of collecting."""
    from crawler_spark.sources import fetcher
    from crawler_spark.sources.mock_web import site_graph_df

    graph = build_site_graph(n_sites=1, cats_per_site=1, pages_per_cat=1,
                             entries_per_page=3, seed=3)
    gdf = site_graph_df(spark, graph)
    n_get = gdf.filter("method = 'GET' AND body = ''").count()
    assert n_get > 2
    monkeypatch.setattr(fetcher, "SIDE_MAP_MAX_ROWS", 2)
    with pytest.raises(ValueError, match="SIDE_MAP_MAX_ROWS=2"):
        MockWebFetcher(spark, gdf).side_fetch_fn()
    monkeypatch.setattr(fetcher, "SIDE_MAP_MAX_ROWS", n_get)
    side = MockWebFetcher(spark, gdf).side_fetch_fn()
    url = gdf.filter("method = 'GET' AND body = ''").first().url
    assert side(url) is not None
