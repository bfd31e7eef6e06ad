"""The fetch seam — S3 as a pluggable stage (VERDICT r2 'Next round #5').

The reference's downloader is Twisted HTTP with a 30 s timeout and retry
middleware (demo/settings.py:28-29); this engine's fetch stage is a
contract, not a hardwired join:

    admitted frontier rows (url, method, body, ua, cookie, attempt, ...)
        → the same rows + (g_response_url, g_kind, g_payload, g_bytes,
                           f_status)

where ``f_status`` ∈ {'ok', 'retryable', 'gone'}: 'ok' = response
delivered (counts as fetched in A4 metrics), 'retryable' = transient
failure the engine re-enqueues with attempt+1 up to MAX_RETRIES (Scrapy's
retry middleware semantics), 'gone' = permanent miss (404 — logged and
dropped, no retry).

Two implementations ship:

- ``MockWebFetcher`` — a broadcast join against the deterministic mock
  site graph. Transient failures (``fail_times``) and the Cloudflare-style
  cookie gate (hatawtabloid.py:28,37: response arrives but the payload is
  unusable without the clearance cookie) live HERE, because they simulate
  network behavior, not crawl dataflow.
- ``HttpFetcher`` — real HTTP over urllib inside mapInPandas: one Arrow
  batch of URLs per Python invocation, per-request UA/Cookie headers
  (middlewares.py:59-62), 30 s timeout (settings.py:29), redirects
  followed (request_url vs response_url, middlewares.py:25-26). 5xx and
  timeouts are 'retryable'; 4xx are 'gone'.

Both pass the same contract test (tests/test_fetcher.py) — the HTTP one
against a loopback server serving the mock graph, so the two
implementations are interchangeable behind ``CrawlEngine(fetcher=...)``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FETCH_TIMEOUT_S = 30.0  # settings.py:29 DOWNLOAD_TIMEOUT

# Columns every fetcher appends to the admitted rows. ``g_latency_s`` is
# the response's download latency (W4 AutoThrottle's input): measured wall
# time in HttpFetcher; in the mock, a deterministic function of response
# size (bytes / LATENCY_BYTES_PER_SEC — a 50 KiB/s line) so engine and
# simulator fold bit-identical doubles. Null whenever f_status != 'ok' (a
# timeout has no response; the mock models 404 as absence).
FETCH_COLS = (
    "g_response_url", "g_kind", "g_payload", "g_bytes", "f_status",
    "g_latency_s",
)

LATENCY_BYTES_PER_SEC = 51200.0  # mock latency model: 50 KiB/s

# Most GET pages the mock's side-fetch map may hold on the driver.
SIDE_MAP_MAX_ROWS = 100_000


class MockWebFetcher:
    """Fetch = broadcast join against the (small) mock site graph on the
    full request fingerprint (url, method, body). On a real deployment the
    graph side does not exist — HttpFetcher replaces this class wholesale;
    the engine never sees the difference."""

    def __init__(self, spark: SparkSession, site_graph: DataFrame):
        self.graph = site_graph.select(
            "url", "method", "body",
            F.col("response_url").alias("g_response_url"),
            F.col("kind").alias("g_kind"),
            F.col("payload").alias("g_payload"),
            F.col("bytes").alias("g_bytes"),
            F.col("fail_times").alias("g_fail_times"),
            F.col("required_cookie").alias("g_required_cookie"),
        ).persist()
        self._side_map: dict[str, str] | None = None

    def side_fetch_fn(self):
        """A plain ``url -> payload | None`` callable for the in-parse
        side fetches some spiders gate entries with (raw requests.get,
        invisible to the scheduler — apkaakhbar.py:57-66, ambala.py:54).
        Built lazily (one graph collect) and only when the engine sees a
        registry that actually declares a gate-fetch rule; the returned
        dict closure is picklable into the mapInPandas parse stage.

        The map is the whole GET graph, held on the driver and shipped to
        every parse task, so it is capped: a graph with more than
        SIDE_MAP_MAX_ROWS GET pages raises ValueError (the collect itself
        is limited to one row past the cap)."""
        if self._side_map is None:
            cap = SIDE_MAP_MAX_ROWS
            rows = (
                self.graph.filter(
                    (F.col("method") == "GET") & (F.col("body") == "")
                ).select("url", "g_payload").limit(cap + 1).collect()
            )
            if len(rows) > cap:
                raise ValueError(
                    f"MockWebFetcher.side_fetch_fn: the site graph has more "
                    f"than SIDE_MAP_MAX_ROWS={cap} GET pages; the in-parse "
                    "side-fetch map is driver-held — use HttpFetcher"
                )
            self._side_map = {r.url: r.g_payload for r in rows}
        side = self._side_map
        return side.get

    def fetch(self, admitted: DataFrame) -> DataFrame:
        out = admitted.join(
            F.broadcast(self.graph), on=["url", "method", "body"], how="left"
        )
        # Cloudflare-style gate: the response arrives (still 'ok' — W3
        # retry state unaffected) but its payload is unusable without the
        # clearance cookie — the parse stage sees a null payload.
        cookie_ok = F.col("g_required_cookie").isNull() | (
            F.col("cookie") == F.col("g_required_cookie")
        )
        status = (
            F.when(F.col("g_kind").isNull(), F.lit("gone"))
            .when(
                F.col("attempt") < F.coalesce(F.col("g_fail_times"), F.lit(0)),
                F.lit("retryable"),
            )
            .otherwise(F.lit("ok"))
        )
        ok = status == "ok"
        # Contract: non-ok rows carry NO response columns — a real fetcher
        # has nothing to report for a timeout/404, so the mock must not
        # leak graph-side knowledge either (keeps the two implementations
        # byte-interchangeable; asserted in tests/test_fetcher.py). One
        # projection: the admitted columns, then FETCH_COLS.
        graph_cols = set(self.graph.columns) - {"url", "method", "body"}
        return out.select(
            *[c for c in out.columns if c not in graph_cols],
            F.when(ok, F.col("g_response_url")).alias("g_response_url"),
            F.when(ok, F.col("g_kind")).alias("g_kind"),
            F.when(ok & cookie_ok, F.col("g_payload")).alias("g_payload"),
            F.when(ok, F.col("g_bytes")).otherwise(F.lit(0)).alias("g_bytes"),
            status.alias("f_status"),
            F.when(
                ok,
                F.col("g_bytes").cast("double") / F.lit(LATENCY_BYTES_PER_SEC),
            ).alias("g_latency_s"),
        )

    def unpersist(self) -> None:
        self.graph.unpersist()


class HttpFetcher:
    """Real HTTP fetch as an Arrow-batched mapInPandas stage: zero per-row
    Spark Python; each Python invocation drains one Arrow batch of
    admitted rows through urllib with the reference's 30 s timeout.

    ``g_kind`` is the request's own parse_kind ('probe' resolves to the
    article markup inside parse_page) — a live site has no oracle kind
    column; the crawl's routing IS the request lineage.

    ``paced=True`` additionally honors the politeness slot AT FETCH TIME
    (the reference's DOWNLOAD_DELAY spacing, settings.py:28): rows are
    co-located per host (repartition) and each request sleeps until its
    ``(host_rank − 1) × crawl_delay`` offset from the partition's fetch
    start — the wall-clock realization of ``fetch_schedule``'s
    ``scheduled_at``. Requires the admission columns ``host_rank`` and
    ``crawl_delay`` (admit_per_host emits both). Off by default: tests
    and the mock path measure dataflow, not wall clock, and upstream
    admission already bounds per-host volume per batch. Pacing offsets
    are anchored to the PARTITION's fetch start (``t0`` is taken once,
    before the Arrow batch loop), so spacing holds even when one host's
    rows span multiple Arrow batches within the partition — verified by
    tests/test_fetcher.py::test_paced_pacing_holds_across_arrow_batches
    with maxRecordsPerBatch forced below the host budget. A host
    spanning multiple PARTITIONS remains impossible by construction (the
    repartition above co-locates each host).
    """

    def __init__(self, timeout_s: float = FETCH_TIMEOUT_S,
                 opener_factory=None, paced: bool = False,
                 concurrency: int = 1):
        # opener_factory: () -> urllib-style opener; injectable for tests.
        # concurrency: the reference's global in-flight request cap
        # (CONCURRENT_REQUESTS, Scrapy default 16; settings.py:22-23 keeps
        # the default) realized per task: hosts fetch CONCURRENTLY across
        # a thread pool while each host stays strictly serial (the only
        # ordering compatible with DOWNLOAD_DELAY pacing), and a semaphore
        # caps in-flight requests so threads sleeping on a pacing slot do
        # not count against the cap. Cluster-wide in-flight is therefore
        # concurrency × concurrent fetch tasks — size the two together.
        self.timeout_s = timeout_s
        self.opener_factory = opener_factory
        self.paced = paced
        self.concurrency = max(1, int(concurrency))

    def side_fetch_fn(self):
        """In-parse side fetch (see MockWebFetcher.side_fetch_fn): a plain
        blocking GET, exactly the raw requests.get the reference spiders
        issue mid-callback — no retry, no dupefilter, no pacing. Returns
        a picklable closure for the parse stage."""
        timeout = self.timeout_s
        factory = self.opener_factory

        def _get(u: str) -> str | None:
            import urllib.request

            opener = (factory() if factory
                      else urllib.request.build_opener())
            try:
                with opener.open(u, timeout=timeout) as resp:
                    return resp.read().decode("utf-8", errors="replace")
            except Exception:
                return None

        return _get

    def fetch(self, admitted: DataFrame) -> DataFrame:
        timeout = self.timeout_s
        opener_factory = self.opener_factory
        paced = self.paced
        concurrency = self.concurrency
        out_schema = ", ".join(
            [f"{f.name} {f.dataType.simpleString()}"
             for f in admitted.schema.fields]
            + ["g_response_url string", "g_kind string", "g_payload string",
               "g_bytes long", "f_status string", "g_latency_s double"]
        )
        if paced:
            missing = {"host_rank", "crawl_delay"} - set(admitted.columns)
            if missing:
                raise ValueError(
                    f"paced HttpFetcher needs admission columns {missing}"
                )
            admitted = admitted.repartition(F.col("host")).withColumn(
                "pace_off",
                (F.col("host_rank") - 1).cast("double")
                * F.col("crawl_delay"),
            )

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import http.client as _http_client
            import threading as _threading
            import time as _time
            import urllib.error
            import urllib.request
            from concurrent.futures import ThreadPoolExecutor

            def make_opener():
                return (opener_factory() if opener_factory
                        else urllib.request.build_opener())

            def fetch_one(opener, row):
                """One request → (resp_url, payload, bytes, status,
                latency) under the retry-middleware status taxonomy."""
                t_req = _time.monotonic()
                try:
                    req = urllib.request.Request(
                        row.url,
                        data=(row.body.encode() or None)
                        if row.method == "POST" else None,
                        method=row.method or "GET",
                    )
                    req.add_header("User-Agent", row.ua)
                    if getattr(row, "cookie", None):
                        req.add_header("Cookie", row.cookie)
                    with opener.open(req, timeout=timeout) as resp:
                        body = resp.read()
                        return (resp.geturl(),
                                body.decode("utf-8", "replace"),
                                len(body), "ok",
                                _time.monotonic() - t_req)
                except urllib.error.HTTPError as e:
                    # 5xx = transient (retry middleware semantics);
                    # 4xx = permanent miss.
                    return (None, None, 0,
                            "retryable" if e.code >= 500 else "gone", None)
                except ValueError:
                    # malformed/unsupported URL (Request or open raises
                    # before any network I/O) — permanent, never retried;
                    # must not kill the Spark task.
                    return (None, None, 0, "gone", None)
                except (urllib.error.URLError, TimeoutError, OSError,
                        _http_client.HTTPException):
                    # timeout / conn reset / protocol garbage
                    # (BadStatusLine, IncompleteRead, ...) — all
                    # transient per the retry-middleware taxonomy.
                    return (None, None, 0, "retryable", None)

            t0 = _time.monotonic()
            # In-flight cap: acquired around the request ONLY, so a thread
            # sleeping for its politeness slot holds no slot.
            inflight = _threading.BoundedSemaphore(concurrency)
            for pdf in batches:
                if paced:
                    pdf = pdf.sort_values("pace_off", kind="stable")
                rows = list(pdf.itertuples(index=False))
                results: list[tuple | None] = [None] * len(rows)

                def worker(idxs, rows=rows, results=results):
                    opener = make_opener()
                    for i in idxs:
                        row = rows[i]
                        if paced:
                            wait = row.pace_off - (_time.monotonic() - t0)
                            if wait > 0:
                                _time.sleep(wait)
                        with inflight:
                            results[i] = fetch_one(opener, row)

                if concurrency > 1 and rows:
                    by_host: dict = {}
                    for i, row in enumerate(rows):
                        key = getattr(row, "host", None) or row.url
                        by_host.setdefault(key, []).append(i)
                    n_workers = min(concurrency, len(by_host))
                    with ThreadPoolExecutor(max_workers=n_workers) as pool:
                        futs = [pool.submit(worker, idxs)
                                for idxs in by_host.values()]
                        for f in futs:
                            f.result()
                else:
                    worker(range(len(rows)))

                out = (pdf.drop(columns=["pace_off"]) if paced
                       else pdf).copy()
                resp_urls, payloads, byte_counts, statuses, latencies = (
                    zip(*results) if results else ((), (), (), (), ())
                )
                out["g_response_url"] = list(resp_urls)
                # probe requests fetch article pages (maharashtratimes.py:45);
                # non-ok rows carry no response columns (contract).
                out["g_kind"] = [
                    ("article" if k == "probe" else k) if st == "ok" else None
                    for k, st in zip(pdf["parse_kind"], statuses)
                ]
                out["g_payload"] = list(payloads)
                out["g_bytes"] = pd.array(list(byte_counts), dtype="int64")
                out["f_status"] = list(statuses)
                out["g_latency_s"] = pd.array(list(latencies),
                                              dtype="float64")
                yield out

        return admitted.mapInPandas(run, out_schema)
