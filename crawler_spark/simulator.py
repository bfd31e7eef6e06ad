"""Reference-semantics crawl simulator — the parity oracle.

A single-threaded, plain-Python model of the reference crawler's dataflow
semantics (SURVEY §5.3): exact request_url string dedup with the seen set
(demo/middlewares.py:50-68), the dont_filter bypass (middlewares.py:55),
intra-run scheduled-set dedup (Scrapy's engine dupefilter), per-host
politeness budgets derived from the crawl delay (settings.py:28), and the
time-cutoff pagination semantics (zeenews.py:96-101) — advanced in the same
deterministic micro-batch model as the engine.

The Spark engine (streaming/crawl_loop.py) must reproduce this simulator's
ordered crawl log, final URL-seen set, and document set byte-for-byte at
any parallelism. Shares ``parse_page`` with the engine so parity tests
isolate the dataflow, not the per-site parse rules.
"""

from __future__ import annotations

import hashlib
import math
from datetime import datetime, timezone

from crawler_spark.operators.politeness import (
    AUTOTHROTTLE_MAX_DELAY,
    AUTOTHROTTLE_MIN_DELAY,
    AUTOTHROTTLE_START_DELAY,
    AUTOTHROTTLE_TARGET_CONCURRENCY,
    autothrottle_step_py,
    priority_score_py,
)
from crawler_spark.plans.parser import parse_page
from crawler_spark.schema import MAX_RETRIES

DEFAULT_CRAWL_DELAY = 0.2  # settings.py:28


def simulate_crawl(
    graph: dict,
    batch_seconds: float = 1.0,
    crawl_delays: dict[str, float] | None = None,
    deny_prefixes: dict[str, list[str]] | None = None,
    url_seen_init: set[str] | None = None,
    max_batches: int = 1000,
    autothrottle: dict | None = None,
    authority: dict[str, int] | None = None,
    host_budgets: dict[str, int] | None = None,
    url_filter: dict | None = None,
) -> dict:
    """Run the reference-semantics crawl over a mock_web graph.

    Returns {crawl_log: [(batch_id, url)...] in canonical order,
             url_seen: set, docs: {doc_id: doc}, fetch_count: int,
             batches: int (the engine's last_batch + 1 — neither side
                           commits a batch that admits nothing),
             metrics: [(batch_id, host, scheduled, deduped, fetched, bytes,
                        max_depth)...]} — the A4 per-host fetch metrics the
    engine must reproduce exactly (measured, never fabricated).

    ``autothrottle`` (W4, settings.py:72-82): pass a dict (empty = Scrapy
    defaults; keys start_delay / max_delay / target_concurrency /
    min_delay override) to enable the adaptive per-host delay — admission
    uses max(static delay, adaptive delay), each delivered response folds
    its deterministic latency (bytes / 50 KiB/s, the mock fetcher's model)
    through autothrottle_step_py in politeness-slot order. The returned
    dict gains ``at_delays: {host: delay}`` — the state the engine's
    checkpointed at_delays part must match bit-for-bit.
    """
    from collections import Counter
    pages = graph["pages"]
    registry = graph["registry"]
    cutoff = graph["cutoff_epoch"]
    as_of: datetime = graph["as_of"]

    def _side_fetch(u: str) -> str | None:
        # The raw requests.get side fetch some spiders gate entries with
        # (apkaakhbar.py:57-66, ambala.py:54) — invisible to the
        # scheduler/dupefilter, so it reads the mock web directly.
        from crawler_spark.sources.mock_web import payload_str

        pg = pages.get((u, "GET", ""))
        return payload_str(pg) if pg is not None else None
    crawl_delays = crawl_delays or {}
    deny_prefixes = deny_prefixes or {}

    as_of_epoch = as_of.replace(tzinfo=timezone.utc).timestamp()

    # Crawl prioritization mirror (crawl_loop._apply_authority): the
    # host's PageRank mass (integer fixed-point, host_pagerank_py) joins
    # the T1 score as ONE extra IEEE add — (depth_term + recency) + mass.
    from crawler_spark.operators.linkgraph import PR_SCALE

    def _prio(depth: int, pub_epoch, url: str) -> float:
        p = priority_score_py(depth, pub_epoch, as_of_epoch)
        if authority is None:
            return p
        return p + authority.get(_host(url), 0) / float(PR_SCALE)

    if autothrottle is not None:
        at_start = autothrottle.get("start_delay", AUTOTHROTTLE_START_DELAY)
        at_max = autothrottle.get("max_delay", AUTOTHROTTLE_MAX_DELAY)
        at_tc = autothrottle.get(
            "target_concurrency", AUTOTHROTTLE_TARGET_CONCURRENCY
        )
        at_min = autothrottle.get("min_delay", AUTOTHROTTLE_MIN_DELAY)
    at_delays: dict[str, float] = {}

    frontier: list[dict] = []
    for i, s in enumerate(graph["seeds"]):
        # A site whose start_urls point straight at a list page (no menu
        # hop — interaksyon.py:13,25) declares seed_kind='list'; one whose
        # start_requests POSTs a form feed directly (unbox.py:54-57)
        # declares seed_method/seed_body.
        srules = registry.get(s["website_id"], {})
        seed_kind = srules.get("seed_kind", "menu")
        frontier.append(
            {
                "url": s["url"],
                "parse_kind": seed_kind,
                "dont_filter": False,
                "meta": {},
                "depth": 0,
                "priority": _prio(0, None, s["url"]),
                "seq": f"{i:04d}",
                "website_id": s["website_id"],
                "language_id": s["language_id"],
                "method": srules.get("seed_method", "GET"),
                "body": srules.get("seed_body", ""),
            }
        )

    def _fp(r: dict) -> tuple:
        # Scrapy's request fingerprint: (url, method, body) — S5.
        return (r["url"], r.get("method", "GET"), r.get("body", ""))

    def _page_of(r: dict):
        return pages.get(_fp(r))

    url_seen: set[str] = set(url_seen_init or ())
    scheduled: set[str] = set()
    crawl_log: list[tuple[int, str]] = []
    # Full-fidelity log rows (method/body/attempt/host per admission, in
    # the same canonical order) — the richer shape the oracle fixture
    # needs; crawl_log keeps its (batch_id, url) tuples for the many
    # byte-for-byte parity tests keyed on it.
    crawl_log_full: list[dict] = []
    docs: dict[str, dict] = {}
    # Every stored row, duplicates included: the reference INSERTs one
    # news row per item with no unique key (pipelines.py:29-47), so an
    # article fetched twice in one batch (a dont_filter probe racing a
    # normal request — possible since neither sees the other in the
    # dupefilter) is stored twice. ``docs`` keeps dict-by-id for the
    # site-semantics tests; ``docs_rows`` is the exact table content.
    docs_rows: list[dict] = []
    metrics: list[tuple] = []
    fetch_count = 0
    batch_id = 0

    # URL-level quality filter mirror (crawl_loop.run_batch step 0):
    # dropped URLs never reach dedup, never count as scheduled, never
    # fetch — the same pure function the Spark column realizes.
    if url_filter is not None:
        from crawler_spark.operators.curation import url_quality_action_py

        def _uq_keep(r: dict) -> bool:
            return url_quality_action_py(
                r["url"], _host(r["url"]),
                url_filter["blocklist_hosts"],
                url_filter["scored_words"],
                flag_bp=url_filter.get("flag_bp", 100),
                drop_bp=url_filter.get("drop_bp", 300),
            ) != "drop"
    else:
        def _uq_keep(r: dict) -> bool:
            return True

    while frontier and batch_id < max_batches:
        if url_filter is not None:
            frontier = [r for r in frontier if _uq_keep(r)]
            if not frontier:
                break
        # --- dedup (SURVEY §2.2): intra-frontier by url keeping min seq.
        # Retry rows (attempt > 0, W3) bypass every dedup tier, like
        # Scrapy's retry middleware re-scheduling with dont_filter. ---
        retry_rows = [r for r in frontier if r.get("attempt", 0) > 0]
        fresh_rows = [r for r in frontier if r.get("attempt", 0) == 0]
        # dont_filter requests bypass Scrapy's dupefilter entirely — both
        # the intra-batch dedup and the scheduled-fingerprint check — and
        # are never recorded in it (RFPDupeFilter only records inside
        # request_seen(), which dont_filter requests skip). This is what
        # lets maharashtratimes probe an article with dont_filter and then
        # refetch it normally (maharashtratimes.py:45,59).
        df_rows = [r for r in fresh_rows if r["dont_filter"]]
        nf_rows = [r for r in fresh_rows if not r["dont_filter"]]
        by_fp: dict[tuple, dict] = {}
        for r in sorted(nf_rows, key=lambda r: r["seq"]):
            if _fp(r) not in by_fp:
                by_fp[_fp(r)] = r
        fresh_kept = [
            r
            for r in by_fp.values()
            if _fp(r) not in scheduled  # intra-run dupefilter (D3), by fp
            and r["url"] not in url_seen  # D1: url only
        ] + df_rows
        # A4: per-host dedup drop counts (all three tiers), measured.
        n_in = Counter(_host(r["url"]) for r in fresh_rows)
        n_kept = Counter(_host(r["url"]) for r in fresh_kept)
        cands = fresh_kept + retry_rows
        # --- robots deny prefixes (W2) ---
        cands = [
            r for r in cands
            if not any(
                _path(r["url"]).startswith(p)
                for p in deny_prefixes.get(_host(r["url"]), ())
            )
        ]
        # --- per-host politeness admission (T2/W1) ---
        cands.sort(key=lambda r: (-r["priority"], r["seq"]))
        admitted, deferred = [], []
        host_used: dict[str, int] = {}
        for r in cands:
            host = _host(r["url"])
            delay = crawl_delays.get(host, DEFAULT_CRAWL_DELAY)
            if autothrottle is not None:
                # W4: adaptive delay (state entering this batch), floored
                # by the static/robots delay — never more polite than asked.
                delay = max(delay, at_delays.get(host, at_start))
            budget = max(1, math.floor(batch_seconds / delay))
            if host_budgets is not None:
                # apportioned global budget: min(politeness, allocation);
                # hosts absent from the table keep the politeness cap
                # (admit_per_host's coalesce mirror).
                budget = min(budget, host_budgets.get(host, budget))
            if host_used.get(host, 0) < budget:
                host_used[host] = host_used.get(host, 0) + 1
                admitted.append(r)
            else:
                deferred.append(r)
        if not admitted:
            break  # all remaining rows are undeliverable

        for r in admitted:
            if not r["dont_filter"]:
                scheduled.add(_fp(r))
            crawl_log.append((batch_id, r["url"]))
            crawl_log_full.append(
                {
                    "batch_id": batch_id,
                    "url": r["url"],
                    "host": _host(r["url"]),
                    "method": r.get("method", "GET"),
                    "body": r.get("body", ""),
                    "attempt": r.get("attempt", 0),
                }
            )

        # --- A4 fetch metrics (mirrors crawl_loop.run_batch exactly) ---
        sched_c = Counter(_host(r["url"]) for r in admitted)
        fetched_c: Counter = Counter()
        bytes_c: Counter = Counter()
        depth_m: dict[str, int] = {}
        for r in admitted:
            h = _host(r["url"])
            depth_m[h] = max(depth_m.get(h, r["depth"]), r["depth"])
            page = _page_of(r)
            if page is not None and r.get("attempt", 0) >= page.get("fail_times", 0):
                fetched_c[h] += 1
                bytes_c[h] += page["bytes"]
        for h in sorted(set(n_in) | set(sched_c)):
            metrics.append(
                (batch_id, h, sched_c[h], n_in[h] - n_kept[h],
                 fetched_c[h], bytes_c[h], depth_m.get(h))
            )

        # --- fetch + parse ---
        new_frontier = deferred
        for r in admitted:
            page = _page_of(r)
            fetch_count += 1
            if page is None:
                continue  # 404: nothing yielded
            if r.get("attempt", 0) < page.get("fail_times", 0):
                # W3: transient failure → re-enqueue with attempt+1, capped.
                if r.get("attempt", 0) + 1 <= MAX_RETRIES:
                    nr = dict(r)
                    nr["attempt"] = r.get("attempt", 0) + 1
                    new_frontier.append(nr)
                continue
            if autothrottle is not None:
                # W4: delivered response (even a cookie-gated one — the
                # bytes arrived) folds its latency into the host's delay,
                # in admission order = politeness-slot order.
                from crawler_spark.sources.fetcher import LATENCY_BYTES_PER_SEC

                h = _host(r["url"])
                at_delays[h] = autothrottle_step_py(
                    at_delays.get(h, at_start),
                    page["bytes"] / LATENCY_BYTES_PER_SEC,
                    at_tc, at_min, at_max,
                )
            rule = registry.get(r["website_id"], {})
            # Cloudflare-style clearance gate (middlewares.py:61-62,
            # hatawtabloid.py:28,37): response delivered, payload unusable
            # without the site's cookie.
            required = page.get("required_cookie")
            cookie_ok = required is None or rule.get("cookie") == required
            from crawler_spark.sources.mock_web import payload_str

            doc, reqs = parse_page(
                url=r["url"],
                response_url=page["response_url"],
                kind=page["kind"],
                payload_json=payload_str(page) if cookie_ok else None,
                meta=r["meta"],
                depth=r["depth"],
                seq=r["seq"],
                cutoff_epoch=cutoff,
                rule=rule.get("rule", "next_link"),
                as_of=as_of,
                probe_first=rule.get("probe_first", False),
                method=r.get("method", "GET"),
                body=r.get("body", ""),
                fmt=rule.get("format", "json"),
                extract=rule.get("extract"),
                site=rule,
                req_kind=r.get("parse_kind"),
                side_fetch=_side_fetch,
            )
            if doc is not None:
                doc_id = hashlib.md5(doc["response_url"].encode()).hexdigest()
                doc["doc_id"] = doc_id
                doc["website_id"] = r["website_id"]
                doc["language_id"] = r["language_id"]
                docs[doc_id] = doc
                docs_rows.append(doc)
                url_seen.add(doc["request_url"])  # pipelines.py insert → probe hit
            for child in reqs:
                child["website_id"] = r["website_id"]
                child["language_id"] = r["language_id"]
                # T1 priority — the Python mirror of the engine's
                # vectorized priority_score_col (bit-identical doubles),
                # plus the authority mass when prioritization is on.
                child["priority"] = _prio(
                    child["depth"], child.get("pub_epoch"), child["url"]
                )
                new_frontier.append(child)

        frontier = new_frontier
        batch_id += 1

    return {
        "crawl_log": crawl_log,
        "crawl_log_full": crawl_log_full,
        "url_seen": url_seen,
        "docs": docs,
        "docs_rows": docs_rows,
        "metrics": metrics,
        "fetch_count": fetch_count,
        "batches": batch_id,
        "at_delays": at_delays,
    }


def _host(url: str) -> str:
    return url.split("://", 1)[-1].split("/", 1)[0].split(":", 1)[0].lower()


def _path(url: str) -> str:
    rest = url.split("://", 1)[-1]
    return rest[rest.find("/"):] if "/" in rest else ""
