"""End-to-end crawl parity: the Spark micro-batch engine must reproduce the
reference-semantics simulator byte-for-byte (SURVEY §5.3) — ordered crawl
log, final URL-seen set, document set, and per-document span sequences
(kind, text, media_ref, offset) per the input_hint invariant.

Also: resume-from-checkpoint equals an uninterrupted run with no URL
fetched twice (SURVEY §5.5 / north rule W6).
"""

from __future__ import annotations

import pytest

from crawler_spark.simulator import simulate_crawl
from crawler_spark.sources.mock_web import (
    AS_OF,
    build_site_graph,
    seeds_df,
    site_graph_df,
)
from crawler_spark.streaming.crawl_loop import CrawlEngine


def _run_engine(spark, graph, ckpt_dir, resume=False, max_batches=1000,
                compact_every=0, batch_jobs=None, **kw):
    """``batch_jobs``: a dict to fill with {batch: Spark jobs it ran} for
    every committed batch (exact ids from the DAG scheduler's counter)."""
    eng = CrawlEngine(
        spark,
        site_graph=site_graph_df(spark, graph),
        registry=graph["registry"],
        seeds=seeds_df(spark, graph),
        cutoff_epoch=graph["cutoff_epoch"],
        as_of=AS_OF,
        checkpoint_dir=str(ckpt_dir),
        compact_every=compact_every,
        **kw,
    )
    if batch_jobs is not None:
        dag = spark.sparkContext._jsc.sc().dagScheduler()
        run_batch = eng.run_batch

        def counted(b, frontier):
            j0 = dag.nextJobId()
            out = run_batch(b, frontier)
            if out is not None:
                batch_jobs[b] = dag.nextJobId() - j0
            return out

        eng.run_batch = counted
    return eng, eng.run(max_batches=max_batches, resume=resume)


def _engine_log(res) -> list[tuple[int, str]]:
    from pyspark.sql import functions as F

    rows = (
        res["crawl_log"]
        .orderBy("batch_id", F.desc("priority"), "seq")
        .select("batch_id", "url")
        .collect()
    )
    return [(r.batch_id, r.url) for r in rows]


def _doc_key(d: dict) -> str:
    return repr(sorted(d.items()))


def _engine_docs(res) -> list[dict]:
    """All stored document rows as a canonically-sorted list — a MULTISET
    comparison: duplicates are real (the reference INSERTs one news row
    per item with no unique key, pipelines.py:29-47, and a dont_filter
    probe can race a normal request to the same article)."""
    rows = []
    for r in res["docs"].collect():
        rows.append({
            "doc_id": r.doc_id,
            "title": r.title,
            "abstract": r.abstract,
            "category1": r.category1,
            "category2": r.category2,
            "pub_time": r.pub_time.strftime("%Y-%m-%d %H:%M:%S"),
            "request_url": r.request_url,
            "response_url": r.response_url,
            "html": r.html,
            "spans": tuple(
                (s.kind, s.text, s.media_ref, s.offset)
                for s in (r.spans or [])
            ),
        })
    return sorted(rows, key=_doc_key)


def _sim_docs(sim) -> list[dict]:
    rows = []
    for d in sim["docs_rows"]:
        rows.append({
            "doc_id": d["doc_id"],
            "title": d["title"],
            "abstract": d["abstract"],
            "category1": d["category1"],
            "category2": d["category2"],
            "pub_time": d["pub_time"],
            "request_url": d["request_url"],
            "response_url": d["response_url"],
            "html": d.get("html"),
            "spans": tuple(
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in d["spans"]
            ),
        })
    return sorted(rows, key=_doc_key)


@pytest.fixture(scope="module")
def graph():
    # All five pagination rules (incl. the POST form-paginated feed),
    # TWO raw-HTML sites (both markup shapes, extraction rules as data),
    # duplicate cross-links, redirects, a dont_filter probe site, category
    # exclusion, cutoff mid-list, and a skewed host (site 0 carries extra
    # list pages).
    return build_site_graph(n_sites=5, cats_per_site=2, pages_per_cat=2,
                            entries_per_page=4, dup_fraction=0.25,
                            skew_pages=2, html_sites=2, seed=7)


@pytest.fixture(scope="module")
def sim(graph):
    return simulate_crawl(graph)


def _engine_metrics(res) -> list[tuple]:
    rows = res["metrics"].orderBy("batch_id", "host").collect()
    return [
        (r.batch_id, r.host, r.scheduled, r.deduped, r.fetched, r.bytes,
         r.max_depth)
        for r in rows
    ]


# Most Spark jobs one committed micro-batch of the fixture crawl may run.
# Every job is crawl work: the concurrent part writes and the shuffles,
# broadcasts and cache fills under them. Counts, schemas and emptiness
# come from parquet footers on the driver, never from extra actions.
# Measured: 24-25 per batch (42-44 before footer counts); the headroom
# covers cache fills that two concurrent writes may both start.
BATCH_JOB_CEILING = 28


def test_crawl_matches_simulator(spark, graph, sim, tmp_path_factory):
    import os

    ckpt = tmp_path_factory.mktemp("ckpt_parity")
    jobs = {}
    eng, res = _run_engine(spark, graph, ckpt, batch_jobs=jobs)

    # 1. ordered crawl log byte-for-byte
    assert _engine_log(res) == sim["crawl_log"]

    # 2. final URL-seen set
    seen = {r.url for r in res["url_seen"].collect()}
    assert seen == sim["url_seen"]

    # 3. document set + span-sequence equality (input_hint invariant)
    assert _engine_docs(res) == _sim_docs(sim)

    # 4. A4 per-host fetch metrics — measured values match the simulator
    #    exactly (scheduled, deduped, fetched, bytes, max_depth per batch)
    assert _engine_metrics(res) == sorted(sim["metrics"])
    # and the fixture exercised real dedup drops
    assert any(m[3] > 0 for m in sim["metrics"])

    # 5. Spark jobs per committed batch within BATCH_JOB_CEILING, and every
    #    manifest count equals the row count of that batch's part
    last = res["last_batch"]
    assert sorted(jobs) == list(range(last + 1))
    assert max(jobs.values()) <= BATCH_JOB_CEILING, jobs

    def rows(b, name):
        return spark.read.parquet(
            os.path.join(str(ckpt), f"batch_{b:05d}", name)).count()

    for b in range(last + 1):
        stats = eng.ckpt.stats(b)
        assert stats["admitted"] == rows(b, "crawl_log") > 0
        assert stats["docs"] == rows(b, "docs")
        assert stats["frontier"] == rows(b, "frontier")
    # no uncommitted batch directory is left behind
    assert not os.path.exists(os.path.join(str(ckpt), f"batch_{last + 1:05d}"))
    # and the committed batches are the simulator's batches
    assert last + 1 == sim["batches"]

    # sanity: the fixture actually exercised something non-trivial
    assert len(sim["crawl_log"]) > 30
    assert any(d["spans"] for d in _sim_docs(sim))
    assert any(
        s[0] == "image" for d in _sim_docs(sim) for s in d["spans"]
    )


def test_url_filter_batch_count_matches_simulator(spark):
    """When the URL filter empties a frontier, the engine discards that
    batch and the simulator stops before counting it: both report the
    same number of batches (the cached oracle crawl, no extra run)."""
    from pyspark.sql import functions as F

    from crawler_spark.oracle_crawl import (
        URL_FILTER_CFG,
        engine_url_filter_log,
        fixture_graph,
    )

    log = engine_url_filter_log(spark)
    engine_batches = log.agg(F.max("batch_id")).first()[0] + 1
    sim_uf = simulate_crawl(fixture_graph(), url_filter=URL_FILTER_CFG)
    assert engine_batches == sim_uf["batches"]


def test_prioritized_crawl_matches_simulator(spark, graph, sim,
                                             tmp_path_factory):
    """Crawl prioritization end-to-end: host_pagerank authority mass added
    to every T1 priority (engine: _apply_authority; simulator: _prio) and
    allocate_budget apportionment capping per-host admission — ordered
    log, seen set, docs, and metrics all stay byte-identical, and the
    ordering REALLY changed vs the unprioritized run."""
    from crawler_spark.operators.linkgraph import (
        allocate_budget,
        allocate_budget_py,
        host_pagerank,
        host_pagerank_py,
    )
    from crawler_spark.simulator import _host

    hosts = sorted({_host(s["url"]) for s in graph["seeds"]})
    edges = sorted(
        {(hosts[i], hosts[(i + 1) % len(hosts)]) for i in range(len(hosts))}
        | {(h, hosts[0]) for h in hosts[1:]}
    )
    auth_py = host_pagerank_py(edges)
    budget_py = allocate_budget_py(auth_py, 2 * len(hosts), min_per_host=1)
    sim_p = simulate_crawl(graph, authority=auth_py, host_budgets=budget_py)

    edges_df = spark.createDataFrame(edges, "src string, dst string")
    ranks = host_pagerank(edges_df)
    budgets = allocate_budget(ranks, 2 * len(hosts), min_per_host=1)
    ckpt = tmp_path_factory.mktemp("ckpt_prio")
    _, res = _run_engine(spark, graph, ckpt,
                         authority=ranks, host_budgets=budgets)

    assert _engine_log(res) == sim_p["crawl_log"]
    assert {r.url for r in res["url_seen"].collect()} == sim_p["url_seen"]
    assert _engine_docs(res) == _sim_docs(sim_p)
    assert _engine_metrics(res) == sorted(sim_p["metrics"])
    # the mode is real: ordering differs from the unprioritized crawl
    assert sim_p["crawl_log"] != sim["crawl_log"]
    assert sim_p["batches"] > sim["batches"]  # budget caps defer fetches


def test_crawl_with_cuckoo_identical(spark, graph, sim, tmp_path_factory):
    """Forcing the URL-seen cuckoo filter on from the first batch
    (bloom_threshold=0) must not change any outcome — it only prefilters,
    the exact anti-join decides (SURVEY §7.4) — so EVERY outcome must be
    byte-identical to the reference simulator: crawl log order, URL-seen
    set, doc set."""
    ckpt = tmp_path_factory.mktemp("ckpt_cuckoo")
    eng, res = _run_engine(spark, graph, ckpt, bloom_threshold=0)
    assert _engine_log(res) == sim["crawl_log"]
    assert {r.url for r in res["url_seen"].collect()} == sim["url_seen"]
    assert _engine_docs(res) == _sim_docs(sim)

    # The incrementally-maintained cuckoo shards must still contain every
    # seen hash (no false negatives after N merge batches) and stay small.
    from crawler_spark.operators.cuckoo import cuckoo_probe_sharded

    last = eng.ckpt.last_complete_batch()
    assert eng.ckpt.has_part(last, "cuckoo")
    shards = eng.ckpt.read_part(last, "cuckoo")
    probed = cuckoo_probe_sharded(
        res["url_seen"].select("url_hash"), shards, "url_hash"
    )
    import pyspark.sql.functions as SF

    assert probed.filter(~SF.col("_maybe")).count() == 0
    # Snapshot pruning: only the newest committed batch keeps a filter
    # copy (_filter_state only ever reads prev_batch); stale copies would
    # accumulate O(batches × filter_size) on disk.
    assert [b for b in range(last + 1)
            if eng.ckpt.has_part(b, "cuckoo")] == [last]


def test_filter_kind_is_not_an_option(spark, graph, tmp_path_factory):
    """The cuckoo is the only URL-seen prefilter: no constructor knob
    selects another tier."""
    with pytest.raises(TypeError):
        _run_engine(spark, graph, tmp_path_factory.mktemp("ckpt_kind"),
                    filter_kind="cuckoo")
    assert CrawlEngine.filter_kind == "cuckoo"


def test_bloom_auto_activates_and_stays_sharded(spark, tmp_path_factory):
    """Once |url_seen| crosses ``bloom_threshold`` the engine switches the
    sharded cuckoo filter on mid-run (building once from the seen set,
    then maintaining incrementally). Parity must hold across the
    activation boundary."""
    g = build_site_graph(n_sites=3, cats_per_site=2, pages_per_cat=2,
                         entries_per_page=4, dup_fraction=0.3, seed=17)
    s = simulate_crawl(g)
    ckpt = tmp_path_factory.mktemp("ckpt_auto")
    # Threshold low enough that activation happens mid-crawl.
    eng, res = _run_engine(spark, g, ckpt, bloom_threshold=10)
    assert _engine_log(res) == s["crawl_log"]
    assert {r.url for r in res["url_seen"].collect()} == s["url_seen"]
    assert _engine_docs(res) == _sim_docs(s)
    last = eng.ckpt.last_complete_batch()
    with_filter = [b for b in range(last + 1)
                   if "cuckoo" in eng.ckpt.stats(b)]
    assert with_filter and with_filter[0] > 0  # switched on mid-run
    assert with_filter == list(range(with_filter[0], last + 1))
    assert [b for b in range(last + 1)
            if eng.ckpt.has_part(b, "cuckoo")] == [last]  # pruned history


def test_filter_activates_on_resume(spark, graph, sim, tmp_path_factory):
    """A checkpoint with no stored filter (written below the threshold —
    or by an engine whose filter tier was a bloom) resumed by an engine
    whose threshold is already crossed builds the cuckoo filter from the
    seen set once, then maintains it; the crawl stays byte-identical to
    the simulator. The first two batches fetch menus and lists only, so
    the prefix runs three to store documents before the resume."""
    ckpt = tmp_path_factory.mktemp("ckpt_resume_activate")
    eng1, _ = _run_engine(spark, graph, ckpt, max_batches=3)
    assert eng1.ckpt.last_complete_batch() == 2
    assert not any(eng1.ckpt.has_part(b, "cuckoo") for b in range(3))
    assert eng1.ckpt.stats(2)["frontier"] > 0  # the crawl is unfinished
    n_seen = sum(eng1.ckpt.stats(b)["docs"] for b in range(3))
    assert n_seen > 0  # the resumed build starts from a non-empty seen set

    eng2, res = _run_engine(spark, graph, ckpt, resume=True,
                            bloom_threshold=n_seen)
    assert _engine_log(res) == sim["crawl_log"]
    assert {r.url for r in res["url_seen"].collect()} == sim["url_seen"]
    assert _engine_docs(res) == _sim_docs(sim)
    last = eng2.ckpt.last_complete_batch()
    assert all("cuckoo" in eng2.ckpt.stats(b) for b in range(3, last + 1))
    assert eng2.ckpt.has_part(last, "cuckoo")


def test_no_request_fetched_twice(spark, graph, tmp_path_factory):
    """Uniqueness is per request fingerprint (url, method, body) — a POST
    feed URL legitimately recurs with different bodies (S5), but no
    fingerprint is ever scheduled twice."""
    ckpt = tmp_path_factory.mktemp("ckpt_once")
    _, res = _run_engine(spark, graph, ckpt)
    fps = [
        (r.url, r.method, r.body)
        for r in res["crawl_log"].select("url", "method", "body").collect()
    ]
    assert len(fps) == len(set(fps))


def test_resume_equals_uninterrupted(spark, graph, sim, tmp_path_factory):
    """Kill after 2 batches, resume from checkpoint → identical final state,
    and the resumed run re-fetches nothing from completed batches."""
    ckpt = tmp_path_factory.mktemp("ckpt_resume")
    _run_engine(spark, graph, ckpt, max_batches=2)
    eng, res = _run_engine(spark, graph, ckpt, resume=True)

    assert _engine_log(res) == sim["crawl_log"]
    assert {r.url for r in res["url_seen"].collect()} == sim["url_seen"]
    assert _engine_docs(res) == _sim_docs(sim)
    # no double fetch across the kill/resume boundary (per fingerprint)
    fps = [
        (r.url, r.method, r.body)
        for r in res["crawl_log"].select("url", "method", "body").collect()
    ]
    assert len(fps) == len(set(fps))


def test_compaction_bounds_read_fanout(spark, tmp_path_factory):
    """Default-on compaction (compact_every=8) over a LONG crawl (≥20
    batches): per-batch state derivation must touch one snapshot + a
    bounded tail, never O(batches) directories (VERDICT r2 'Next round
    #2'). A deep next-link chain forces one list page per batch."""
    g = build_site_graph(n_sites=1, cats_per_site=1, pages_per_cat=35,
                         entries_per_page=2, dup_fraction=0.0, seed=11)
    s = simulate_crawl(g)
    assert s["batches"] >= 20, "fixture must produce a long crawl"
    ckpt = tmp_path_factory.mktemp("ckpt_fanout")
    eng, res = _run_engine(spark, g, ckpt, compact_every=8)
    assert _engine_log(res) == s["crawl_log"]
    assert {r.url for r in res["url_seen"].collect()} == s["url_seen"]
    last = eng.ckpt.last_complete_batch()
    assert last >= 19
    # Bounded fanout: ≤ 1 snapshot + compact_every tail dirs, despite 20+
    # batches of history (url_seen derivation reads the docs delta chain).
    for name in ("docs", "crawl_log", "metrics"):
        assert len(eng.ckpt.delta_paths(name, last)) <= 8 + 1


def test_compaction_preserves_state(spark, graph, sim, tmp_path_factory):
    """Delta compaction every 2 batches must not change any outcome —
    reads just touch one snapshot + a short tail instead of O(batches)."""
    import os

    ckpt = tmp_path_factory.mktemp("ckpt_compact")
    _, res = _run_engine(spark, graph, ckpt, compact_every=2)
    assert _engine_log(res) == sim["crawl_log"]
    assert {r.url for r in res["url_seen"].collect()} == sim["url_seen"]
    assert _engine_docs(res) == _sim_docs(sim)
    assert any(d.startswith("compact_docs_") for d in os.listdir(ckpt))


def test_flaky_fetch_retries_match_simulator(spark, tmp_path_factory):
    """W3: transient fetch failures re-enqueue with attempt+1 (capped);
    the retry schedule, final documents, and seen set must still match the
    reference-semantics simulator exactly."""
    g = build_site_graph(n_sites=3, cats_per_site=2, pages_per_cat=2,
                         entries_per_page=3, flaky_fraction=0.3, seed=13)
    s = simulate_crawl(g)
    ckpt = tmp_path_factory.mktemp("ckpt_flaky")
    _, res = _run_engine(spark, g, ckpt)
    assert _engine_log(res) == s["crawl_log"]
    assert {r.url for r in res["url_seen"].collect()} == s["url_seen"]
    assert _engine_docs(res) == _sim_docs(s)
    # the fixture really did exercise retries
    retried = res["crawl_log"].filter("attempt > 0").count()
    assert retried > 0


def test_priority_ordering_matches_simulator(spark, tmp_path_factory):
    """T1: with jittered publish times the priority ranking (depth +
    recency) visibly diverges from FIFO seq order, and the engine's
    vectorized scorer must order admissions exactly like the simulator's
    Python mirror — byte-for-byte crawl log."""
    g = build_site_graph(n_sites=3, cats_per_site=2, pages_per_cat=2,
                         entries_per_page=5, jitter_times=True, seed=23)
    s = simulate_crawl(g)
    ckpt = tmp_path_factory.mktemp("ckpt_prio")
    _, res = _run_engine(spark, g, ckpt)
    assert _engine_log(res) == s["crawl_log"]
    assert {r.url for r in res["url_seen"].collect()} == s["url_seen"]
    assert _engine_docs(res) == _sim_docs(s)
    # the fixture really produced a non-FIFO admission order: in some
    # batch, a later-seq row was admitted before an earlier-seq row
    rows = (
        res["crawl_log"].orderBy("batch_id", "seq")
        .select("batch_id", "url").collect()
    )
    fifo_log = [(r.batch_id, r.url) for r in rows]
    assert fifo_log != s["crawl_log"]
    # and priorities are genuinely non-trivial (not all equal per batch)
    pr = res["crawl_log"].select("batch_id", "priority").distinct().count()
    assert pr > res["crawl_log"].select("batch_id").distinct().count()


def test_html_extraction_round_trip(graph):
    """U1-U3 over raw HTML: for every HTML page, the generic rule-driven
    extractor must recover exactly the payload the page was rendered from
    — titles, paragraph order, inline-image positions, entry lists,
    pagination links (the selector-surface-as-data seam)."""
    from crawler_spark.plans.parser import extract_payload

    html_pages = [p for p in graph["pages"].values() if p.get("source")]
    assert len(html_pages) > 10
    kinds = set()
    for p in html_pages:
        wid = 1000 + int(p["host"].split(".")[0][4:])
        rules = graph["registry"][wid]["extract"]
        got = extract_payload(p["kind"], p["payload"], rules)
        src = p["source"]
        kinds.add(p["kind"])
        if p["kind"] == "menu":
            assert [c["href"] for c in got["categories"]] == \
                [c["href"] for c in src["categories"]]
            assert [c["label"] for c in got["categories"]] == \
                [c["label"] for c in src["categories"]]
        elif p["kind"] == "list":
            assert [
                (e["href"], e["title"], e["pub_time_raw"], e.get("img"))
                for e in got["entries"]
            ] == [
                (e["href"], e["title"], e["pub_time_raw"], e.get("img"))
                for e in src["entries"]
            ]
            assert got["next"] == src.get("next")
            assert got["has_more"] == bool(src.get("has_more"))
        else:  # article: exact paras in order + inline image positions
            assert got["title"] == src["title"]
            assert got["paras"] == src["paras"]
            assert got["imgs"] == src["imgs"]
            assert got["pub_time_raw"] == src["pub_time_raw"]
            assert got["abstract"] == src["abstract"]
    assert kinds == {"menu", "list", "article"}


def test_html_sites_produce_docs_with_html_column(spark, graph, sim):
    """K2: documents from HTML sites carry the raw page; JSON-site docs
    carry null. Both engines agree (covered by the parity test); here we
    assert the fixture exercises both paths."""
    docs = _sim_docs(sim)
    html_docs = [d for d in docs if d["html"]]
    json_docs = [d for d in docs if not d["html"]]
    assert html_docs and json_docs
    # raw page round-trip: the stored html is the fetched payload
    any_doc = html_docs[0]
    assert any_doc["html"].startswith("<html>")
    # and HTML-site documents still carry interleaved image spans
    assert any(
        s[0] == "image" for d in html_docs for s in d["spans"]
    )


def test_form_post_pagination_crawled(spark, graph, sim):
    """S5: the FORM_PAGE site's feed URL is constant — pages differ only in
    the POST body — yet every page is fetched exactly once (fingerprint
    dedup on (url, method, body), never url alone)."""
    from collections import Counter

    feed_fetches = Counter(
        u for _, u in sim["crawl_log"] if "/api/feed" in u
    )
    assert feed_fetches, "fixture must contain a form-paginated site"
    assert max(feed_fetches.values()) > 1  # same URL fetched per-page
    # and the form site actually produced documents
    assert any("site4" in d["request_url"] for d in _sim_docs(sim))


def test_ua_rotation_deterministic(spark, graph, tmp_path_factory):
    """Fetch identity: the engine's vectorized UA pick equals the Python
    mirror for every logged request (middlewares.py:59 semantics, made
    deterministic for parity/resume)."""
    from crawler_spark.functions.identity import ua_pick_py

    ckpt = tmp_path_factory.mktemp("ckpt_ua")
    _, res = _run_engine(spark, graph, ckpt)
    rows = res["crawl_log"].select("url", "ua").collect()
    assert rows
    assert all(r.ua == ua_pick_py(r.url) for r in rows)
    assert len({r.ua for r in rows}) > 1  # the pool actually rotates


def test_cookie_gate_matches_simulator(spark, tmp_path_factory):
    """A Cloudflare-gated site yields documents only when the registry
    carries the clearance cookie (hatawtabloid.py:28,37) — engine and
    simulator agree byte-for-byte in both worlds."""
    kw = dict(n_sites=3, cats_per_site=2, pages_per_cat=2,
              entries_per_page=3, cookie_site=1, seed=31)
    with_cookie = build_site_graph(registry_has_cookie=True, **kw)
    without = build_site_graph(registry_has_cookie=False, **kw)

    s_with = simulate_crawl(with_cookie)
    s_without = simulate_crawl(without)

    def site1_docs(docs):
        return [d for d in docs if "site1" in d["request_url"]]

    assert site1_docs(_sim_docs(s_with))
    assert not site1_docs(_sim_docs(s_without))

    for g, s, tag in ((with_cookie, s_with, "ck_y"), (without, s_without, "ck_n")):
        ckpt = tmp_path_factory.mktemp(f"ckpt_{tag}")
        _, res = _run_engine(spark, g, ckpt)
        assert _engine_log(res) == s["crawl_log"]
        assert {r.url for r in res["url_seen"].collect()} == s["url_seen"]
        assert _engine_docs(res) == _sim_docs(s)
        assert _engine_metrics(res) == sorted(s["metrics"])


def test_politeness_budget_respected(spark, graph, tmp_path_factory):
    """≤ floor(batch_seconds / crawl_delay) fetches per host per batch
    (settings.py:28 semantics)."""
    from pyspark.sql import functions as F

    ckpt = tmp_path_factory.mktemp("ckpt_budget")
    _, res = _run_engine(spark, graph, ckpt)
    per = (
        res["crawl_log"].groupBy("batch_id", "host")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"))
        .collect()[0]
    )
    assert per.mx <= 5  # floor(1.0 / 0.2)
