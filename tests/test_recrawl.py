"""Multi-run incremental recrawl + eviction.

The reference's deployment model is a DAILY re-invocation of every
spider (start.bat) against the persistent ``news`` table: each run
starts from the seeds, refetches menus/lists (never stored, so never
"seen"), and stores only articles whose request_url is absent from the
DB (middlewares.py:51). Scrapy's intra-run dupefilter (RFPDupeFilter)
resets per invocation. ``CrawlEngine.run(recrawl=True)`` reproduces
exactly that on the existing checkpoint — batch numbering and the
docs/crawl_log/metrics history stay append-only — and ``evict_urls``
adds the retention-roll capability (with the cuckoo filter active:
incremental filter deletion; below its threshold: the seen-set projection
alone). Every run is verified byte-for-byte against the
reference-semantics simulator seeded with the prior runs' seen set."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawler_spark.simulator import simulate_crawl
from crawler_spark.sources.mock_web import (
    AS_OF,
    build_site_graph,
    seeds_df,
    site_graph_df,
)
from crawler_spark.streaming.crawl_loop import CrawlEngine
from tests.test_crawl_e2e import _engine_docs, _engine_log, _sim_docs


def _mk_engine(spark, graph, ckpt_dir, **kw):
    return CrawlEngine(
        spark,
        site_graph=site_graph_df(spark, graph),
        registry=graph["registry"],
        seeds=seeds_df(spark, graph),
        cutoff_epoch=graph["cutoff_epoch"],
        as_of=AS_OF,
        checkpoint_dir=str(ckpt_dir),
        **kw,
    )


def _scoped_log(res, b0: int) -> list[tuple[int, str]]:
    """This run's crawl log, batch ids remapped to the simulator's 0-based
    numbering."""
    return [(b - b0, u) for (b, u) in _engine_log(res) if b >= b0]


def test_recrawl_pass_matches_simulator_with_preseen(spark,
                                                     tmp_path_factory):
    """Run 2 over the same graph: menus/lists refetch (intra-run filter
    reset), every stored article dedups against the cross-run seen set,
    dont_filter probes still go through — byte-for-byte equal to the
    simulator seeded with run 1's seen set."""
    g = build_site_graph(n_sites=2, cats_per_site=2, pages_per_cat=2,
                         entries_per_page=3, dup_fraction=0.2, seed=19)
    s1 = simulate_crawl(g)
    ckpt = tmp_path_factory.mktemp("ckpt_recrawl")
    eng1 = _mk_engine(spark, g, ckpt)
    res1 = eng1.run()
    assert _engine_log(res1) == s1["crawl_log"]
    assert {r.url for r in res1["url_seen"].collect()} == s1["url_seen"]
    n_docs_1 = res1["docs"].count()
    b0 = res1["last_batch"] + 1

    # a fresh engine object on the same checkpoint = a new daily invocation
    eng2 = _mk_engine(spark, g, ckpt)
    res2 = eng2.run(recrawl=True)
    s2 = simulate_crawl(g, url_seen_init=s1["url_seen"])
    assert _scoped_log(res2, b0) == s2["crawl_log"]
    assert {r.url for r in res2["url_seen"].collect()} == s2["url_seen"]
    # docs history is append-only: run-2 rows are exactly sim-2's docs
    # (multiset), on top of the untouched run-1 rows
    assert res2["docs"].count() == n_docs_1 + len(s2["docs_rows"])
    assert _engine_docs(res2) == sorted(
        _sim_docs(s1) + _sim_docs(s2),
        key=lambda d: repr(sorted(d.items())),
    )


def test_evict_then_recrawl_refetches_exactly_the_evicted(spark,
                                                          tmp_path_factory):
    g = build_site_graph(n_sites=1, cats_per_site=2, pages_per_cat=2,
                         entries_per_page=3, dup_fraction=0.0, seed=23)
    s1 = simulate_crawl(g)
    ckpt = tmp_path_factory.mktemp("ckpt_evict")
    eng1 = _mk_engine(spark, g, ckpt)
    res1 = eng1.run()
    assert _engine_log(res1) == s1["crawl_log"]
    b0 = res1["last_batch"] + 1

    stored = sorted(
        r.request_url for r in res1["docs"].select("request_url").collect()
    )
    evict = stored[:2]
    eng2 = _mk_engine(spark, g, ckpt)
    n = eng2.evict_urls(
        spark.createDataFrame(
            [(u,) for u in evict + ["http://never-seen.example.com/x"]],
            "url string",
        )
    )
    assert n == 2  # the never-seen URL is not evicted (delete contract)
    assert {r.url for r in eng2._url_seen_state(b0 - 1).collect()} == (
        s1["url_seen"] - set(evict)
    )

    res2 = eng2.run(recrawl=True)
    s2 = simulate_crawl(g, url_seen_init=s1["url_seen"] - set(evict))
    assert _scoped_log(res2, b0) == s2["crawl_log"]
    # exactly the evicted articles were stored again
    run2_urls = sorted(
        d["request_url"] for d in _sim_docs(s2)
    )
    assert run2_urls == sorted(evict)
    assert res2["docs"].count() == len(s1["docs_rows"]) + 2
    # and they are back in the seen set
    assert {r.url for r in res2["url_seen"].collect()} == s1["url_seen"]


def test_cuckoo_eviction_updates_filter_in_place(spark, tmp_path_factory):
    """With the cuckoo tier active the eviction path DELETES the evicted
    fingerprints from the stored shard tables (no rebuild); the recrawl
    pass still matches the simulator byte-for-byte — the two-tier design
    means filter surgery can never affect correctness."""
    g = build_site_graph(n_sites=2, cats_per_site=2, pages_per_cat=2,
                         entries_per_page=3, dup_fraction=0.2, seed=29)
    s1 = simulate_crawl(g)
    ckpt = tmp_path_factory.mktemp("ckpt_cuckoo_evict")
    eng1 = _mk_engine(spark, g, ckpt, bloom_threshold=0)
    res1 = eng1.run()
    assert _engine_log(res1) == s1["crawl_log"]
    b0 = res1["last_batch"] + 1
    last = eng1.ckpt.last_complete_batch()
    before = {
        r.shard: (r.tbl, r.stash)
        for r in eng1.ckpt.read_part(last, "cuckoo").collect()
    }

    stored = sorted({
        r.request_url for r in res1["docs"].select("request_url").collect()
    })
    evict = stored[:3]
    eng2 = _mk_engine(spark, g, ckpt, bloom_threshold=0)
    assert eng2.evict_urls(
        spark.createDataFrame([(u,) for u in evict], "url string")
    ) == 3
    after = {
        r.shard: (r.tbl, r.stash)
        for r in eng2.ckpt.read_part(last, "cuckoo").collect()
    }
    assert before != after  # fingerprints really deleted in place

    res2 = eng2.run(recrawl=True)
    s2 = simulate_crawl(g, url_seen_init=s1["url_seen"] - set(evict))
    assert _scoped_log(res2, b0) == s2["crawl_log"]
    assert {r.url for r in res2["url_seen"].collect()} == s2["url_seen"]


def test_interrupted_recrawl_resumes_with_run_scope(spark,
                                                    tmp_path_factory):
    """Kill a recrawl pass after its first batch and resume: the resumed
    run must keep the recrawl's dupefilter scope (run_start restored from
    the manifest), ending byte-for-byte equal to an uninterrupted pass."""
    g = build_site_graph(n_sites=2, cats_per_site=2, pages_per_cat=2,
                         entries_per_page=3, dup_fraction=0.2, seed=31)
    s1 = simulate_crawl(g)
    ckpt = tmp_path_factory.mktemp("ckpt_recrawl_resume")
    eng1 = _mk_engine(spark, g, ckpt)
    res1 = eng1.run()
    b0 = res1["last_batch"] + 1

    eng2 = _mk_engine(spark, g, ckpt)
    eng2.run(recrawl=True, max_batches=1)  # interrupted after one batch
    eng3 = _mk_engine(spark, g, ckpt)
    res3 = eng3.run(resume=True)
    assert eng3._run_start_batch == b0  # scope restored, not reset to 0
    s2 = simulate_crawl(g, url_seen_init=s1["url_seen"])
    assert _scoped_log(res3, b0) == s2["crawl_log"]
    assert {r.url for r in res3["url_seen"].collect()} == s2["url_seen"]
