"""recrawl_evict: the reference's daily operating model over a stored corpus.

Set-up crawls a ~60-site mock web once from its seeds (about 5k stored
documents, above the engine's URL-seen filter threshold) and snapshots the
checkpoint. Each measured pass restores the snapshot outside the timed
window, then times ``evict_urls`` of 5% of the stored URLs followed by
``run(recrawl=True)``: menus and lists are refetched, every stored article
is probed against the URL-seen projection and the sharded filter tier, and
only the evicted articles are fetched and stored again.

Every pass is checked against ``simulate_crawl`` seeded with the seen set
minus the evicted URLs: crawl-log order, the URL-seen set and the multiset
of documents the pass stored, plus a URL-seen filter recorded in the
manifest of every recrawl batch.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from contextlib import nullcontext

GRAPHS = {
    # 10 sites × 2 categories × 1 list page × 48 entries: ~500 stored docs.
    # Seeded at the list pages, a crawl is two batches (lists, articles);
    # batch_seconds 30 admits a whole list's articles per host per batch
    # (30 s / 0.2 s crawl delay = 150).
    "full": dict(n_sites=10, cats_per_site=2, pages_per_cat=1,
                 entries_per_page=48),
    "smoke": dict(n_sites=6, cats_per_site=2, pages_per_cat=1,
                  entries_per_page=6),
}
BATCH_SECONDS = 30.0
EVICT_FRAC = 0.05
CKPT_METHODS = ("write_parts", "finalize", "read_part", "read_deltas",
                "read_evictions", "append_evictions", "replace_part",
                "prune_part", "compact")


def list_seeded(graph: dict) -> dict:
    """Seed every site at its category list pages instead of its menu (the
    registry's ``seed_kind``: start_urls that are the list, as
    interaksyon.py does), so a crawl skips the menu hop. Categories the
    menu excludes are not seeded."""
    from crawler_spark.sources.mock_web import page_key

    pages, seeds = graph["pages"], []
    for s in graph["seeds"]:
        rules = graph["registry"][s["website_id"]]
        for cat in pages[page_key(s["url"])]["payload"]["categories"]:
            if cat["excluded"]:
                continue
            method, body = cat.get("method", "GET"), cat.get("body", "")
            rules.update(
                seed_kind=pages[page_key(cat["href"], method, body)]["kind"],
                seed_method=method, seed_body=body)
            seeds.append({**s, "url": cat["href"]})
    graph["seeds"] = seeds
    return graph


def _tree_size(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for d, _, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(d, f))
            n_files += 1
    return n_bytes, n_files


class RecrawlEvict:
    name = "recrawl_evict"

    def __init__(self, spark, seed: int, scale: str, work: str):
        self.spark = spark
        self.seed = seed
        self.scale = scale
        self.dir = os.path.join(work, "crawl")
        self.ckpt_dir = os.path.join(self.dir, "ckpt")
        self.snap_dir = os.path.join(self.dir, "snapshot")

    def _engine(self):
        from crawler_spark.sources.mock_web import AS_OF
        from crawler_spark.streaming.crawl_loop import CrawlEngine

        g = self.graph
        return CrawlEngine(
            self.spark, site_graph=self.site_graph, registry=g["registry"],
            seeds=self.seeds, cutoff_epoch=g["cutoff_epoch"], as_of=AS_OF,
            checkpoint_dir=self.ckpt_dir, batch_seconds=BATCH_SECONDS,
        )

    # -- set-up ---------------------------------------------------------------

    def setup(self) -> bool:
        """The mock web, both simulator runs and the URLs to evict."""
        from crawler_spark.simulator import simulate_crawl
        from crawler_spark.sources.mock_web import (
            build_site_graph,
            seeds_df,
            site_graph_df,
        )

        self.graph = list_seeded(
            build_site_graph(seed=self.seed, **GRAPHS[self.scale]))
        self.site_graph = site_graph_df(self.spark, self.graph)
        self.seeds = seeds_df(self.spark, self.graph)
        self.sim1 = simulate_crawl(self.graph, batch_seconds=BATCH_SECONDS)
        seen = sorted(self.sim1["url_seen"])
        rng = random.Random(self.seed)
        self.evicted = sorted(rng.sample(seen, max(1, int(len(seen) * EVICT_FRAC))))
        self.evict_df = self.spark.createDataFrame(
            [(u,) for u in self.evicted], "url string")
        t0 = time.monotonic()
        self.sim2 = simulate_crawl(
            self.graph, batch_seconds=BATCH_SECONDS,
            url_seen_init=set(seen) - set(self.evicted))
        self.sim_pass_s = time.monotonic() - t0
        return True

    def warmup(self) -> bool:
        """The set-up crawl, its check and the snapshot. It is also this
        JVM's untimed warm-up pass: it runs every stage of ``run_batch``."""
        eng = self._engine()
        res = eng.run()
        self.b0 = res["last_batch"] + 1
        self.n_docs0 = res["docs"].count()
        self.setup_ok = (
            _log(res, 0) == self.sim1["crawl_log"]
            and {r.url for r in res["url_seen"].collect()}
            == self.sim1["url_seen"]
            and self.n_docs0 == len(self.sim1["docs_rows"])
        )
        # Above the engine's activation threshold every recrawl batch must
        # record its URL-seen filter in the manifest.
        self.expect_filter = self.n_docs0 >= eng.bloom_threshold
        shutil.copytree(self.ckpt_dir, self.snap_dir)
        shutil.rmtree(self.ckpt_dir)
        return self.setup_ok

    # -- passes ---------------------------------------------------------------

    def run_pass(self, tracer=None) -> dict:
        shutil.copytree(self.snap_dir, self.ckpt_dir)
        eng = self._engine()
        batches: list[float] = []
        run_batch = eng.run_batch

        def timed_batch(b, frontier):
            t0 = time.monotonic()
            out = run_batch(b, frontier)
            if out is not None:  # None: nothing survived, no commit
                batches.append(time.monotonic() - t0)
            return out

        eng.run_batch = timed_batch
        if tracer is not None:
            tracer.wrap(eng, "run_batch", "crawl_loop.run_batch")
            tracer.wrap(eng, "evict_urls", "dedup.evict_urls")
            for m in CKPT_METHODS:
                tracer.wrap(eng.ckpt, m, f"checkpoint.{m}")

        t0 = time.monotonic()
        with tracer.span("recrawl.pass") if tracer else nullcontext():
            n_ev = eng.evict_urls(self.evict_df)
            res = eng.run(recrawl=True)
        sec = time.monotonic() - t0

        ok, notes = self._check(eng, res, n_ev)
        notes["bytes"], notes["files"] = _tree_size(self.ckpt_dir)
        shutil.rmtree(self.ckpt_dir)
        return {"seconds": sec, "batches": batches, "ok": ok,
                "urls": notes["scheduled"] + notes["deduped"], "notes": notes}

    def _check(self, eng, res, n_ev: int) -> tuple[bool, dict]:
        from pyspark.sql import functions as F

        b0, sim = self.b0, self.sim2
        last = res["last_batch"]
        m = (res["metrics"].filter(F.col("batch_id") >= b0)
             .agg(F.sum("scheduled"), F.sum("deduped"), F.sum("fetched"))
             .collect()[0])
        notes = {"scheduled": int(m[0] or 0), "deduped": int(m[1] or 0),
                 "fetched": int(m[2] or 0)}
        # cole_time stamps the storing batch: base_epoch + b·batch_seconds
        new_docs = res["docs"].filter(
            F.unix_timestamp("cole_time")
            >= F.lit(eng.base_epoch + b0 * eng.batch_seconds))
        kind = eng.filter_kind
        ok = (
            n_ev == len(self.evicted)
            and _log(res, b0) == sim["crawl_log"]
            and {r.url for r in res["url_seen"].collect()} == sim["url_seen"]
            and _docs(new_docs.collect()) == _docs_sim(sim["docs_rows"])
            and res["docs"].count() == self.n_docs0 + len(sim["docs_rows"])
            and (not self.expect_filter or all(
                kind in eng.ckpt.stats(b) for b in range(b0, last + 1)))
        )
        return ok, notes

    def layer_probe(self, tracer) -> tuple[dict, bool]:
        """Per-page cost of ``parse_page`` on this graph's pages, called
        directly, and the single-threaded simulator's time for the pass."""
        from crawler_spark.plans.parser import parse_page
        from crawler_spark.sources.mock_web import payload_str

        g, n = self.graph, 0
        site_of = {s["url"].split("/")[2]: s["website_id"] for s in g["seeds"]}
        t0 = time.monotonic()
        for (url, method, body), page in g["pages"].items():
            rule = g["registry"].get(site_of[page["host"]], {})
            parse_page(
                url=url, response_url=page["response_url"], kind=page["kind"],
                payload_json=payload_str(page), meta={}, depth=1, seq="0000",
                cutoff_epoch=g["cutoff_epoch"],
                rule=rule.get("rule", "next_link"), as_of=g["as_of"],
                probe_first=rule.get("probe_first", False), method=method,
                body=body, fmt=rule.get("format", "json"),
                extract=rule.get("extract"), site=rule, req_kind=page["kind"],
            )
            n += 1
        page_us = (time.monotonic() - t0) / n * 1e6
        return {"page_us": page_us, "sim_pass_s": self.sim_pass_s}, True


def _log(res, b0: int) -> list[tuple[int, str]]:
    """The crawl log from batch ``b0`` on, renumbered from 0, in the
    engine's canonical order."""
    from pyspark.sql import functions as F

    rows = (res["crawl_log"].filter(F.col("batch_id") >= b0)
            .orderBy("batch_id", F.desc("priority"), "seq")
            .select("batch_id", "url").collect())
    return [(r.batch_id - b0, r.url) for r in rows]


def _doc_tuple(d) -> tuple:
    return (d["doc_id"], d["title"], d["abstract"], d["category1"],
            d["category2"], d["pub_time"], d["request_url"],
            d["response_url"], d["html"],
            tuple((s["kind"], s["text"], s["media_ref"], s["offset"])
                  for s in (d["spans"] or [])))


def _docs(rows) -> list[tuple]:
    out = []
    for r in rows:
        d = r.asDict(recursive=True)
        d["pub_time"] = d["pub_time"].strftime("%Y-%m-%d %H:%M:%S")
        out.append(_doc_tuple(d))
    return sorted(out, key=repr)


def _docs_sim(rows) -> list[tuple]:
    return sorted((_doc_tuple({**d, "html": d.get("html")}) for d in rows),
                  key=repr)
