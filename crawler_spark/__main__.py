"""Command-line entry points mirroring the reference's invocation surface.

The reference is operated as (a) ``scrapy crawl <site> -a time=<epoch>``
per site per day (start.bat:1; the ``time`` argument is the incremental
cutoff every list loop checks) and (b) ``python baogao.py`` for the daily
report (baogao.py:12-116). This module gives the Spark engine the same
two verbs:

    python -m crawler_spark list-sites
    python -m crawler_spark crawl [SITE ...] --time EPOCH \\
        --checkpoint DIR [--recrawl|--resume] [--cpus N] \\
        [--autothrottle] [--max-batches N]
    python -m crawler_spark report --checkpoint DIR [--date YYYY-MM-DD] \\
        [--cpus N]

Differences from the reference, by design: one invocation crawls MANY
sites in one shared frontier (the whole point of the set-oriented
engine), ``--time`` applies to all of them, and ``report`` reads the
engine's own checkpointed ``documents`` output instead of MySQL. The
sandbox has no network, so ``crawl`` runs against the deterministic
real-site fixture graph (sources/real_sites.py — 15 ported rule-sets);
a deployment swaps in ``HttpFetcher`` via the library API
(sources/fetcher.py) without touching the loop.
"""

from __future__ import annotations

import argparse
import json
import sys
from datetime import datetime, timedelta

# Language-id → name for the report dim (the ids are the reference's:
# e.g. 1930 on zeenews.py:15, 1866 on philboxing.py:15).
LANGUAGE_NAMES = {
    1930: "Hindi",
    1866: "English",
    2117: "Filipino",
    2266: "Chinese",
}


def _spark(cpus: int):
    from crawler_spark.session import get_spark

    return get_spark(
        "crawler-spark-cli",
        master=f"local[{cpus}]",
        shuffle_partitions=max(8, cpus),
    )


def cmd_list_sites(_args) -> int:
    from crawler_spark.sources.real_sites import SITE_BUILDERS

    for name in sorted(SITE_BUILDERS):
        print(name)
    return 0


def cmd_crawl(args) -> int:
    from crawler_spark.sources.real_sites import (
        SITE_BUILDERS,
        build_real_graph,
        real_graph_df,
        real_seeds_df,
    )
    from crawler_spark.streaming.crawl_loop import CrawlEngine

    sites = args.sites or sorted(SITE_BUILDERS)
    unknown = [s for s in sites if s not in SITE_BUILDERS]
    if unknown:
        print(f"unknown sites: {unknown}; see list-sites", file=sys.stderr)
        return 2
    graph = build_real_graph(sites)
    cutoff = float(args.time) if args.time is not None else graph["cutoff_epoch"]
    spark = _spark(args.cpus)
    engine = CrawlEngine(
        spark,
        real_graph_df(spark, graph),
        graph["registry"],
        real_seeds_df(spark, graph),
        cutoff,
        graph["as_of"],
        args.checkpoint,
        autothrottle={} if args.autothrottle else None,
    )
    res = engine.run(
        max_batches=args.max_batches,
        resume=args.resume,
        recrawl=args.recrawl,
    )
    docs = res["docs"]
    per_site = (
        {int(r["website_id"]): int(r["n"]) for r in
         docs.groupBy("website_id").count().withColumnRenamed("count", "n")
         .collect()}
        if docs is not None else {}
    )
    log = res["crawl_log"]
    print(json.dumps({
        "sites": sites,
        "cutoff_epoch": cutoff,
        "batches": res["last_batch"] + 1,
        "fetched": log.count() if log is not None else 0,
        "docs": sum(per_site.values()),
        "docs_per_site": {str(k): v for k, v in sorted(per_site.items())},
        "checkpoint": args.checkpoint,
    }))
    return 0


def cmd_report(args) -> int:
    from pyspark.sql import functions as F

    from crawler_spark.operators.report import cumulative_report, daily_report
    from crawler_spark.sources.real_sites import (
        SITE_BUILDERS,
        build_real_graph,
    )
    from crawler_spark.streaming.checkpoint import CrawlCheckpoint

    spark = _spark(args.cpus)
    ckpt = CrawlCheckpoint(spark, args.checkpoint)
    last = ckpt.last_complete_batch()
    if last is None:
        print("no complete checkpoint batches found", file=sys.stderr)
        return 2
    docs = ckpt.read_deltas("docs", last)
    if docs is None or not docs.columns:
        print("checkpoint holds no documents", file=sys.stderr)
        return 2

    # Website dim from the fixture seed list (per-site name + url +
    # language); countries are unknown here -> left-join nulls, exactly
    # how baogao.py behaves on a missing dim row.
    wrows = [
        (s["website_id"], s["url"], n, n, "", s["language_id"], None, None)
        for n in sorted(SITE_BUILDERS)
        for s in build_real_graph([n])["seeds"][:1]
    ]
    websites = spark.createDataFrame(
        wrows,
        "website_id int, url string, c_name string, e_name string,"
        " developer string, lan_id int, country_id int, start_time timestamp",
    )
    languages = spark.createDataFrame(
        [(k, v) for k, v in LANGUAGE_NAMES.items()],
        "language_id int, language string",
    )
    countries = spark.createDataFrame([], "country_id int, country string")

    if args.date:
        day0 = datetime.strptime(args.date, "%Y-%m-%d")
    else:
        # Default: the collection day of the newest stored document.
        newest = docs.agg(F.max("cole_time")).first()[0]
        day0 = datetime(newest.year, newest.month, newest.day)
    daily = daily_report(
        docs, websites, languages, countries, day0, day0 + timedelta(days=1)
    )
    cumulative = cumulative_report(docs, websites, languages, countries)
    total = docs.count()
    out = {
        "date": day0.strftime("%Y-%m-%d"),
        "daily": [r.asDict() for r in daily.collect()],
        "cumulative": [r.asDict() for r in cumulative.collect()],
        "total": total,
    }
    if args.xls:
        from crawler_spark.operators.report import write_report_workbook

        daily_total = docs.filter(
            (F.col("cole_time") >= F.lit(day0))
            & (F.col("cole_time") < F.lit(day0 + timedelta(days=1)))
        ).count()
        out["workbook"] = write_report_workbook(
            args.xls, daily, cumulative, daily_total, total
        )
    if args.eml:
        from crawler_spark.operators.report import render_report_email

        if not out.get("workbook"):
            print("--eml requires --xls (the message attaches the "
                  "workbook, baogao.py:115)", file=sys.stderr)
            return 2
        with open(args.eml, "w", encoding="utf-8") as fh:
            fh.write(render_report_email(
                out["workbook"], out["date"],
                receivers=args.email_to or [],
            ))
        out["eml"] = args.eml
    print(json.dumps(out, default=str))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="python -m crawler_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list-sites", help="print available site rule-sets")

    c = sub.add_parser("crawl", help="crawl sites (start.bat parity)")
    c.add_argument("sites", nargs="*", help="site names (default: all)")
    c.add_argument("--time", type=float, default=None,
                   help="epoch cutoff (the reference's -a time=<epoch>)")
    c.add_argument("--checkpoint", required=True)
    c.add_argument("--resume", action="store_true")
    c.add_argument("--recrawl", action="store_true",
                   help="new daily pass on an existing checkpoint")
    c.add_argument("--cpus", type=int, default=4)
    c.add_argument("--autothrottle", action="store_true")
    c.add_argument("--max-batches", type=int, default=1000)

    r = sub.add_parser("report", help="daily + cumulative report (baogao.py)")
    r.add_argument("--checkpoint", required=True)
    r.add_argument("--date", default=None, help="YYYY-MM-DD (default: newest)")
    r.add_argument("--cpus", type=int, default=4)
    r.add_argument("--xls", default=None, metavar="PATH",
                   help="also write the baogao.py two-sheet workbook "
                        "(.xls if xlwt is importable, else CSV twins)")
    r.add_argument("--eml", default=None, metavar="PATH",
                   help="render the baogao.py report email (subject + "
                        "empty body + workbook attachments) to an RFC-822 "
                        "file instead of sending it")
    r.add_argument("--email-to", action="append", default=None,
                   metavar="ADDR", help="receiver for the --eml To header "
                                        "(repeatable)")

    args = p.parse_args(argv)
    if args.cmd == "list-sites":
        return cmd_list_sites(args)
    if args.cmd == "crawl":
        if args.resume and args.recrawl:
            print("--resume and --recrawl are exclusive", file=sys.stderr)
            return 2
        return cmd_crawl(args)
    return cmd_report(args)


if __name__ == "__main__":
    sys.exit(main())
