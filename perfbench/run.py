"""Closed-loop crawl benchmark for crawler_spark.

    python3 perfbench/run.py --workload recrawl_evict --seed 1 --seconds 12 --trace 0

Run from the repository root. One process starts one local Spark session,
sets its workload up (inputs, then an untimed warm-up pass in the same
JVM), then runs passes back to back, each after the previous one returned,
until ``--seconds`` have passed (at least one pass). Every pass is checked
for correctness outside its timed window.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` is the separate
traced run: it alternates untraced and traced passes, prints the per-layer
metrics and writes its spans to ``.perfbench_traces/``. The last line of
standard output is one JSON object: correct, attempted, failed, metrics.

``--scale smoke`` shrinks every input (a 6-site graph, ~sf0.001 frontier);
the smoke test uses it. All scratch state lives under ``.perfbench_work/``
in the repository and is deleted on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
TRACES = os.path.join(ROOT, ".perfbench_traces")

# Same JVM settings for every workload: a heap pinned at one size, -Xms as
# well as -Xmx (the engine default of 24g exceeds small machines, and G1's
# adaptive heap sizing made run-to-run times differ by up to 30%), at most 2
# local cores (the JIT, the GC and the Python workers need the rest of a
# small machine), as many shuffle partitions as cores.
DRIVER_MEM = "2g"
MAX_CORES = 2



def metric_units(kind: str) -> dict[str, str]:
    """{name: unit} of the ``end_to_end`` or ``per_layer`` metrics: they
    are declared once, in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("recrawl_evict", "frontier_bulk"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "smoke"), default="full")
    return p.parse_args(argv)


def start_spark():
    """Local session with every temporary file under WORK."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # Python workers import crawler_spark from the checkout.
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    from crawler_spark.session import get_spark

    n = min(MAX_CORES, len(os.sched_getaffinity(0)))
    spark = get_spark(
        "perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # Task counts are read from the status store: keep every job.
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit (its Python
    workers exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def pct(a: float, b: float) -> float:
    return a / b if b else 0.0


def layer_metrics(wl, tracer, traced: list[dict], probes: list[dict],
                  untraced_s: list[float]) -> dict:
    """Per-layer metrics from the traced passes' spans and probes; a layer
    this workload does not run reads 0."""
    m = {k: 0.0 for k in metric_units("per_layer")}
    overhead = (statistics.median(r["seconds"] for r in traced)
                / statistics.median(untraced_s) - 1.0)
    m["trace.overhead_frac"] = overhead
    med = statistics.median
    if wl.name == "frontier_bulk":
        for stage, (t_key, rows_key) in {
            "canon": ("urlnorm.canon_s", "urlnorm.rows_out"),
            "intra_batch": ("dedup.intra_batch_s", "dedup.intra_batch_rows_out"),
            "antijoin": ("dedup.antijoin_s", "dedup.antijoin_rows_out"),
            "admit": ("politeness.admit_s", "politeness.admit_rows_out"),
        }.items():
            m[t_key] = med(p["secs"][stage] for p in probes)
            m[rows_key] = probes[-1]["rows"][stage]
        return m

    per_pass = []
    for r in traced:
        spans = tracer.pass_spans(r["pass_id"])
        batches = [s for s in spans if s["name"] == "crawl_loop.run_batch"]
        nb = len(batches)
        jobs = tracer.counters.jobs(
            min(s["job0"] for s in spans), max(s["job1"] for s in spans))
        by_id = {j[0]: j for j in jobs}
        in_batch = [by_id[j] for s in batches
                    for j in range(s["job0"], s["job1"]) if j in by_id]

        def total(*names):
            return sum(s["end"] - s["start"] for s in spans
                       if s["name"] in names)

        n = r["notes"]
        per_pass.append({
            "crawl_loop.jobs_per_batch": len(in_batch) / nb,
            "crawl_loop.tasks_per_batch": sum(j[2] for j in in_batch) / nb,
            "crawl_loop.run_batch_s": med(s["end"] - s["start"] for s in batches),
            "crawl_loop.self_s": med(tracer.self_time(s["id"]) for s in batches),
            "checkpoint.write_parts_s": total("checkpoint.write_parts") / nb,
            "checkpoint.write_parts_jobs": sum(
                1 for j in in_batch if (j[1] or "").startswith(
                    "perfbench:write_parts")) / nb,
            "checkpoint.finalize_s": total("checkpoint.finalize") / nb,
            "checkpoint.read_s": total("checkpoint.read_deltas",
                                       "checkpoint.read_part") / nb,
            "checkpoint.bytes": n["bytes"],
            "checkpoint.files": n["files"],
            "dedup.evict_s": total("dedup.evict_urls"),
            "dedup.drop_frac": pct(n["deduped"], n["deduped"] + n["scheduled"]),
            "fetcher.ok_frac": pct(n["fetched"], n["scheduled"]),
        })
    for k in per_pass[0]:
        m[k] = med(p[k] for p in per_pass)
    m["parser.page_us"] = med(p["page_us"] for p in probes)
    m["simulator.pass_s"] = probes[-1]["sim_pass_s"]
    return m


def write_tag(path: str) -> str | None:
    """Tag the parquet writes of ``CrawlCheckpoint.write_parts``: they are
    the only ones into a batch directory (``replace_part`` writes a
    ``__tmp`` sibling first)."""
    if os.sep + "batch_" in path and not path.endswith("__tmp"):
        return "perfbench:write_parts"
    return None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "crawler_spark")):
        print(f"perfbench: no crawler_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.crawl import RecrawlEvict
    from perfbench.frontier import FrontierBulk
    from perfbench.trace import (
        SparkCounters,
        Tracer,
        tag_parquet_writes,
        tree_peak_rss_mb,
    )

    t_start = time.monotonic()
    shutil.rmtree(WORK, ignore_errors=True)
    spark = start_spark()
    try:
        session_s = time.monotonic() - t_start
        cls = {"recrawl_evict": RecrawlEvict,
               "frontier_bulk": FrontierBulk}[args.workload]
        wl = cls(spark, args.seed, args.scale, WORK)
        setup_ok = wl.setup()
        t_warm = time.monotonic()
        setup_ok = wl.warmup() and setup_ok
        warmup_s = time.monotonic() - t_warm
        setup_s = time.monotonic() - t_start
        print(f"perfbench: session {session_s:.2f} s, inputs "
              f"{t_warm - t_start - session_s:.2f} s, warm-up {warmup_s:.2f} s",
              file=sys.stderr)

        tracer = Tracer(SparkCounters(spark.sparkContext)) if args.trace else None
        results, traced, probes, untraced_s = [], [], [], []
        attempted = failed = 0
        deadline = time.monotonic() + args.seconds
        while True:
            want_traced = bool(args.trace) and len(untraced_s) > len(traced)
            attempted += 1
            if want_traced:
                tracer.pass_id += 1
                with tag_parquet_writes(spark.sparkContext, write_tag):
                    r = wl.run_pass(tracer)
                r["pass_id"] = tracer.pass_id
                probe, probe_ok = wl.layer_probe(tracer)
                r["ok"] = r["ok"] and probe_ok
                traced.append(r)
                probes.append(probe)
            else:
                r = wl.run_pass()
                untraced_s.append(r["seconds"])
                results.append(r)
            failed += not r["ok"]
            print(f"perfbench: pass {attempted} {r['seconds']:.2f} s, batches "
                  + " ".join(f"{b:.2f}" for b in r["batches"])
                  + ("" if r["ok"] else " FAILED CHECK"), file=sys.stderr)
            done = (results and (traced or not args.trace))
            if done and time.monotonic() >= deadline:
                break

        if args.trace:
            metrics = layer_metrics(wl, tracer, traced, probes, untraced_s)
            metrics["session.start_s"] = session_s
            metrics["setup.warmup_s"] = warmup_s
            os.makedirs(TRACES, exist_ok=True)
            tracer.dump(os.path.join(
                TRACES, f"{args.workload}-seed{args.seed}.json"))
            units = metric_units("per_layer")
        else:
            batches = [b for r in results for b in r["batches"]]
            metrics = {
                "urls_per_s": statistics.median(
                    r["urls"] / r["seconds"] for r in results),
                "batch_p50_s": statistics.median(batches),
                "setup_s": setup_s,
                "peak_rss_mb": tree_peak_rss_mb(),
            }
            units = metric_units("end_to_end")
            print(f"perfbench {args.workload} seed={args.seed}: "
                  f"{len(results)} passes, {len(batches)} batches; "
                  + "; ".join(f"{k}={v:.6g} {units[k]}"
                              for k, v in metrics.items())
                  + f"; failed_frac={failed / attempted:.6g}"
                  + f" ({failed}/{attempted} passes)")
        correct = bool(setup_ok) and failed == 0
        out = {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u}
                        for k, u in units.items()},
        }
    finally:
        stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
