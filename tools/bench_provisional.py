"""PROVISIONAL baseline estimates for queries without a gated row, via
same-window anchor normalization.

The gated protocol (tools/bench_addendum.py) refuses to bank numbers
outside a clean calibration window, and the sandbox's neighbor-VM memory
bus has been saturated for days at a stretch (BENCH/PROTOCOL.md) — so a
query added after the last clean window can sit unanchored for rounds,
leaving its "within 2x of baseline" claim unfalsifiable.

This harness provides the next-best evidence WITHOUT relaxing the gate:

1. Run the target queries AND a set of already-anchored queries in ONE
   bench.py invocation (same congestion regime, interleaved by the
   suite's natural ordering).
2. For each anchor, inflation = t_dirty / t_baseline (its gated row).
3. Report the anchors' median inflation and each target's normalized
   estimate  est_clean(X) = t_dirty(X) / median_inflation,  plus the
   spread of anchor inflations (the error bar: if anchors disagree 2x,
   the estimate is 2x-soft and says so).

The output is appended to BENCH/BASELINE.md under an explicit
PROVISIONAL heading — separate from the gated table, stamped with both
calibration probes, and superseded the moment a gated addendum row
lands.  It makes the 2x claim falsifiable (a target 30x its anchors in
the same window would fail any future clean measurement) while never
pretending to be a clean number.

Usage:
    python tools/bench_provisional.py q1 q2 ...
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
from datetime import datetime, timezone

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from bench_scaling import REPO, calibrate

# Anchors: spread across plan families (join+agg, window-free rank,
# self-join sketch, Arrow UDF, pure JVM map) so one family's regime
# sensitivity cannot dominate the inflation estimate.
DEFAULT_ANCHORS = [
    "report_daily", "url_canonicalize", "minhash_lsh",
    "fuzzy_date_parse", "token_stats", "gopher_repetition",
]


def load_baseline_rows() -> dict[str, float]:
    """The gated per-query rows from BENCH/BASELINE.md's headline JSON."""
    md = os.path.join(REPO, "BENCH", "BASELINE.md")
    rows: dict[str, float] = {}
    with open(md) as fh:
        for line in fh:
            line = line.strip()
            if line.startswith('{"metric"'):
                rec = json.loads(line)
                if rec.get("queries"):
                    rows.update(rec["queries"])
    return rows


def main() -> int:
    targets = [a for a in sys.argv[1:] if not a.startswith("-")]
    if not targets:
        print("usage: bench_provisional.py QUERY [QUERY ...]",
              file=sys.stderr)
        return 2
    base = load_baseline_rows()
    anchors = [a for a in DEFAULT_ANCHORS if a in base]
    if len(anchors) < 3:
        print("need >=3 anchored queries in BASELINE.md", file=sys.stderr)
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    c0, m0 = calibrate()
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS="32",
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_QUERIES=",".join(anchors + targets),
        SPARK_GRAFT_NO_FRONTIER="1",
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env, capture_output=True, text=True, cwd=REPO,
    )
    c1, m1 = calibrate()
    line = [ln for ln in out.stdout.splitlines() if '"metric"' in ln]
    if out.returncode != 0 or not line:
        print(out.stderr[-2000:], file=sys.stderr)
        return 2
    timings = json.loads(line[-1])["queries"]

    # A query can fail or be skipped inside bench.py, so its row is absent;
    # an anchor must also have positive timings to give an inflation.
    bad = [a for a in anchors
           if not (timings.get(a, 0) > 0 and base.get(a, 0) > 0)]
    missing = [t for t in targets if t not in timings]
    for q in bad:
        print(f"anchor {q}: absent or zero timing or baseline",
              file=sys.stderr)
    for q in missing:
        print(f"target {q}: no timing row", file=sys.stderr)
    targets = [t for t in targets if t in timings]
    if bad or not targets:
        return 2

    infl = {a: timings[a] / base[a] for a in anchors}
    med = statistics.median(infl.values())
    lo, hi = min(infl.values()), max(infl.values())
    est = {t: timings[t] / med for t in targets}

    now = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M UTC")
    md = os.path.join(REPO, "BENCH", "BASELINE.md")
    with open(md, "a") as fh:
        fh.write(
            f"\n## PROVISIONAL estimates ({now}) — congested-window,"
            f" anchor-normalized; NOT gated\n\n"
            f"Calibration (s): cpu {c0:.2f}->{c1:.2f},"
            f" mem {m0:.2f}->{m1:.2f} (clean capacity ~2.93/0.80).\n"
            f"Method: tools/bench_provisional.py — one bench.py subset"
            f" run; anchors' inflation vs their GATED rows normalizes"
            f" the same-window target timings.  Superseded by any gated"
            f" addendum row.\n\n"
            f"Anchor inflation: median {med:.2f}x"
            f" (spread {lo:.2f}x–{hi:.2f}x over {len(anchors)}"
            f" anchors: "
            + ", ".join(f"{a} {infl[a]:.2f}x" for a in anchors)
            + ")\n\n"
            "| query | dirty s | est. clean s (dirty/median) |\n"
            "|---|---|---|\n"
        )
        for t in targets:
            fh.write(f"| {t} | {timings[t]:.2f} | {est[t]:.2f} |\n")
    print(json.dumps({
        "median_inflation": round(med, 3),
        "anchor_spread": [round(lo, 3), round(hi, 3)],
        "dirty": {t: timings[t] for t in targets},
        "est_clean": {t: round(v, 3) for t, v in est.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
