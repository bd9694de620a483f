#!/usr/bin/env python3
"""Full-registry per-query sweep: run EVERY ``__spark_entry__.queries()``
entry at a scale dir, record per-query wall clock + errors as JSON. This
is the scale-proof companion to bench.py (33 headline queries) and
check_oracle.py (value gate at sf0.01): at sf1/sf5 it surfaces the
queries whose plans stop scaling — the r5 sweep caught 380 s / 115 s /
42 s outliers the headline bench never ran.

Usage:
    python tools/sweep.py --sf-dir .tmp/sf5 --out SWEEP_sf5.json
    python tools/sweep.py --compare SWEEP_sf1.json SWEEP_sf5.json --factor 5

``--compare A B`` prints per-query ratios B/A and flags ratios above
``--slack``×``--factor`` (factor = data-size ratio; a linear operator at
fixed cores is allowed ~factor× wall).

Reps default to 2: rep 0 is an untimed warm-up absorbing the per-query
Janino compile, persist materialization and first table touch; the
reported time is the median of the rest. The r6 sweeps ran reps=1
(cold) and produced phantom super-linear flags — q12_shipmode read as
9.2× sf1→sf5 and web_url_normalize as 15.3×, but isolated warm reruns
measured BOTH flat (~1.5 s at either scale): at these SFs the cold
component (compile + GC state inherited from sweep position) dominates
the data-proportional work, so cold ratios attribute noise, not plans.
``--reps 1`` remains available as a pure everything-still-runs check.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools import measure  # noqa: E402


def run_sweep(sf_dir: str, cpus: str, out_path: str, reps: int) -> int:
    import __spark_entry__ as entry

    spark = measure.session("feldman-spark-sweep", sf_dir, cpus)
    times, errors = {}, {}
    qs = entry.queries()
    for i, (name, fn) in enumerate(qs.items()):
        try:
            r = measure.run(functools.partial(fn, spark, sf_dir), reps - 1)
            t = round(r["median"] if reps > 1 else r["first"], 3)
            times[name] = t
            print(f"[{i+1}/{len(qs)}] {name}: {t}s", file=sys.stderr)
        except Exception as e:  # record, keep sweeping
            errors[name] = f"{type(e).__name__}: {e}"
            print(f"[{i+1}/{len(qs)}] {name}: ERROR {e}", file=sys.stderr)
            traceback.print_exc(limit=3)
            # a query that failed before returning a frame may still have
            # persisted intermediates; later queries start clean
            spark.catalog.clearCache()
    out = {
        "sf_dir": sf_dir, "cpus": int(cpus), "reps": reps,
        "n_queries": len(qs), "n_errors": len(errors),
        "total_sec": round(sum(times.values()), 1),
        "max_query": max(times, key=times.get) if times else None,
        "times": dict(sorted(times.items(), key=lambda kv: -kv[1])),
        "errors": errors,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: out[k] for k in
                      ("sf_dir", "n_queries", "n_errors", "total_sec",
                       "max_query")}))
    return 1 if errors else 0


def compare(a_path: str, b_path: str, factor: float, slack: float) -> int:
    a = json.load(open(a_path))["times"]
    b = json.load(open(b_path))["times"]
    limit = factor * slack
    bad = 0
    for name in sorted(set(a) & set(b), key=lambda n: -b[n] / max(a[n], .001)):
        ratio = b[name] / max(a[name], 0.001)
        flag = ""
        if ratio > limit and b[name] > 2.0:  # ignore sub-2s jitter
            flag = f"  SUPER-LINEAR (> {limit:.1f}x)"
            bad += 1
        print(f"{name}: {a[name]:.2f}s -> {b[name]:.2f}s  ({ratio:.2f}x){flag}")
    return 1 if bad else 0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.path.join(REPO, ".tmp", "sf5"))
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--out", default=None)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    ap.add_argument("--factor", type=float, default=5.0)
    ap.add_argument("--slack", type=float, default=1.5)
    args = ap.parse_args()
    if args.compare:
        sys.exit(compare(*args.compare, args.factor, args.slack))
    out = args.out or f"SWEEP_{os.path.basename(args.sf_dir.rstrip('/'))}.json"
    sys.exit(run_sweep(args.sf_dir, args.cpus, out, args.reps))


if __name__ == "__main__":
    main()
