#!/usr/bin/env python3
"""A/B harness for the r10 optimization round: measure each named query
with the plain `_t` read vs the row-group-floor `_tw` read (monkeypatch
swap), alternating arms rep-by-rep so host bursts hit both equally.
Prints per-query medians and the verdict. Usage:

    python tools/ab_parallel_read.py q1,q2,... [reps_per_arm]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import measure  # noqa: E402


def main() -> None:
    names = sys.argv[1].split(",")
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    import __spark_entry__ as entry

    spark = measure.session("ab-parallel-read", sf_dir, cpus)
    orig_t = entry._t
    qs = entry.queries()

    def tw_t(s, d, n):
        df = orig_t(s, d, n)
        cores = s.sparkContext.defaultParallelism
        if entry._scan_row_groups(f"{d}/{n}.parquet") < cores:
            return df.repartition(cores)
        return df

    def arm(name, read):
        def call():
            entry._t = read
            try:
                return qs[name](spark, sf_dir)
            finally:
                entry._t = orig_t
        return call

    for name in names:
        r = measure.ab({"base": arm(name, orig_t), "tw": arm(name, tw_t)},
                       reps)
        base, tw = r["base"]["samples"], r["tw"]["samples"]
        mb, mt = r["base"]["median"], r["tw"]["median"]
        verdict = "TW_WINS" if mt < 0.9 * mb else (
            "BASE_WINS" if mb < 0.9 * mt else "WASH")
        print(f"{name}: base {mb:.3f}s tw {mt:.3f}s -> {verdict}  "
              f"b={[round(x,2) for x in base]} t={[round(x,2) for x in tw]}",
              flush=True)


if __name__ == "__main__":
    main()
