#!/usr/bin/env python3
"""A/B a runtime-settable SQL conf over registered queries: alternating
base/variant reps to the noop sink in ONE session, medians of each arm —
the same-session methodology the r10 round log uses everywhere (host
ratios drift too much between sessions to trust cross-session deltas).

Usage:
    SPARK_GRAFT_SF_DIR=.tmp/sf20 python tools/ab_conf.py \
        q3_shipping_priority,a5_conditional_sum_hof \
        spark.sql.adaptive.coalescePartitions.initialPartitionNum 256 [reps]

The base arm UNSETS the conf (session default); the variant arm sets it
to the given value. Both arms must return the same row set. Prints
per-query medians, the full sample lists and the shared checksum.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import measure  # noqa: E402


def main() -> None:
    names = sys.argv[1].split(",")
    key, value = sys.argv[2], sys.argv[3]
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    import __spark_entry__ as entry

    spark = measure.session("feldman-spark-ab-conf", sf_dir, cpus)
    qs = entry.queries()

    def arm(fn, conf_value):
        def call():
            if conf_value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, conf_value)
            return fn(spark, sf_dir)
        return call

    for name in names:
        fn = qs[name]
        r = measure.ab({"base": arm(fn, None), "variant": arm(fn, value)},
                       reps)
        spark.conf.unset(key)
        base, var = r["base"], r["variant"]
        b, v = base["median"], var["median"]
        print(f"{name}: base median {b:.3f}s  variant median {v:.3f}s  "
              f"({v / b:.2f}x)  base={[round(s, 2) for s in base['samples']]} "
              f"variant={[round(s, 2) for s in var['samples']]} "
              f"checksum={base['checksum']}",
              flush=True)


if __name__ == "__main__":
    main()
