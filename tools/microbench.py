#!/usr/bin/env python3
"""Ad-hoc per-query microbench: bench.py's protocol (one untimed warm-up,
median of the timed reps to the noop sink, cache cleared after each
query) for a comma-separated list of registered queries, so a bench flag
can be reproduced in isolation. Usage:

    python tools/microbench.py q1_pricing_summary,dedup_minhash_lsh [reps]
"""

from __future__ import annotations

import functools
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import measure  # noqa: E402


def main() -> None:
    names = sys.argv[1].split(",")
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    import __spark_entry__ as entry

    spark = measure.session("feldman-spark-microbench", sf_dir, cpus)
    qs = entry.queries()
    for name in names:
        r = measure.run(functools.partial(qs[name], spark, sf_dir), reps)
        print(f"{name}: median {r['median']:.3f}s  samples "
              f"{[round(s, 3) for s in r['samples']]}")


if __name__ == "__main__":
    main()
