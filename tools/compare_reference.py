#!/usr/bin/env python3
"""Head-to-head E2 throughput: the reference implementation vs this engine
on the same measurement CSV at a configurable row count.

The reference is O(intervals × rows) pandas mask scans plus an
O(affine_cores × rows) off-splice loop (``feldman.py:318-366``), loaded
through pandas' python-engine CSV parser; ours is one distributed pass of
broadcast joins. Both timings include reading the input CSV and writing
the export CSV — end-to-end, same files.

Usage: python tools/compare_reference.py [--rows 500000]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

REF = "/root/reference"
OUT = os.path.join(REPO, ".tmp", "headtohead")

_REF_SCRIPT = """
import sys, logging, time
sys.path.insert(0, {ref!r})
logging.basicConfig(level=logging.CRITICAL)
import feldman
t0 = time.time()
feldman.exportMeasurementData({aff!r}, {sit!r}, {md!r}, {out!r}, depthColumn='depth')
print(time.time() - t0)
"""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=500_000)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    args = ap.parse_args()

    import numpy as np
    import pandas as pd

    os.makedirs(OUT, exist_ok=True)

    # --- shared inputs ----------------------------------------------------
    # affine + SIT from a 40-core, 3-hole synthetic splice (our E1 output)
    from pyspark.sql import functions as F

    from feldman_spark.session import get_spark
    from feldman_spark.engine import convert_sparse_splice_frames, export_measurement_data
    from feldman_spark.formats.registry import AFFINE_FORMAT, SIT_FORMAT
    from feldman_spark.io.csv import write_csv
    from tools.scale_smoke import build_section_summary, build_sparse_splice

    spark = get_spark(app_name="head-to-head", master=f"local[{args.cpus}]",
                      shuffle_partitions=int(args.cpus))
    spark.sparkContext.setLogLevel("ERROR")

    SITES, HOLES, CORES, SECTIONS = 1, 3, 40, 3
    secsumm = build_section_summary(spark, SITES, HOLES, CORES, SECTIONS) \
        .coalesce(1).withColumn("_idx", F.monotonically_increasing_id()).cache()
    sparse = build_sparse_splice(spark, SITES, HOLES, CORES)
    affine, sit = convert_sparse_splice_frames(secsumm, sparse)
    aff_csv = os.path.join(OUT, "affine.csv")
    sit_csv = os.path.join(OUT, "sit.csv")
    write_csv(affine, aff_csv, fmt=AFFINE_FORMAT)
    write_csv(sit, sit_csv, fmt=SIT_FORMAT)

    # measurement CSV (generated with numpy, written once, read by both)
    md_csv = os.path.join(OUT, f"md_{args.rows}.csv")
    if not os.path.exists(md_csv):
        rng = np.arange(args.rows, dtype=np.int64)
        max_depth = CORES * SECTIONS * 1.5
        depth = (rng * 37 % int(max_depth * 100)) / 100.0
        pd.DataFrame({
            "Site": "1",
            "Hole": np.array(["A", "B", "C"])[rng % HOLES],
            "Core": (depth // (SECTIONS * 1.5) + 1).astype(int).astype(str),
            "Tool": "H",
            "Section": ((depth % (SECTIONS * 1.5) // 1.5) + 1).astype(int).astype(str),
            "depth": depth,
            "m1": np.round((rng % 1000) / 10.0, 1),
            "m2": np.round((rng % 7777) / 7.0, 3),
        }).to_csv(md_csv, index=False)

    # --- reference --------------------------------------------------------
    ref_out = os.path.join(OUT, "ref_export.csv")
    proc = subprocess.run(
        [sys.executable, "-c", _REF_SCRIPT.format(
            ref=REF, aff=aff_csv, sit=sit_csv, md=md_csv, out=ref_out)],
        cwd=OUT, capture_output=True, text=True, check=True)
    ref_sec = float(proc.stdout.strip().splitlines()[-1])

    # --- ours -------------------------------------------------------------
    our_out = os.path.join(OUT, "our_export.csv")
    t0 = time.time()
    export_measurement_data(spark, aff_csv, sit_csv, md_csv, our_out,
                            depth_column="depth")
    our_sec = time.time() - t0

    # sanity: same classification totals
    ref_counts = pd.read_csv(ref_out, usecols=["On-Splice"])["On-Splice"] \
        .value_counts().to_dict()
    our_counts = pd.read_csv(our_out, usecols=["On-Splice"])["On-Splice"] \
        .value_counts().to_dict()
    assert ref_counts == our_counts, (ref_counts, our_counts)

    print(json.dumps({
        "rows": args.rows,
        "reference_sec": round(ref_sec, 1),
        "ours_sec": round(our_sec, 1),
        "speedup": round(ref_sec / our_sec, 2),
        "counts": our_counts,
    }))


if __name__ == "__main__":
    main()
