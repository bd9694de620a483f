#!/usr/bin/env python3
"""Scale smoke: synthesize a Feldman-shaped workload far beyond the
reference's fixtures (configurable, default 10M measurement rows), run the
full E1 (sparse splice → affine+SIT) and E2 (splice export) pipelines, and
report throughput.

This is the "would it survive a 100× scale-up" check: the measurement side
is generated distributively (spark.range), written as (Site, Hole)-
partitioned parquet, and must flow through E2 as broadcast joins with no
driver materialization.

Usage: python tools/scale_smoke.py [--rows 10000000] [--cpus 32]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402


def build_section_summary(spark, sites, holes, cores, sections):
    rows = []
    for s in range(1, sites + 1):
        for h in range(holes):
            hole = chr(ord("A") + h)
            top = 0.0
            for c in range(1, cores + 1):
                for sec in range(1, sections + 1):
                    bot = top + 1.5
                    rows.append((str(s), hole, str(c), "H", str(sec),
                                 top, bot, top * 1.01, bot * 1.01, 1.5, ""))
                    top = bot
    return spark.createDataFrame(rows, (
        "Site string, Hole string, Core string, Tool string, Section string, "
        "TopDepth double, BottomDepth double, TopDepthScaled double, "
        "BottomDepthScaled double, CuratedLength double, Gaps string"))


def build_sparse_splice(spark, sites, holes, cores):
    """Alternate holes down each site: TIE at each core boundary."""
    rows, idx = [], 0
    for s in range(1, sites + 1):
        for c in range(1, cores + 1):
            hole = chr(ord("A") + (c % holes))
            rows.append((str(s), hole, str(c), "H", "1", 10.0, "3", 140.0,
                         "TIE", None, "", "", idx))
            idx += 1
    return spark.createDataFrame(rows, (
        "Site string, Hole string, Core string, Tool string, TopSection string, "
        "TopOffset double, BottomSection string, BottomOffset double, "
        "SpliceType string, Gap double, DataUsed string, Comment string, _idx long"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=10_000_000)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--workdir", default=os.path.join(REPO, ".tmp", "scale"))
    args = ap.parse_args()

    from feldman_spark.session import get_spark
    from feldman_spark.engine import convert_sparse_splice_frames, export_measurement_frames
    from feldman_spark.io.parquet import write_measurement_parquet

    spark = get_spark(app_name="scale-smoke", master=f"local[{args.cpus}]",
                      shuffle_partitions=int(args.cpus))
    spark.sparkContext.setLogLevel("ERROR")

    SITES, HOLES, CORES, SECTIONS = 5, 3, 40, 3
    secsumm = build_section_summary(spark, SITES, HOLES, CORES, SECTIONS) \
        .coalesce(1).withColumn("_idx", F.monotonically_increasing_id()).cache()
    sparse = build_sparse_splice(spark, SITES, HOLES, CORES)
    print(f"section summary: {secsumm.count()} rows; "
          f"splice: {sparse.count()} intervals", file=sys.stderr)

    # --- E1 ---------------------------------------------------------------
    t0 = time.time()
    affine, sit = convert_sparse_splice_frames(secsumm, sparse)
    n_aff, n_sit = affine.count(), sit.count()
    e1_s = time.time() - t0
    print(f"E1: {n_aff} affine rows, {n_sit} SIT rows in {e1_s:.1f}s", file=sys.stderr)

    # --- synthesize measurement rows distributively -----------------------
    md_path = os.path.join(args.workdir, "md.parquet")
    t0 = time.time()
    max_depth = CORES * SECTIONS * 1.5
    md = (
        spark.range(args.rows)
        .withColumn("Site", (F.col("id") % SITES + 1).cast("string"))
        .withColumn("Hole", F.expr(f"char(65 + int(id / {SITES}) % {HOLES})"))
        .withColumn("depth", (F.col("id") * 37 % int(max_depth * 100)) / 100.0)
        .withColumn("Core", (F.floor(F.col("depth") / (SECTIONS * 1.5)) + 1).cast("string"))
        .withColumn("Section", (F.floor(F.col("depth") % (SECTIONS * 1.5) / 1.5) + 1).cast("string"))
        .withColumn("Tool", F.lit("H"))
        .withColumn("m1", F.round(F.rand(42) * 100, 3))
        .withColumn("m2", F.round(F.rand(7) * 1000, 3))
        .drop("id")
    )
    write_measurement_parquet(md, md_path)
    gen_s = time.time() - t0
    print(f"generated+wrote {args.rows:,} measurement rows in {gen_s:.1f}s", file=sys.stderr)

    # --- E2 over the partitioned parquet ----------------------------------
    md2 = spark.read.parquet(md_path)
    sit_idx = sit.coalesce(1).withColumn("_idx", F.monotonically_increasing_id())
    t0 = time.time()
    res = export_measurement_frames(md2, affine, sit_idx, "depth")
    n_on = res.spliced.filter(F.col("On-Splice") == "splice").count()
    n_all = res.spliced.count()
    n_unwritten = res.unwritten.count()
    e2_s = time.time() - t0
    rate = n_all / e2_s if e2_s else 0
    print(f"E2: {n_all:,} exported ({n_on:,} on-splice), "
          f"{n_unwritten:,} unwritten in {e2_s:.1f}s "
          f"({rate:,.0f} rows/s)", file=sys.stderr)

    plan = res.spliced._jdf.queryExecution().executedPlan().toString()
    smj = plan.count("SortMergeJoin")
    bhj = plan.count("BroadcastHashJoin")
    print(f"plan: BroadcastHashJoin={bhj} SortMergeJoin={smj}", file=sys.stderr)
    assert smj == 0, "measurement side must not sort-merge shuffle"

    import json
    print(json.dumps({
        "rows": args.rows, "e1_sec": round(e1_s, 1), "e2_sec": round(e2_s, 1),
        "export_rows": n_all, "rows_per_sec": round(rate),
        "broadcast_joins": bhj, "sort_merge_joins": smj,
    }))


if __name__ == "__main__":
    main()
