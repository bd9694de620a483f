#!/usr/bin/env python3
"""Benchmark harness: runs the headline queries from __spark_entry__ at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the summed wall-clock of all headline queries (execution time
to a fully-materialized result, JVM/session startup excluded). Each query
is measured by ``tools/measure.py::run``: one untimed warm-up, then the
median of $SPARK_GRAFT_BENCH_REPS (default 3) timed runs to the ``noop``
sink. The median absorbs one-off GC/CPU-contention spikes; the floors and
the regression gate key on it. ``first_sec`` keeps each warm-up's time
(persist-heavy dedup queries run cold at 2.5-6x steady state) and
``min_sec`` the fastest timed run, unmoved by a burst that spares a rep.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tools import measure  # noqa: E402

HEADLINE = [
    # the reference-parity operator surface, heaviest shapes first
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "q10_returned_items",
    "j1_containment_join",
    "j4_broadcast_equi",
    "j7_nearest_join",
    "j9_asof_join",
    "a5_conditional_sum_hof",
    "w2_lag_diff",
    "w3_expanding_slope",
    "w1_splice_scan",
    "feldman_e2_export",
    "q17_avg_subquery",
    "q18_large_volume",
    "q19_disjunctive",
    # beyond-reference pipeline operators (present from the round they land)
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_quality",
    "knn_brute_force",
    "knn_ivf",
    "events_sessionize",
    "events_sessionize_native",
    "dedup_embedding_cosine",
    "q21_waiting_supplier",
    "sample_split",
    "decontaminate_corpus",
    "pipeline_dedup_stats",
    "dedup_ngram_jaccard",
    # round-5 continuation flagships
    "dedup_paragraphs",
    "dedup_semantic",
    "text_gopher_quality",
    # round-6 additions: corpus-wide boilerplate strip, keyless range
    # join, DSIR data selection
    "dedup_frequent_spans",
    "j11_binned_range_join",
    "sample_dsir",
    "decontaminate_semantic",
    "text_strip_html",
    "w8_rolling_time",
    "pack_chunks",
    # round-7 additions: sequence-level contamination audit, CCNet
    # perplexity buckets, retrieve-then-rerank
    "dedup_contamination_13g",
    "text_ppl_buckets",
    "text_bm25_rerank",
    # round-8 additions: the output-bounded range-join twin (j11's
    # ladder counterpart whose expected pairs-per-interval is constant
    # in SF), BPE train+encode, domain-blocklist filter
    "j11_range_join_bounded",
    "text_bpe_encode",
    "web_blocklist_filter",
    # round-8b additions: cross-doc novelty (the shingle-stream shape at
    # its widest), C4 line gating, hourly spike detection
    "text_novelty",
    "text_c4_rules",
    "events_anomaly",
    # round-9 additions: PQ ADC scan (train+encode+score — the m-bytes-
    # per-vector ANN path), mojibake repair chain, script profiling
    # (both row-local codegen over the full documents table)
    "pq_topk",
    "text_mojibake",
    "text_script_profile",
    "dedup_near_overlap",
    # round-10b additions: asymmetric shingle containment (the
    # inverted-index join shape), gaps-and-islands interval merge,
    # exact grouped mode, readability scoring (row-local codegen),
    # exact corpus top-ngrams (TakeOrderedAndProject over gram counts)
    "dedup_containment",
    "w10_interval_merge",
    "a13_grouped_mode",
    "text_readability",
    "text_top_ngrams",
    # round-10b additions (second batch): batch k-NN join (Arrow matmul
    # candidate pass + JVM-fold re-score), grid-binned exact radius
    # join, Poisson-bootstrap CI (the b-fold explode that collapses
    # in-stage)
    "knn_join",
    "j15_radius_join",
    "profile_bootstrap_ci",
    # round-10c additions: grid resample + linear interpolation (one
    # window sort, two frames), CUSUM changepoint (shared-exchange
    # windows + argmax), exact weighted median, MAD robust outliers
    # (two exact-percentile broadcast passes)
    "w11_resample_interpolate",
    "events_changepoint",
    "a14_weighted_median",
    "f10_mad_outliers",
    # round-10c second batch: LOCF fill (two frames, one sort), char
    # entropy (vectorized codepoint pass), grouped OLS trend
    # (decomposable regr_* moments, one scan)
    "w12_locf_fill",
    "text_char_entropy",
    "profile_trend",
    # round-10c third batch: pair-table mutual information, session
    # path mining (per-session array_sort + TakeOrdered), hashing-trick
    # featurization (codegen token stream, docs x buckets exchange)
    "profile_mutual_info",
    "events_top_paths",
    "text_hashing_features",
    # round-10c fourth batch: winnowing fingerprints (packed-key frame
    # MIN over the in-scan gram stream), PMI/NPMI co-occurrence
    "text_winnow",
    "web_cooccurrence_pmi",
    # round-10c fifth batch: leakage-safe grouped split, two-phase
    # dense-id vocabulary assignment (parallel zipWithIndex)
    "sample_group_split",
    "a15_dense_ids",
    # round-10c sixth batch: haversine grid join (band-worst-case lon
    # bins), pinned-fixture unicode key normalization
    "j16_geo_radius_join",
    "text_normalize_keys",
    # round-10c seventh batch: percent_rank calibration, k-anonymity
    # audit, winnow-pair localization (df-capped inverted-index join)
    "f11_quantile_rank",
    "profile_k_anonymity",
    "dedup_winnow_pairs",
    # round-10c eighth batch: Benford first-digit audit, grouped Gini
    "profile_benford",
    "profile_gini",
    # round-10c ninth batch: TWAP, equi-depth histogram, null patterns
    "w13_time_weighted_avg",
    "profile_equidepth",
    "profile_null_patterns",
    # round-10c tenth batch: Spearman drift, daily-seasonality strength
    "profile_spearman",
    "events_seasonality",
]

# slack for the regression gate: sub-second queries jitter by whole
# fractions of themselves run-to-run; a second of fixed overhead absorbs
# that without hiding real plan regressions on the heavy queries
def _limit(floor: float, host_ratio: float = 1.0) -> float:
    return max(1.5 * floor, floor + 1.0) * host_ratio


def _calibrate(spark) -> float:
    """Fixed pure-CPU codegen workload (no I/O, no shuffle): its wall
    clock measures THIS session's host speed, so floor comparisons can
    be normalized across driver sessions — measured 1.6-1.7× whole-bench
    spread between rounds on identical code+data, purely host. min of 2
    runs; recorded in the output JSON either way."""
    best = None
    for _ in range(2):
        t0 = time.time()
        # bit_xor, not sum: a sum of 64-bit hashes overflows long under
        # ANSI mode; 1.6B rows ≈ 0.7 s on an unloaded 32-thread host —
        # long enough that scheduler jitter doesn't dominate the probe
        spark.range(0, 1_600_000_000, 1, 32).selectExpr(
            "bit_xor(xxhash64(id))").collect()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3)


def _filtered_reexec() -> None:
    """Run the bench in a child process whose stderr is scrubbed of two
    classes of benign noise that otherwise land in recorded artifacts
    looking like failures: pyspark daemon ``BrokenPipeError`` tracebacks
    (worker teardown racing the JVM socket close — harmless, rc stays 0)
    and ``[Stage ...]`` console progress frames. Everything else —
    including real errors — passes through unmodified.

    Child stdout (the one-line JSON contract) is BUFFERED here and
    emitted only after the child's stderr reaches EOF: when the driver
    captures stdout+stderr merged, a relayed stderr line (e.g. an
    uncleared-retry "RETRY CONFIRMED") must never land after the JSON —
    the r9 driver capture became unparseable exactly that way
    (``BENCH_r09.json`` ``parsed: null``), silencing a full round of
    automated round-over-round comparison. The child writes only the
    final JSON line (a few KB) to stdout, far below the 64 KB pipe
    buffer, so reading stderr first cannot deadlock."""
    env = dict(os.environ, BENCH_WRAPPED="1")
    import re
    import subprocess

    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__)] + sys.argv[1:],
        env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, errors="replace")
    buf: list[str] = []   # pending traceback block
    in_tb = False
    stage_re = re.compile(r"^[\[\r ]*\[?Stage \d+:")
    for line in proc.stderr:
        line = line.rstrip("\n")
        # progress frames arrive as \r-separated segments on one line
        segs = [s for s in line.split("\r") if s.strip()]
        if segs and all(stage_re.match(s) for s in segs):
            continue
        if line.startswith("Traceback (most recent call last):"):
            in_tb, buf = True, [line]
            continue
        if in_tb:
            buf.append(line)
            if line[:1] not in (" ", "\t") and line.strip():
                # block complete: drop iff it's a daemon teardown race
                # (broken pipe / peer reset — both harmless, rc stays 0)
                block = "\n".join(buf)
                if not (("BrokenPipeError" in block
                         or "ConnectionResetError" in block)
                        and "pyspark/daemon.py" in block):
                    print(block, file=sys.stderr)
                in_tb, buf = False, []
        else:
            print(line, file=sys.stderr)
    if buf:
        print("\n".join(buf), file=sys.stderr)
    # stderr hit EOF (child is exiting): now — and only now — forward the
    # child's stdout so the JSON is the LAST line of any merged capture
    out = proc.stdout.read()
    rc = proc.wait()
    sys.stderr.flush()
    if out:
        print(out, end="" if out.endswith("\n") else "\n", flush=True)
    sys.exit(rc)


def _autosize_driver_memory(sf_dir: str) -> None:
    """Scale the local-mode JVM heap with the input size.

    In ``local[N]`` everything — scans, 32 concurrent shuffle tasks, the
    block manager — shares the DRIVER heap, so the 8g default that is
    right for the sf0.1 gate becomes a GC trap at sf20 (3.2 GB parquet
    ≈ 15-25 GB live during wide shuffles; measured: the first sf20 run
    under 8g lost shuffle files and ran ~2x slow on pure GC). Heuristic:
    ~12 GB heap per on-disk GB (decompression + shuffle double-buffering
    across 32 threads), floored at the 8g gate default so sf0.1 floors
    stay comparable, capped at half of physical RAM. An explicit
    SPARK_DRIVER_MEMORY always wins. On a real cluster this knob is
    per-executor memory and comes from cluster_conf() sizing instead.
    """
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return
    try:
        disk = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(sf_dir) for f in files
        )
        with open("/proc/meminfo") as f:
            ram_kb = int(next(l for l in f if l.startswith("MemTotal"))
                         .split()[1])
        heap = min(max(8, 4 + int(12 * disk / 2**30)), ram_kb // 1024 // 2048)
        os.environ["SPARK_DRIVER_MEMORY"] = f"{heap}g"
    except (OSError, StopIteration, ValueError):
        pass  # keep the session.py default


def main() -> None:
    if os.environ.get("BENCH_WRAPPED") != "1":
        _filtered_reexec()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    _autosize_driver_memory(sf_dir)

    import __spark_entry__ as entry

    spark = measure.session("feldman-spark-bench", sf_dir, cpus)

    # the IVF index is built once and amortized across queries in
    # production — build it outside the timed region, report separately
    t0 = time.time()
    ivf_index = entry.knn_ivf_index(spark, sf_dir)
    setup = {"knn_ivf_build": round(time.time() - t0, 3)}

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    qs = entry.queries()

    def query(name):
        fn = qs[name]
        kw = {"index": ivf_index} if name == "knn_ivf" else {}
        return lambda: fn(spark, sf_dir, **kw)

    timings, firsts, mins = {}, {}, {}
    for name in HEADLINE:
        if name not in qs:
            continue
        r = measure.run(query(name), reps)
        timings[name] = round(r["median"], 3)
        firsts[name] = round(r["first"], 3)
        mins[name] = round(r["min"], 3)
        df = r["df"]
        if df.isEmpty():
            print(f"warning: {name} returned 0 rows", file=sys.stderr)

        if name == "feldman_e2_export":
            # plan-posture pin for the E2 flagship (export.py:102-150):
            # the measurement table must never sort-merge shuffle — its
            # joins broadcast the dimension side; the ONE allowed
            # exchange is the final (flag, Site) summary aggregate
            import re

            plan = df._jdf.queryExecution().executedPlan().toString()
            smj = plan.count("SortMergeJoin")
            shuf = len(re.findall(r"Exchange (hash|range|round|single)",
                                  plan))
            if smj > 0 or shuf > 1:
                print(f"PLAN REGRESSION: feldman_e2_export has "
                      f"{smj} SortMergeJoin / {shuf} shuffle exchanges "
                      f"(expected 0 / <=1)", file=sys.stderr)
                if os.environ.get("BENCH_ENFORCE") == "1":
                    sys.exit(1)

    total = round(sum(timings.values()), 3)

    sf_name = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    # regression gate against the committed per-query floor — the floors
    # are sf0.1 numbers, so only meaningful at that scale (scale-proof
    # runs at other SFs are compared in docs/SCALING.md instead).
    # Limits scale by host_ratio = this session's calibration time over
    # the floor-setting session's (clamped [1, 3]): floors stay the
    # best-known numbers, but a uniformly slower driver host doesn't
    # read as 40 phantom plan regressions.
    calibration = _calibrate(spark)
    regressions = {}
    retried = {}
    host_ratio = 1.0
    floor_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "bench_floor.json")
    if os.path.exists(floor_path) and sf_name == "0.1":
        with open(floor_path) as f:
            floor_doc = json.load(f)
        floors = floor_doc.get("queries", {})
        # Host normalization, two signals combined: (a) the CPU probe vs
        # the floor-setting session's reference; (b) the run's MEDIAN
        # ratio-to-floor — on this hypervisor, slowdowns are bursty
        # steal-time (measured: identical code 29 s vs 43 s minutes
        # apart with probe ratio ~1.0), and a burst moves every query's
        # ratio while a genuine single-query plan regression cannot move
        # the median of 40. Floors stay best-known; the gate flags what
        # is slow RELATIVE TO THIS RUN'S OWN BASELINE.
        calib_ref = floor_doc.get("calibration_ref")
        probe_ratio = 1.0
        if calib_ref:
            probe_ratio = min(3.0, max(1.0, calibration / float(calib_ref)))
        host_ratio = probe_ratio
        ratios = [t / floors[n] for n, t in timings.items()
                  if floors.get(n)]
        if ratios:
            med = statistics.median(ratios)
            if med > host_ratio:
                # The probe is the PRIMARY host signal; the timing median
                # exists because steal bursts hit mid-bench while the probe
                # runs at the end. But a genuine many-query code/config
                # regression moves the median the same way a burst does and
                # would silently loosen every limit — so when the median
                # (not the probe) raises host_ratio meaningfully, say so
                # loudly and leave the evidence in the artifact.
                if med > max(1.2, probe_ratio):
                    print(f"WARNING: timing-median sets host_ratio "
                          f"{min(3.0, med):.2f} (CPU probe says "
                          f"{probe_ratio:.2f}) — either a mid-bench host "
                          f"burst or a MANY-QUERY regression; the gate "
                          f"cannot tell them apart, inspect per-query "
                          f"deltas", file=sys.stderr)
                host_ratio = min(3.0, med)
        for name, t in timings.items():
            fl = floors.get(name)
            if fl is not None and t > _limit(fl, host_ratio):
                regressions[name] = {"floor": fl, "now": t}
                print(f"REGRESSION: {name} {t}s > limit "
                      f"{_limit(fl, host_ratio):.2f}s (floor {fl}s, "
                      f"host_ratio {host_ratio:.2f})", file=sys.stderr)
        # Self-defending retry: a flag on this hypervisor is usually a
        # bursty steal-time artifact (identical code measured 2-6x apart
        # minutes apart). Re-measure each flagged query in-session with
        # the main pass's ``measure.run`` and record both numbers — a
        # genuine plan regression reproduces on retry; a burst doesn't.
        # Not a single cold rerun: queries that persist intermediates
        # (ngram Jaccard) reuse the warm-up's cache in their timed reps,
        # so a cold rerun pays ~2x the floor by construction (measured:
        # 3.8-4.2 s cold vs 2.3-2.6 s; the r9 uncleared flag).
        for name in list(regressions):
            t2 = round(measure.run(query(name), reps)["median"], 3)
            fl = floors[name]
            cleared = t2 <= _limit(fl, host_ratio)
            retried[name] = {"first": regressions[name]["now"],
                             "retry": t2, "cleared": cleared}
            if cleared:
                print(f"RETRY CLEARED: {name} retried at {t2}s <= limit "
                      f"{_limit(fl, host_ratio):.2f}s — first run was a "
                      f"host burst, not a regression", file=sys.stderr)
                del regressions[name]
            else:
                print(f"RETRY CONFIRMED: {name} retried at {t2}s, still "
                      f"over limit {_limit(fl, host_ratio):.2f}s",
                      file=sys.stderr)
    try:
        sf_val = float(sf_name)
    except ValueError:
        sf_val = sf_name
    out = {
        "metric": "headline_queries_total_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "first_sec": firsts,
        "min_sec": mins,
        "setup": setup,
        "calibration_sec": calibration,
        "host_ratio": round(host_ratio, 3),
    }
    if regressions:
        out["regressions"] = regressions
    if retried:
        out["retry"] = retried
    print(json.dumps(out))
    if regressions and os.environ.get("BENCH_ENFORCE") == "1":
        sys.exit(1)


if __name__ == "__main__":
    main()
