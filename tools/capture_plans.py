#!/usr/bin/env python3
"""Capture `.explain("formatted")` output for the flagship operators into
docs/PLANS.md — the evidence that each plan is the one we want at scale
(broadcast joins, pushed filters, pruned schemas, no stray shuffles).

Regenerate after any operator change: python tools/capture_plans.py
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

COMMENTARY = {
    "e2_splice_export": (
        "E2 over a partitioned parquet measurement table. Wanted: every join "
        "a BroadcastHashJoin (splice-side tables are tiny), zero SortMergeJoin/"
        "Exchange on the measurement side, ReadSchema pruned to referenced "
        "columns."),
    "j11_binned_range_join": (
        "Keyless large×large range join via domain binning: a plain shuffled/"
        "broadcast HASH join on the bin id with the BETWEEN residual after — "
        "wanted: NO BroadcastNestedLoopJoin anywhere, intervals exploded "
        "through a codegen sequence(), points binned row-locally."),
    "dedup_frequent_spans": (
        "Corpus-wide boilerplate strip: wanted partial_count before the span "
        "exchange (hot spans collapse map-side) and the frequent-span filter "
        "as a BroadcastHashJoin LeftAnti — the chunk stream must not "
        "reshuffle for the filter."),
    "sample_dsir": (
        "DSIR scoring: gram model is one partial-aggregating hash aggregate; "
        "wanted: the ratio join on the gram key broadcast (AQE) or shuffled "
        "hash — never nested-loop — and the final per-doc sum id-keyed."),
    "j1_containment_join": (
        "Interval-containment join (lineitem in order windows): equi key into "
        "the hash join, range residual as post-join filter; shuffled hash "
        "join since both sides are large here."),
    "q5_local_supplier_volume": (
        "Multi-join aggregation: small dims broadcast, fact joins planned by "
        "AQE; partial aggregation (map-side combine) before the final "
        "group-by exchange."),
    "dedup_minhash_lsh": (
        "MinHash+LSH: shingling/signatures are row-local project stages (no "
        "exchange until the band self-join); candidate join shuffles only "
        "band hashes; verification joins hash the candidate ids."),
    "filter_pushdown": (
        "Conjunctive + range filter over parquet: PushedFilters carries the "
        "predicates into the scan; ReadSchema shows column pruning."),
    "decontaminate_corpus": (
        "Benchmark decontamination: the eval shingle set distincts (small "
        "exchange) then broadcasts into a LeftSemi over exploded corpus "
        "grams; contaminated ids broadcast back into a LeftAnti. The "
        "corpus table itself is never shuffled."),
    "dedup_embedding_cosine": (
        "LSH-bucketed embedding near-dup: ArrowEvalPython/mapInPandas "
        "computes every table's bucket id in one matmul per batch; the "
        "candidate self-join shuffles (tbl, sig, id) triples only; exact "
        "cosine verification joins vectors back by id. Wanted: no "
        "CartesianProduct anywhere, vectors appear only in scan + verify."),
    "dedup_ngram_jaccard": (
        "Prefix-filtered n-gram Jaccard: document-frequency ordering pass, "
        "rare-gram prefix explode, candidate join keyed on (lang, gram), "
        "exact verification on candidates. Wanted: every join keyed on "
        "gram or id — the quadratic group-only join must not appear."),
    "text_novelty": (
        "Cross-doc shingle novelty: wanted ONE Generate (the codegen "
        "shingle stream) with partial aggregates before every exchange, "
        "all joins keyed on the 8-byte gram hash or doc id — the document "
        "text appears in the scan only, never in an exchange."),
    "text_c4_rules": (
        "C4 gating: wanted the line stats as one explode('\\n') stream "
        "into a partial-aggregating hash aggregate (one counts row per "
        "doc crosses the exchange), doc flags row-local codegen, and the "
        "flag/line-stat join id-keyed — no higher-order functions "
        "(CodegenFallback) anywhere."),
    "events_anomaly": (
        "Trailing-window spike detection: wanted partial_count before the "
        "(type, hour) exchange — events collapse map-side — and the "
        "window sort running over bucket rows (hours), so the Sort's "
        "input is calendar-sized, not corpus-sized."),
    "pq_adc_topk": (
        "PQ asymmetric-distance top-k over a codes frame: wanted NO "
        "Python evaluator (Arrow or row) and NO join — the query's "
        "lookup tables are plan literals and the scan reads m bytes of "
        "codes per vector; the only movement is the global top-k."),
    "phash_dedup": (
        "Perceptual-hash near-dup over a PRECOMPUTED hash store (the "
        "read-back shape): band extraction is row-local bit codegen, "
        "candidates come from a hash equi-join on (band, key) — wanted "
        "NO CartesianProduct/BroadcastNestedLoopJoin and NO Python "
        "evaluator; hamming verification is one bit_count(xor) filter."),
    "dedup_near_overlap": (
        "Cross-corpus near overlap: wanted each side's minhash minima "
        "partial-aggregated before its exchange (text never crosses), "
        "the A<->B candidate join keyed on (band, bh), and the Jaccard "
        "verification joins keyed on gram or candidate ids only."),
    "dedup_containment": (
        "Asymmetric shingle containment: wanted both gram streams as "
        "codegen Generate stages distincted behind partial aggregates, "
        "the inverted-index join a HASH join on the gram (broadcast "
        "here, shuffled-hash at scale — never nested-loop), and the "
        "per-pair co-count partial-aggregated before its exchange."),
    "w10_interval_merge": (
        "Gaps-and-islands interval merge: wanted exactly ONE Exchange "
        "(the group key) feeding one Sort shared by both Window ops "
        "(running max(end) + island counter), then a partial-aggregating "
        "hash aggregate on (group, island) — no second shuffle, no "
        "re-sort between the windows."),
    "a13_grouped_mode": (
        "Exact grouped mode: wanted ONE fact-table scan into a "
        "map-side-combined (group, value) hash aggregate, then the "
        "argmax as row_number over pair counts WITH WindowGroupLimit "
        "pushdown (per-partition top-1 before the pair shuffle) — the "
        "join-back formulation re-scans the fact table and must not "
        "appear."),
    "text_top_ngrams": (
        "Exact corpus top-ngrams: wanted the gram stream as one codegen "
        "Generate, the doc-frequency distinct two-phase behind partial "
        "aggregates, and the final ranking a TakeOrderedAndProject "
        "(per-partition heaps), never a global Sort."),
    "knn_join": (
        "Batch k-NN join: wanted ONE ArrowEvalPython/mapInPandas over "
        "the corpus (the candidate pass — queries live in the UDF "
        "closure, no join to reach them), candidate re-score joins "
        "keyed on id with the query side broadcast, and the final "
        "rank a window over candidate rows — the corpus text/vectors "
        "must appear in the scan and the slim candidate re-score join "
        "only, never in a cross join."),
    "j15_radius_join": (
        "Grid-binned radius join: wanted the 3x3 neighbor explode as "
        "a codegen Generate on the left, a plain HASH equi-join on "
        "(cell_x, cell_y) — no CartesianProduct/BroadcastNestedLoop "
        "anywhere — and the distance residual as a post-join Filter "
        "on candidates."),
    "w11_resample_interpolate": (
        "Grid resample + linear interpolation: wanted the sample "
        "collapse and grid explode as codegen stages, then ONE "
        "Exchange on the group key feeding ONE Sort with a single "
        "Window node evaluating BOTH bracket frames (last-before and "
        "first-after share the sort) — no as-of join, no range join, "
        "no second exchange after the union."),
    "text_winnow": (
        "Winnowing fingerprints: wanted the k-gram stream as a "
        "codegen Generate inside the scan stage (sequence + substring "
        "+ md5 — the document text never shuffles), one Exchange on "
        "doc_id into one Sort, the window-min as a single frame MIN "
        "over the packed int64 key, and the fingerprint distinct as a "
        "partial HashAggregate BEFORE its exchange (the ~2/(w+1)-"
        "thinned rows are what moves, not grams)."),
}


def main() -> None:
    from pyspark.sql import functions as F

    from feldman_spark.session import get_spark
    import __spark_entry__ as entry

    spark = get_spark(app_name="capture-plans", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.001"

    plans = {}

    # E2 on a parquet measurement table
    from feldman_spark.engine import (
        export_measurement_frames, load_affine, load_measurement, load_sit)
    from feldman_spark.io.parquet import write_measurement_parquet

    depth = "Sediment Depth, unscaled (MBS / CSF-A)"
    golden = os.path.join(REPO, ".tmp", "golden")
    if os.path.exists(f"{golden}/our_affine.csv"):
        md = load_measurement(
            spark, "/root/reference/testdata/GLAD9_Site1_XRF.csv", depth)
        p = os.path.join(REPO, ".tmp", "plans_md.parquet")
        write_measurement_parquet(md, p)
        res = export_measurement_frames(
            spark.read.parquet(p),
            load_affine(spark, f"{golden}/our_affine.csv"),
            load_sit(spark, f"{golden}/our_sit.csv"), depth)
        plans["e2_splice_export"] = res.spliced.select("Site", "Hole", "Splice Depth", "On-Splice")

    qs = entry.queries()
    plans["j1_containment_join"] = qs["j1_containment_join"](spark, sf)
    plans["q5_local_supplier_volume"] = qs["q5_local_supplier_volume"](spark, sf)
    plans["dedup_minhash_lsh"] = qs["dedup_minhash_lsh"](spark, sf)
    plans["decontaminate_corpus"] = qs["decontaminate_corpus"](spark, sf)
    plans["dedup_embedding_cosine"] = qs["dedup_embedding_cosine"](spark, sf)
    plans["dedup_ngram_jaccard"] = qs["dedup_ngram_jaccard"](spark, sf)
    plans["dedup_paragraphs"] = qs["dedup_paragraphs"](spark, sf)
    plans["dedup_semantic"] = qs["dedup_semantic"](spark, sf)
    plans["text_gopher_quality"] = qs["text_gopher_quality"](spark, sf)
    plans["w7_time_gapfill"] = qs["w7_time_gapfill"](spark, sf)
    plans["j11_binned_range_join"] = qs["j11_binned_range_join"](spark, sf)
    plans["dedup_frequent_spans"] = qs["dedup_frequent_spans"](spark, sf)
    plans["sample_dsir"] = qs["sample_dsir"](spark, sf)
    plans["text_novelty"] = qs["text_novelty"](spark, sf)
    plans["text_c4_rules"] = qs["text_c4_rules"](spark, sf)
    plans["events_anomaly"] = qs["events_anomaly"](spark, sf)

    from feldman_spark.pipeline.similarity import pq_encode, pq_topk, pq_train
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    _q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    _books = pq_train(emb, m=8, k=16, iters=2, sample=200)
    # the search-time plan runs over the MATERIALIZED codes index (the
    # one-time encode pass is a separate job), so capture scan -> ADC
    _idx = os.path.join(REPO, ".tmp", "plans_pq_codes.parquet")
    pq_encode(emb, _books).write.mode("overwrite").parquet(_idx)
    plans["pq_adc_topk"] = pq_topk(
        spark.read.parquet(_idx), _books, _q, k=10)

    from feldman_spark.pipeline.multimodal import phash_dedup
    hashes = spark.range(0, 5000).selectExpr(
        "id AS media_id", "xxhash64(id) AS dhash")
    plans["phash_dedup"] = phash_dedup(hashes, max_hamming=3, bands=4,
                                       precomputed=True)

    plans["dedup_near_overlap"] = qs["dedup_near_overlap"](spark, sf)
    plans["dedup_containment"] = qs["dedup_containment"](spark, sf)
    plans["w10_interval_merge"] = qs["w10_interval_merge"](spark, sf)
    plans["a13_grouped_mode"] = qs["a13_grouped_mode"](spark, sf)
    plans["text_top_ngrams"] = qs["text_top_ngrams"](spark, sf)
    plans["knn_join"] = qs["knn_join"](spark, sf)
    plans["j15_radius_join"] = qs["j15_radius_join"](spark, sf)
    plans["w11_resample_interpolate"] = qs["w11_resample_interpolate"](
        spark, sf)
    plans["text_winnow"] = qs["text_winnow"](spark, sf)

    from feldman_spark.ops.filters import conjunctive_filter, range_filter
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    plans["filter_pushdown"] = range_filter(
        conjunctive_filter(li, l_returnflag="A"), "l_quantity", 10.0, 20.0
    ).select("l_orderkey", "l_quantity")

    out = ["# Captured physical plans", "",
           "Generated by `tools/capture_plans.py` — the `.explain(\"formatted\")`",
           "output for the flagship operators, with what to look for in each.",
           ""]
    for name, df in plans.items():
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"## {name}")
        out.append("")
        out.append(COMMENTARY.get(name, ""))
        out.append("")
        out.append("```")
        text = buf.getvalue()
        # keep the plan tree + the first scan details, trim codegen noise
        out.append(text[:6000].rstrip())
        out.append("```")
        out.append("")

    with open(os.path.join(REPO, "docs", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote docs/PLANS.md", file=sys.stderr)


if __name__ == "__main__":
    main()
