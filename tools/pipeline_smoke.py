#!/usr/bin/env python3
"""Pipeline scale smoke: run the training-data operators (exact dedup,
MinHash LSH, hash split, decontamination, token stats) over a synthetic
corpus far beyond the test fixtures (default 1M documents, ~60 words
each), and assert the plans keep their scale posture:

* decontamination never shuffles the corpus text (broadcast semi/anti);
* exact dedup shuffles digests, not documents;
* the LSH self-join shuffles band hashes only;
* embedding near-dup shuffles (table, bucket, id) triples — never the
  vectors — and no cartesian/nested-loop join appears;
* n-gram Jaccard uses prefix filtering: no within-group all-pairs join.

Documents are generated distributively (spark.range + column
expressions), with a controlled duplicate rate so dedup has real work.

Usage: python tools/pipeline_smoke.py [--docs 1000000] [--cpus 32]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

WORDS = 60
DUP_EVERY = 50  # every 50th doc duplicates the previous one


def build_corpus(spark, n_docs: int):
    """Synthetic corpus: 60 pseudo-random words per doc derived from the
    doc id (deterministic); every DUP_EVERY-th doc repeats its
    predecessor's text so exact dedup has hits."""
    seed = F.when(F.col("id") % DUP_EVERY == 1, F.col("id") - 1).otherwise(F.col("id"))
    # modulus > n_docs keeps seed -> text injective (duplicates only where
    # seeds coincide); per-word offset varies the words within a doc
    words = F.transform(
        F.sequence(F.lit(0), F.lit(WORDS - 1)),
        lambda i: F.concat(F.lit("w"), ((seed * 104729 + i * 7919) % 100000007).cast("string")),
    )
    return (
        spark.range(n_docs)
        .select(F.col("id").alias("doc_id"),
                F.array_join(words, " ").alias("text"))
    )


def build_vectors(spark, n_vecs: int, dim: int = 16):
    """Synthetic embeddings: xxhash64-mixed components (injective in the
    seed — a naive modular pattern collapses to ~1k distinct vectors and
    turns the corpus into a near-dup degenerate case); every DUP_EVERY-th
    vector duplicates its predecessor."""
    seed = F.when(F.col("id") % DUP_EVERY == 1, F.col("id") - 1).otherwise(F.col("id"))
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: (F.xxhash64(seed, i) % 10000).cast("double") / 5000.0,
    )
    return spark.range(n_vecs).select(F.col("id").alias("vec_id"), vec.alias("embedding"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    args = ap.parse_args()

    from feldman_spark.session import get_spark
    from feldman_spark.pipeline.dedup import decontaminate, exact_dedup, minhash_lsh_pairs
    from feldman_spark.pipeline.sampling import hash_split
    from feldman_spark.pipeline.text import bpe_token_count, token_count

    spark = get_spark(app_name="pipeline-smoke", master=f"local[{args.cpus}]",
                      shuffle_partitions=int(args.cpus))
    spark.sparkContext.setLogLevel("ERROR")

    corpus = build_corpus(spark, args.docs).repartition(int(args.cpus)).persist()
    n = corpus.count()

    timings = {}

    t0 = time.time()
    kept = exact_dedup(corpus)
    n_unique = kept.count()
    timings["exact_dedup"] = round(time.time() - t0, 1)
    expected_dups = args.docs // DUP_EVERY
    assert n - n_unique == expected_dups, (n, n_unique, expected_dups)

    t0 = time.time()
    pairs = minhash_lsh_pairs(corpus, threshold=0.9, hash_fn="xxhash64")
    n_pairs = pairs.count()
    timings["minhash_lsh"] = round(time.time() - t0, 1)
    assert n_pairs >= expected_dups  # at least the injected exact dups

    t0 = time.time()
    split_counts = {r["split"]: r["n"] for r in
                    hash_split(corpus, "doc_id").groupBy("split")
                    .agg(F.count(F.lit(1)).alias("n")).collect()}
    timings["hash_split"] = round(time.time() - t0, 1)
    assert sum(split_counts.values()) == n
    assert abs(split_counts["train"] / n - 0.9) < 0.01

    t0 = time.time()
    ev = corpus.filter(F.col("doc_id") % 10_000 == 0)
    clean = decontaminate(corpus.filter(F.col("doc_id") % 10_000 != 0), ev, n=8)
    n_clean = clean.count()
    timings["decontaminate"] = round(time.time() - t0, 1)
    plan = clean._jdf.queryExecution().executedPlan().toString()  # AQE-final
    assert "SortMergeJoin" not in plan, "corpus text must not shuffle"
    # every eval doc's duplicate partner must be caught
    assert n_clean < n - n // 10_000

    t0 = time.time()
    n_vecs = min(args.docs, 200_000)
    vecs = build_vectors(spark, n_vecs).repartition(int(args.cpus)).persist()
    vecs.count()
    from feldman_spark.pipeline.dedup import embedding_cosine_pairs_lsh, ngram_jaccard_pairs
    emb_pairs_df = embedding_cosine_pairs_lsh(
        vecs, threshold=0.999, planes_per_table=20, dim=16)
    n_emb_pairs = emb_pairs_df.count()
    timings["embedding_lsh"] = round(time.time() - t0, 1)
    assert n_emb_pairs >= n_vecs // DUP_EVERY, (n_emb_pairs, n_vecs // DUP_EVERY)
    emb_plan = emb_pairs_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in emb_plan and "BroadcastNestedLoop" not in emb_plan

    t0 = time.time()
    # n=8 grams: prefix filtering needs gram diversity to prune (with a
    # tiny gram vocabulary the similarity graph itself is dense and ANY
    # exact method degenerates — see the ngram_jaccard_pairs docstring)
    n_ngram_docs = min(args.docs, 50_000)
    ngram_docs = corpus.filter(F.col("doc_id") < n_ngram_docs)
    ngram_df = ngram_jaccard_pairs(ngram_docs, group_col=None, n=8, threshold=0.9)
    n_ngram_pairs = ngram_df.count()
    timings["ngram_prefix_jaccard"] = round(time.time() - t0, 1)
    assert n_ngram_pairs >= n_ngram_docs // DUP_EVERY - 1
    ng_plan = ngram_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in ng_plan and "BroadcastNestedLoop" not in ng_plan

    t0 = time.time()
    toks = corpus.agg(
        F.sum(token_count(F.col("text"))).alias("ws"),
        F.sum(bpe_token_count(F.col("text"))).alias("bpe")).collect()[0]
    timings["token_stats"] = round(time.time() - t0, 1)
    assert toks["ws"] == n * WORDS

    # span-level dedup: every injected duplicate doc contributes WORDS/20
    # duplicate spans, so survivors must drop by exactly the dup count
    t0 = time.time()
    from feldman_spark.pipeline.dedup import paragraph_dedup
    para = paragraph_dedup(corpus, chunk_words=20)
    n_para_docs = para.count()
    timings["paragraph_dedup"] = round(time.time() - t0, 1)
    assert n_para_docs == n_unique, (n_para_docs, n_unique)

    # epoch reshuffle + sharded export manifest on a 100k slice: shard
    # balance within 20%, total preserved, all rows accounted for
    t0 = time.time()
    from feldman_spark.pipeline.training import export_jsonl_sharded
    slice_df = corpus.filter(F.col("doc_id") < 100_000)
    man = export_jsonl_sharded(
        slice_df, os.path.join(REPO, ".tmp", "pipeline_smoke_jsonl"), "doc_id",
        num_shards=int(args.cpus), max_records_per_file=20_000)
    man_rows = {r["shard"]: r["n_rows"] for r in man.collect()}
    timings["epoch_shuffle_export"] = round(time.time() - t0, 1)
    assert sum(man_rows.values()) == 100_000
    assert max(man_rows.values()) < 1.2 * (100_000 / int(args.cpus))

    # cross-doc novelty: every injected duplicate's shingles were all
    # first seen in its predecessor -> novelty exactly 0.0; nothing
    # text-sized may shuffle (hashed gram stream) and no cartesian
    t0 = time.time()
    from feldman_spark.pipeline.dedup import shingle_novelty
    nov = shingle_novelty(corpus, k=5)
    n_zero_novel = nov.filter(F.col("novelty_frac") == 0.0).count()
    timings["shingle_novelty"] = round(time.time() - t0, 1)
    n_dups_injected = len(range(1, n, DUP_EVERY))
    assert n_zero_novel == n_dups_injected, (n_zero_novel, n_dups_injected)
    nov_plan = nov._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in nov_plan

    # C4 gating throughput: give every 4th doc one qualifying line
    # (terminal punctuation + >= 5 words); the rest have none
    t0 = time.time()
    from feldman_spark.pipeline.text import c4_stats
    c4_in = corpus.withColumn(
        "text",
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.col("text"), F.lit(".")))
        .otherwise(F.col("text")))
    c4 = c4_stats(c4_in)
    kept_total = c4.agg(F.sum("n_kept_lines")).collect()[0][0]
    timings["c4_stats"] = round(time.time() - t0, 1)
    n_punct = len(range(0, n, 4))
    assert kept_total == n_punct, (kept_total, n_punct)

    # perceptual-hash dedup at corpus scale (the relational half: the
    # decode half is covered by correctness fixtures — here 1M
    # PRECOMPUTED 64-bit hashes where every DUP_EVERY-th id's NEIGHBOR
    # carries a 1-bit perturbation of its hash, planting EXACTLY
    # n/DUP_EVERY near-pairs; all other hashes are independent 64-bit
    # values, so cross-pair collisions within hamming 3 are ~1e-8 whp.
    # One planted pair per cluster keeps the TRUE output linear — a
    # constant-hash group of size g would mean C(g,2) pairs by
    # construction (the j11 quadratic-workload lesson)
    t0 = time.time()
    from feldman_spark.pipeline.multimodal import phash_dedup
    hashes = spark.range(0, n).selectExpr(
        "id AS media_id",
        f"CASE WHEN id % {DUP_EVERY} = 1 THEN xxhash64(id - 1, 7) "
        f"     ELSE xxhash64(id, 7) END"
        f" ^ CAST(id % {DUP_EVERY} = 1 AS BIGINT) AS dhash")
    ph = phash_dedup(hashes, max_hamming=3, bands=4, precomputed=True)
    n_ph_pairs = ph.count()
    timings["phash_dedup_1bit"] = round(time.time() - t0, 1)
    expect_ph = len(range(1, n, DUP_EVERY))   # one (k, k+1) pair each
    assert n_ph_pairs == expect_ph, (n_ph_pairs, expect_ph)
    ph_plan = ph._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in ph_plan

    total = round(sum(timings.values()), 1)
    print(json.dumps({
        "docs": n, "unique": n_unique, "near_dup_pairs": n_pairs,
        "embedding_pairs": n_emb_pairs, "ngram_pairs": n_ngram_pairs,
        "splits": split_counts, "clean_docs": n_clean,
        "para_docs": n_para_docs, "export_shards": len(man_rows),
        "ws_tokens": toks["ws"], "bpe_tokens": toks["bpe"],
        "zero_novelty_docs": n_zero_novel, "c4_kept_lines": kept_total,
        "phash_pairs": n_ph_pairs,
        "timings_sec": timings, "total_sec": total,
        "docs_per_sec_total": round(n * len(timings) / total),
    }))


if __name__ == "__main__":
    main()
