"""Beyond-reference pipeline operators: dedup, similarity, text,
multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from feldman_spark.pipeline.dedup import (
    embedding_cosine_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_fingerprint,
    word_shingles,
)
from feldman_spark.pipeline.multimodal import (
    decode_image,
    extract_features,
    frame_sample,
    media_table,
)
from feldman_spark.pipeline.similarity import (
    cosine_topk,
    ivf_topk,
    lsh_partitioned_topk,
)
from feldman_spark.pipeline.text import (
    bpe_token_count,
    fingerprint,
    lang_id,
    quality_score,
    token_count,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


def test_exact_dedup_removes_injected_dups(spark, docs):
    dups = docs.filter(F.col("doc_id") < 10).withColumn("doc_id", F.col("doc_id") + 10_000)
    combined = docs.unionByName(dups)
    kept = exact_dedup(combined)
    assert kept.count() == docs.count()
    # survivors are the smallest ids
    assert kept.filter(F.col("doc_id") >= 10_000).count() == 0


def test_minhash_lsh_finds_exact_dups(spark, docs):
    dups = docs.filter(F.col("doc_id") < 10).withColumn("doc_id", F.col("doc_id") + 10_000)
    pairs = minhash_lsh_pairs(docs.unionByName(dups), threshold=0.5)
    found = {(r["doc1"], r["doc2"]) for r in pairs.collect()}
    expect = {(i, i + 10_000) for i in range(10)}
    assert expect <= found
    # injected exact duplicates have jaccard 1.0 (natural near-dups may
    # also pair with an injected copy at lower jaccard — exclude those)
    ones = pairs.filter(F.col("doc2") - F.col("doc1") == 10_000).select("jaccard").collect()
    assert len(ones) >= 10 and all(r["jaccard"] == 1.0 for r in ones)
    # the xxhash64 production family finds the same injected duplicates
    # (verification is hash-independent; only candidate recall can vary)
    fast = {(r["doc1"], r["doc2"]) for r in
            minhash_lsh_pairs(docs.unionByName(dups), threshold=0.5,
                              hash_fn="xxhash64").collect()}
    assert expect <= fast


def test_word_shingles_short_text(spark):
    df = spark.createDataFrame([("a b",), ("a b c d",)], "text string")
    rows = df.select(word_shingles(F.col("text"), 3).alias("s")).collect()
    assert rows[0]["s"] == []
    assert rows[1]["s"] == ["a b c", "b c d"]


def test_simhash_similar_docs_close(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat"),
         (3, "completely different words entirely unrelated content here")],
        "doc_id long, text string")
    fp = {r["doc_id"]: r["simhash"] for r in simhash_fingerprint(df).collect()}
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))
    assert ham(fp[1], fp[2]) < ham(fp[1], fp[3])


def test_ngram_jaccard_identical_is_one(spark):
    df = spark.createDataFrame(
        [(1, "x", "abcdefgh"), (2, "x", "abcdefgh"), (3, "x", "zzzzyyyy")],
        "doc_id long, lang string, text string")
    pairs = {(r["doc1"], r["doc2"]): r["jaccard"]
             for r in ngram_jaccard_pairs(df, threshold=0.0).collect()}
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 3)] < 0.2


def test_ngram_budget_guard_falls_back_to_banding(spark, caplog):
    """Adversarial low-diversity corpus (digit-heavy, n=2: ≤100 possible
    grams, every gram common): the projected-candidate guard must trip,
    route candidate generation through MinHash banding instead of the
    degenerate prefix join, log the choice, and still find the planted
    exact duplicates (J=1.0 survives any banding) via the unchanged
    exact verification."""
    import logging
    import random

    from feldman_spark.pipeline.dedup import ngram_jaccard_pairs

    rng = random.Random(7)
    rows = [(i, "".join(rng.choice("0123456789") for _ in range(60)))
            for i in range(2000)]
    rows += [(10000 + i, rows[i][1]) for i in range(5)]  # planted dups
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    with caplog.at_level(logging.INFO,
                         logger="feldman_spark.pipeline.dedup"):
        out = ngram_jaccard_pairs(docs, group_col=None, n=2, threshold=0.5)
        pairs = {(r["doc1"], r["doc2"]): r["jaccard"] for r in out.collect()}
    assert any("fallback" in rec.message for rec in caplog.records)
    for i in range(5):
        assert pairs[(i, 10000 + i)] == 1.0
    # banding never invents a pair: every emitted pair is exact-verified
    assert all(j >= 0.5 for j in pairs.values())


def test_ngram_guard_untriggered_equals_unguarded(spark):
    """On a diverse corpus the guard must be a no-op: identical pairs
    with the budget on (untriggered) and off."""
    from feldman_spark.pipeline.dedup import ngram_jaccard_pairs

    docs = (spark.read.parquet(f"{SF}/documents.parquet")
            .filter(F.col("lang") == "de"))
    a = {(r["doc1"], r["doc2"], r["jaccard"])
         for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    b = {(r["doc1"], r["doc2"], r["jaccard"])
         for r in ngram_jaccard_pairs(
             docs, threshold=0.5, candidate_budget_per_doc=None).collect()}
    assert a == b and len(a) > 0


def test_ngram_prefix_filter_matches_all_pairs(spark):
    """The default prefix-filter path returns exactly the all-pairs
    result (prefix filtering has recall 1.0 by construction), and its
    candidate join is keyed on the gram — no within-group all-pairs
    join appears in the plan."""
    docs = (spark.read.parquet(f"{SF}/documents.parquet")
            .filter(F.col("lang") == "de"))
    ap = {(r["doc1"], r["doc2"], r["jaccard"])
          for r in ngram_jaccard_pairs(docs, threshold=0.5, all_pairs=True).collect()}
    pf_df = ngram_jaccard_pairs(docs, threshold=0.5)
    pf = {(r["doc1"], r["doc2"], r["jaccard"]) for r in pf_df.collect()}
    assert ap == pf and len(ap) > 0
    # the only equi-join whose key set is just the blocking group would be
    # the quadratic one; every join here includes the gram or an id
    plan = pf_df._jdf.queryExecution().optimizedPlan().toString()
    import re
    for cond in re.findall(r"Join Inner, \((.*?)\)\n", plan):
        assert "g#" in cond or "doc" in cond, f"group-only join: {cond}"


@pytest.mark.parametrize("seed,threshold", [(1, 0.3), (2, 0.5), (3, 0.72)])
def test_ngram_asym_prefix_recall_randomized(spark, seed, threshold):
    """Adversarial recall check for the asymmetric probe/index prefix
    split: small alphabet (heavy gram sharing), many equal-length docs
    (exercises the (size, id) tie orientation), mutated near-copies at
    every similarity level, and thresholds where ceil(t·sz) /
    ceil(2t/(1+t)·sz) land on and around integer boundaries. The prefix
    path must equal the all-pairs oracle exactly."""
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(150):
        base = "".join(rng.choice("abcd") for _ in range(rng.choice([24, 30, 36])))
        rows.append((i, base))
        if i % 3 == 0:  # mutated copy: similarity spread around t
            s = list(base)
            for _ in range(rng.randrange(0, 12)):
                s[rng.randrange(len(s))] = rng.choice("abcd")
            rows.append((1000 + i, "".join(s)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(group_col=None, n=3, threshold=threshold,
              candidate_budget_per_doc=None)
    ap = {(r["doc1"], r["doc2"], r["jaccard"])
          for r in ngram_jaccard_pairs(docs, all_pairs=True, **kw).collect()}
    pf = {(r["doc1"], r["doc2"], r["jaccard"])
          for r in ngram_jaccard_pairs(docs, **kw).collect()}
    assert pf == ap and len(ap) > 0


def test_ngram_shuffle_hash_verify_path_parity(spark):
    """verify_broadcast_bytes=0 forces the shuffle-hash verification
    join (the >bound regime of corpora whose gram table cannot
    broadcast); the pair set must be identical to the broadcast path."""
    docs = (spark.read.parquet(f"{SF}/documents.parquet")
            .filter(F.col("lang") == "de"))
    bc = {(r["doc1"], r["doc2"], r["jaccard"])
          for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    shj = {(r["doc1"], r["doc2"], r["jaccard"])
           for r in ngram_jaccard_pairs(
               docs, threshold=0.5, verify_broadcast_bytes=0).collect()}
    assert bc == shj and len(bc) > 0


def test_embedding_cosine_pairs_self_dup(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").filter(F.col("vec_id") < 20)
    dup = emb.withColumn("vec_id", F.col("vec_id") + 10_000)
    pairs = embedding_cosine_pairs(emb.unionByName(dup), threshold=0.999)
    found = {(r["id1"], r["id2"]) for r in pairs.collect()}
    assert all((i, i + 10_000) in found for i in range(20))


def test_embedding_lsh_matches_all_pairs(spark):
    """The registered LSH-bucketed path reproduces the all-pairs oracle
    exactly on the test corpus at threshold 0.9 (exact duplicates are
    never missed; miss probability for borderline pairs is ~2e-2 at the
    defaults and the corpus has none)."""
    from feldman_spark.pipeline.dedup import embedding_cosine_pairs_lsh

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    dup = emb.filter(F.col("vec_id") < 20).withColumn(
        "vec_id", F.col("vec_id") + 10_000)
    u = emb.unionByName(dup)
    ap = {(r["id1"], r["id2"], r["cosine"])
          for r in embedding_cosine_pairs(u, threshold=0.9).collect()}
    ls = {(r["id1"], r["id2"], r["cosine"])
          for r in embedding_cosine_pairs_lsh(u, threshold=0.9).collect()}
    assert ap == ls
    assert len(ap) >= 20  # the injected duplicates are all found


def test_embedding_lsh_explicit_params(spark):
    """Both auto-sizing probes caller-provided: the single-action probe
    fold must not leave the corpus count unbound (the r10 pipeline
    smoke caught exactly this — dim+planes passed, UnboundLocalError on
    the broadcast gate)."""
    from feldman_spark.pipeline.dedup import embedding_cosine_pairs_lsh

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    dup = emb.filter(F.col("vec_id") < 10).withColumn(
        "vec_id", F.col("vec_id") + 10_000)
    u = emb.unionByName(dup)
    dim = len(emb.first()["embedding"])
    ls = {(r["id1"], r["id2"])
          for r in embedding_cosine_pairs_lsh(
              u, threshold=0.999, dim=dim, planes_per_table=8).collect()}
    assert all((i, i + 10_000) in ls for i in range(10))


def test_cosine_topk_and_lsh_recall(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    exact = cosine_topk(emb, q, k=5).collect()
    # vec 0 itself is the top hit with cosine 1.0
    assert exact[0]["vec_id"] == 0 and abs(exact[0]["cosine"] - 1.0) < 1e-6
    approx = lsh_partitioned_topk(emb, q, k=5)
    ids = {r["vec_id"] for r in approx.collect()}
    assert 0 in ids  # the query vector's own bucket is always probed


def test_ivf_topk(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    corpus = emb.filter(F.col("vec_id") != 0)
    bf = [r["vec_id"] for r in cosine_topk(corpus, q, k=10).collect()]
    # nprobe == num_centroids scans every bucket -> exactly brute force,
    # independent of how k-means assigned the vectors
    full = [r["vec_id"] for r in
            ivf_topk(corpus, q, k=10, num_centroids=8, nprobe=8).collect()]
    assert full == bf
    # pruned probing is deterministic across runs and recall grows
    # monotonically with nprobe (probed buckets are a prefix of the
    # centroid ranking, so the candidate set only grows). The synthetic
    # embeddings are near-uniform in 64-d, so absolute recall at small
    # nprobe is data-limited — assert the structural guarantees plus a
    # modest floor at half probing.
    a1 = [r["vec_id"] for r in
          ivf_topk(corpus, q, k=10, num_centroids=8, nprobe=2).collect()]
    a2 = [r["vec_id"] for r in
          ivf_topk(corpus, q, k=10, num_centroids=8, nprobe=2).collect()]
    assert a1 == a2
    from feldman_spark.pipeline.similarity import ivf_build

    idx = ivf_build(corpus, num_centroids=8, iters=2)
    recalls = [
        len({r["vec_id"] for r in
             ivf_topk(corpus, q, k=10, num_centroids=8, nprobe=p,
                      index=idx).collect()}
            & set(bf))
        for p in (1, 2, 4, 8)
    ]
    assert recalls == sorted(recalls)
    assert recalls[2] >= 3  # recall@10 >= 0.3 scanning half the buckets
    assert recalls[3] == 10


def test_text_ops(spark):
    df = spark.createDataFrame(
        [(1, "The cat and the dog sat in a field of green grass"),
         (2, "x"),
         (3, "")],
        "doc_id long, text string")
    out = df.select(
        "doc_id",
        token_count(F.col("text")).alias("n"),
        quality_score(F.col("text")).alias("q"),
        lang_id(F.col("text")).alias("lang"),
        fingerprint(F.col("text")).alias("fp"),
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["n"] == 12 and by_id[2]["n"] == 1 and by_id[3]["n"] == 0
    # BPE-ish pre-tokenizer: letter runs, digit runs, symbol runs each
    # (with optional leading space) count as one piece
    bpe = spark.createDataFrame(
        [(1, "don't stop"), (2, "abc123 x-y!"), (3, ""), (4, "  ")],
        "doc_id long, text string",
    ).select("doc_id", bpe_token_count(F.col("text")).alias("n")).collect()
    bpe_by_id = {r["doc_id"]: r["n"] for r in bpe}
    # "don't stop" -> don / ' / t / _stop ; "abc123 x-y!" -> abc/123/_x/-/y/!
    assert bpe_by_id[1] == 4 and bpe_by_id[2] == 6
    assert bpe_by_id[3] == 0 and bpe_by_id[4] == 0
    assert by_id[1]["q"] > by_id[2]["q"]
    assert by_id[1]["lang"] == "en"
    # fingerprint insensitive to case/punct/whitespace
    df2 = spark.createDataFrame(
        [(1, "  the CAT, and the dog sat in a field of green grass!")],
        "doc_id long, text string")
    fp2 = df2.select(fingerprint(F.col("text")).alias("fp")).first()["fp"]
    assert fp2 == by_id[1]["fp"]


def test_embedding_quantization(spark):
    from feldman_spark.pipeline.similarity import (
        dequantize_embeddings, quantize_embeddings)

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    deq = dequantize_embeddings(quantize_embeddings(emb).drop("embedding"))
    # int8 storage preserves the cosine top-10 on this corpus
    exact = [r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()]
    approx = [r["vec_id"] for r in cosine_topk(deq, q, k=10).collect()]
    assert set(exact) == set(approx)
    # per-element round-trip error bounded by scale/2 = max|x|/254
    row = deq.join(
        emb.select("vec_id", F.col("embedding").alias("orig")), "vec_id"
    ).select(
        F.max(F.aggregate(
            F.zip_with("embedding",
                       F.transform("orig", lambda x: x.cast("double")),
                       lambda a, b: F.abs(a - b)),
            F.lit(0.0), lambda acc, x: F.greatest(acc, x))).alias("err"),
        F.max(F.aggregate(
            F.transform("orig", lambda x: F.abs(x.cast("double"))),
            F.lit(0.0), lambda acc, x: F.greatest(acc, x))).alias("mx"),
    ).first()
    assert row["err"] <= row["mx"] / 254 + 1e-9
    # zero vector: scale falls back to 1.0, quantizes to zeros
    z = spark.createDataFrame([(1, [0.0, 0.0])], "vec_id long, embedding array<double>")
    zq = quantize_embeddings(z).first()
    assert list(zq["q"]) == [0, 0] and zq["q_scale"] == 1.0


def test_ivf_smaller_than_centroids(spark):
    # corpus smaller than num_centroids: seeds truncate, probing all
    # (actual) buckets still returns the exact brute-force answer
    from feldman_spark.pipeline.similarity import ivf_topk

    tiny = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0]) for i in range(5)],
        "vec_id long, embedding array<double>")
    out = ivf_topk(tiny, [1.0, 1.0, 0.0], k=3, num_centroids=8, nprobe=8,
                   iters=1).collect()
    assert [r["vec_id"] for r in out] == [1, 2, 3]
    assert abs(out[0]["cosine"] - 1.0) < 1e-6


def test_ivf_zero_vector_seed(spark):
    # an all-zero vector that becomes a seed must not NaN-poison the
    # centroid matrix (zero-norm guard in ivf_build's seed normalization)
    from feldman_spark.pipeline.similarity import ivf_topk

    tiny = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0])] + [(i, [float(i), 1.0, 0.0]) for i in range(1, 5)],
        "vec_id long, embedding array<double>")
    out = ivf_topk(tiny, [1.0, 1.0, 0.0], k=3, num_centroids=8, nprobe=8,
                   iters=1).collect()
    assert [r["vec_id"] for r in out] == [1, 2, 3]
    assert all(r["cosine"] == r["cosine"] for r in out)  # no NaNs


def test_ivf_autosize_exact_under_cap(spark):
    """num_centroids=None: under the KMV over-collect cap the sizing is
    EXACT (the seed pass saw every row), so C == max(8, ceil(N/target))
    with no separate count() action, and seeds equal the explicit-C
    build's seeds (centroids bit-identical)."""
    from feldman_spark.pipeline.similarity import ivf_build

    n = 1000
    df = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("double"), F.lit(1.0), F.lit(0.0))
        .alias("embedding"),
    )
    _a_auto, cents_auto = ivf_build(df, num_centroids=None,
                                    target_cluster_rows=100, iters=1)
    assert len(cents_auto) == 10  # ceil(1000/100), exact
    _a_fix, cents_fix = ivf_build(df, num_centroids=10, iters=1)
    assert cents_auto == cents_fix


def test_hash_split_custom_weights(spark):
    from feldman_spark.pipeline.sampling import hash_split

    docs = spark.range(2000).withColumnRenamed("id", "k")
    counts = {r["split"]: r["n"] for r in
              hash_split(docs, "k", weights=(("a", 1.0), ("b", 3.0)),
                         seed="w").groupBy("split")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts["a"] + counts["b"] == 2000  # normalized, exhaustive
    assert abs(counts["a"] / 2000 - 0.25) < 0.05


def test_profile_table(spark):
    from feldman_spark.pipeline.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a", 10.5), (2, "b", None), (3, None, 2.0), (4, "a", 7.25)],
        "id long, s string, v double")
    prof = {r["column"]: r for r in profile_table(df, exact=True).collect()}
    assert prof["id"]["n_rows"] == 4 and prof["id"]["n_nulls"] == 0
    assert prof["id"]["n_distinct"] == 4
    assert prof["s"]["n_nulls"] == 1 and prof["s"]["n_distinct"] == 2
    assert prof["v"]["min_value"] == "2.0" and prof["v"]["max_value"] == "10.5"
    # approx mode: same shape, HLL cardinality within its error bound
    approx = {r["column"]: r for r in profile_table(df).collect()}
    assert set(approx) == {"id", "s", "v"}
    assert abs(approx["id"]["n_distinct"] - 4) <= 1


def test_decontaminate(spark):
    from feldman_spark.pipeline.dedup import decontaminate

    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "clean text with no overlap whatsoever in any window here"),
         # contains the eval 5-gram "quick brown fox jumps over"
         (2, "he saw a quick brown fox jumps over stuff yesterday evening"),
         (3, "too short"),
         (4, "the quick brown dog sleeps under a warm blanket today ok")],
        "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in decontaminate(corpus, eval_df, n=5).collect())
    assert kept == [1, 3, 4]  # only the 5-gram-sharing doc is dropped


def test_hash_sampling(spark):
    from feldman_spark.pipeline.sampling import hash_sample, hash_split, weighted_mix

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n = docs.count()
    split = hash_split(docs, "doc_id")
    counts = {r["split"]: r["n"] for r in
              split.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    # exhaustive + disjoint (every row in exactly one split)
    assert sum(counts.values()) == n
    # fractions close to the 90/5/5 weights
    assert abs(counts["train"] / n - 0.9) < 0.05
    assert abs(counts.get("val", 0) / n - 0.05) < 0.04
    assert abs(counts.get("test", 0) / n - 0.05) < 0.04
    # stability: same assignment on re-evaluation and after repartitioning
    again = {r["doc_id"]: r["split"]
             for r in hash_split(docs.repartition(7), "doc_id")
             .select("doc_id", "split").collect()}
    first = {r["doc_id"]: r["split"] for r in split.select("doc_id", "split").collect()}
    assert first == again
    # sample: subset property — a 5% sample is contained in the 20% sample
    s5 = {r["doc_id"] for r in hash_sample(docs, "doc_id", 0.05).collect()}
    s20 = {r["doc_id"] for r in hash_sample(docs, "doc_id", 0.20).collect()}
    assert s5 <= s20
    assert abs(len(s20) / n - 0.20) < 0.06
    # mix: tagged union at per-source rates
    mix = weighted_mix(
        {"a": (docs, 0.10), "b": (docs, 0.50)}, "doc_id")
    by_src = {r["source"]: r["n"] for r in
              mix.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert abs(by_src["a"] / n - 0.10) < 0.05
    assert abs(by_src["b"] / n - 0.50) < 0.07


def test_hash_sample_boundary_fractions(spark):
    """fraction=1.0 keeps every row (the threshold sentinel sorts after
    every hex digest — regression for the 16^8 truncation bug), 0.0
    keeps none, and a 1.0-weighted mix passes its source through whole."""
    from feldman_spark.pipeline.sampling import hash_sample, hash_split, weighted_mix

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n = docs.count()
    assert hash_sample(docs, "doc_id", 1.0).count() == n
    assert hash_sample(docs, "doc_id", 0.0).count() == 0
    mix = weighted_mix({"all": (docs, 1.0)}, "doc_id")
    assert mix.count() == n
    # a non-final cumulative weight reaching 1.0: everything lands in "a"
    split = hash_split(docs, "doc_id", weights=(("a", 1.0), ("b", 0.0)))
    counts = {r["split"]: r["n"] for r in
              split.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"a": n}


def test_multimodal_plumbing(spark):
    rows = [
        (1, "image", "image/png", 4, 4, None, b"\x01\x02\x03\x04"),
        (2, "video", "video/mp4", 64, 64, 3500, b"\xff\xee\xdd"),
        (3, "audio", "audio/wav", None, None, 2000, b"\x00" * 16),
    ]
    media = media_table(spark, rows)
    # decode stub raises without fake=True
    with pytest.raises(Exception, match="NotImplementedError|image library"):
        decode_image(media).collect()
    decoded = decode_image(media, fake=True).collect()
    px = {r["media_id"]: r["pixels"] for r in decoded}
    assert px[1] == b"\x01\x02\x03\x04" and px[2] is None
    feats = extract_features(media).collect()
    f = {r["media_id"]: r for r in feats}
    assert f[1]["n_bytes"] == 4 and len(f[1]["features"]) == 8
    assert all(0.0 <= x <= 1.0 for x in f[1]["features"])
    frames = frame_sample(media, every_ms=1000, fake=True).collect()
    assert [r["frame_ms"] for r in frames] == [0, 1000, 2000, 3000]
    assert len({bytes(r["frame"]) for r in frames}) == 4  # distinct per ts
    from feldman_spark.pipeline.multimodal import resize_image

    # real resize passes undecodable payloads through UNCHANGED (one odd
    # file must not fail a stage); real-decode resizing is covered in
    # test_codecs.py::test_resize_image_real_path_through_spark
    passthrough = {r["media_id"]: r for r in resize_image(media, 2, 2).collect()}
    assert bytes(passthrough[1]["data"]) == b"\x01\x02\x03\x04"
    assert passthrough[1]["width"] == 4      # metadata untouched
    resized = {r["media_id"]: r for r in resize_image(media, 2, 2, fake=True).collect()}
    assert resized[1]["width"] == 2 and resized[1]["height"] == 2
    assert bytes(resized[1]["data"]) != b"\x01\x02\x03\x04"  # payload replaced
    assert resized[2]["width"] == 64  # non-image untouched
    assert bytes(resized[2]["data"]) == b"\xff\xee\xdd"
    # distinct targets -> distinct deterministic payloads
    r44 = {r["media_id"]: r for r in resize_image(media, 4, 4, fake=True).collect()}
    assert bytes(r44[1]["data"]) != bytes(resized[1]["data"])


def test_media_features_golden_values(spark):
    """Value-golden for the media_features contract query: exact pinned
    feature vectors for sentinel rows (catches any drift in the digest
    pipeline — batch shape, byte handling, rounding), plus a full-table
    check against an independent per-row recomputation."""
    import hashlib
    import json

    import __spark_entry__ as entry

    out = {r["media_id"]: r
           for r in entry.media_features(spark, "/root/testdata/sf0.001").collect()}
    assert len(out) == 20

    pinned = {
        0: ("video", [0.698039, 0.827451, 0.960784, 0.419608,
                      0.756863, 0.592157, 0.992157, 0.596078]),
        1: ("image", [0.254902, 0.890196, 0.529412, 0.345098,
                      0.105882, 0.937255, 0.007843, 0.098039]),
        19: ("image", [0.745098, 0.180392, 0.180392, 0.184314,
                       0.443137, 0.2, 0.317647, 0.886275]),
    }
    for mid, (kind, feats) in pinned.items():
        assert out[mid]["kind"] == kind
        assert out[mid]["n_bytes"] == 64
        assert json.loads(out[mid]["features_json"]) == feats

    for i in range(20):
        data = bytes([(i * 7 + j) % 256 for j in range(64)])
        h = hashlib.md5(data).digest()
        want = [round(h[j] / 255.0, 6) for j in range(8)]
        assert json.loads(out[i]["features_json"]) == want, f"media_id {i}"


def test_connected_components_shapes(spark):
    """Chain, star, two components, and determinism under repartitioning."""
    from feldman_spark.pipeline.graph import connected_components

    pairs = spark.createDataFrame(
        # chain 1-2-3-4; star 10-{11,12,13}; isolated pair 20-21
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13), (20, 21)],
        "doc1 long, doc2 long")
    got = {r["doc_id"]: r["cluster_id"]
           for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10, 13: 10, 20: 20, 21: 20}
    again = {r["doc_id"]: r["cluster_id"]
             for r in connected_components(pairs.repartition(7)).collect()}
    assert got == again


def test_dedup_survivors(spark):
    """One survivor (min id) per cluster; untouched docs pass through;
    composed end-to-end with the exact-dup pair generator."""
    from feldman_spark.pipeline.dedup import minhash_lsh_pairs
    from feldman_spark.pipeline.graph import dedup_survivors

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "the quick brown fox jumps over the lazy dog today"),   # dup of 1
         (7, "the quick brown fox jumps over the lazy dog today"),   # dup of 1
         (3, "an entirely different document about spark pipelines here"),
         (4, "yet another unique text with nothing shared at all ok")],
        "doc_id long, text string")
    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    kept = sorted(r["doc_id"] for r in dedup_survivors(docs, pairs).collect())
    assert kept == [1, 3, 4]


def test_minhash_dedup_incremental(spark):
    """Fuzzy incremental dedup: within-batch near-dups keep the min id;
    anything colliding with the historical band store drops; a second
    run of the surviving batch against the updated store is empty
    (idempotent re-crawl)."""
    from feldman_spark.pipeline.dedup import (
        minhash_band_rows, minhash_dedup_incremental)

    hist = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "an entirely different historical document about rivers")],
        "doc_id long, text string")
    store = minhash_band_rows(hist)
    batch = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog today"),  # store hit
         (11, "a brand new document with completely fresh words here"),
         (12, "a brand new document with completely fresh words here"),  # intra dup of 11
         (13, "unrelated third text nothing shared with anything else")],
        "doc_id long, text string")
    kept, bands = minhash_dedup_incremental(batch, store,
                                            broadcast_seen=True)
    assert sorted(r["doc_id"] for r in kept.collect()) == [11, 13]
    # idempotency: re-running the kept docs against store+bands drops all
    store2 = store.unionByName(bands)
    again, _ = minhash_dedup_incremental(kept, store2, broadcast_seen=True)
    assert again.count() == 0
    # bootstrap run (no store): only within-batch dedup applies
    boot, _ = minhash_dedup_incremental(batch, None)
    assert sorted(r["doc_id"] for r in boot.collect()) == [10, 11, 13]


def test_dedup_survivors_best_quality(spark):
    """Best-quality member survives per cluster (min-id tiebreak on
    quality ties); untouched docs pass through; an all-NULL-quality
    cluster survives whole (no winner can be named)."""
    from feldman_spark.pipeline.graph import dedup_survivors_best

    docs = spark.createDataFrame(
        [(1, 10.0), (2, 30.0), (7, 30.0),   # cluster {1,2,7}: q-max tie 2/7
         (3, 5.0),                          # untouched
         (8, None), (9, None)],             # cluster {8,9}: all-null quality
        "doc_id long, q double")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 7), (8, 9)], "doc1 long, doc2 long")
    kept = sorted(r["doc_id"] for r in
                  dedup_survivors_best(docs, pairs, "q").collect())
    assert kept == [2, 3, 8, 9]


def test_temperature_mix_upweights_small_sources(spark):
    """alpha<1 keeps small sources whole-ish while big sources shrink;
    alpha=1 is proportional (every fraction 1.0 when target=total);
    membership is deterministic across calls."""
    from feldman_spark.pipeline.sampling import temperature_mix

    d = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 900, "big").otherwise("small").alias("source"))
    out = temperature_mix(d, alpha=0.5)
    counts = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    # weights ∝ sqrt(n): small's fraction caps at 1.0 (kept whole),
    # big shrinks toward total·w_big/n_big ≈ 0.83
    assert counts["small"] == 100
    assert 700 < counts["big"] < 900
    again = {r["doc_id"] for r in out.collect()}
    assert again == {r["doc_id"] for r in temperature_mix(d, alpha=0.5).collect()}
    # alpha=1: proportional -> every source keeps fraction 1.0
    assert temperature_mix(d, alpha=1.0).count() == 1000


def test_decontaminate_semantic_drops_near_copies(spark):
    """A slightly perturbed copy of an eval vector (cosine ~0.999) is
    dropped; orthogonal and merely-similar-below-threshold vectors
    survive; empty eval set is a no-op."""
    from feldman_spark.pipeline.dedup import decontaminate_semantic

    ev = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>")
    corpus = spark.createDataFrame(
        [
            (1, [10.0, 0.1, 0.0, 0.0]),   # near-copy (scaled+perturbed): drop
            (2, [0.0, 1.0, 0.0, 0.0]),    # orthogonal: keep
            (3, [1.0, 1.0, 0.0, 0.0]),    # cos ~0.707 < 0.95: keep
        ],
        "vec_id long, embedding array<double>",
    )
    out = decontaminate_semantic(corpus, ev, threshold=0.95)
    assert sorted(r["vec_id"] for r in out.collect()) == [2, 3]
    empty = ev.filter(F.col("vec_id") < 0)
    assert decontaminate_semantic(corpus, empty).count() == 3


def test_dsir_weights_prefers_target_like_docs(spark):
    """Raw docs built from the target's vocabulary outscore raw docs
    built from raw-only vocabulary (same length, so smoothing constants
    cancel in the comparison); sub-n-word docs are omitted."""
    from feldman_spark.pipeline.sampling import dsir_weights

    tgt_text = "alpha beta gamma delta " * 10
    raw_text = "noise junk spam filler " * 10
    rows = (
        [(i, tgt_text.strip(), True) for i in range(10)]
        + [(100, tgt_text.strip(), False)]        # target-like raw doc
        + [(101 + j, raw_text.strip(), False) for j in range(10)]
        + [(200, "x", False)]                     # < n words: no features
    )
    d = spark.createDataFrame(rows, "doc_id long, text string, is_tgt boolean")
    w = {r["doc_id"]: r["weight"]
         for r in dsir_weights(d, "is_tgt", n=2).collect()}
    assert 200 not in w and set(w) == {100, *range(101, 111)}
    assert w[100] > max(w[j] for j in range(101, 111))


def test_dsir_weights_bucketed_broadcasts_model(spark):
    """buckets=K: the model table is fixed-size, the ratio join is a
    broadcast (no shuffle exchange feeding the join on the stream side
    beyond the id aggregate), weights stay finite and deterministic."""
    from feldman_spark.pipeline.sampling import dsir_weights

    d = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w"), (F.col("id") % 7).cast("string"),
                 F.lit(" common words here and there tail "),
                 F.col("id").cast("string")).alias("text"),
        (F.col("id") % 4 == 0).alias("is_tgt"),
    )
    out = dsir_weights(d, "is_tgt", n=2, buckets=4096)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    rows = out.collect()
    assert len(rows) == 150  # every raw doc scored
    assert rows == dsir_weights(d, "is_tgt", n=2, buckets=4096).collect()


def test_connected_components_max_iter(spark):
    from feldman_spark.pipeline.graph import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "doc1 long, doc2 long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=1)


def test_repetition_features_and_gopher_rules(spark):
    from feldman_spark.pipeline.text import gopher_rules, repetition_features

    good = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(40))  # 120 unique tokens
    spammy = "buy now " * 60                                   # one repeated 2-gram
    linespam = "the same line here\n" * 10 + "unique closer line"
    df = spark.createDataFrame(
        [(1, good), (2, spammy.strip()), (3, linespam), (4, "tiny doc")],
        "doc_id long, text string")
    r = repetition_features(F.col("text"))
    rows = {row["doc_id"]: row for row in df.select(
        "doc_id", r["dup_line_frac"].alias("l"), r["dup_ngram_frac"].alias("g"),
        r["top_token_frac"].alias("t"),
        gopher_rules(F.col("text")).alias("keep")).collect()}
    assert rows[1]["keep"] is True
    assert rows[1]["g"] < 0.1 and rows[1]["t"] < 0.1
    # "buy now buy now ...": every 3-gram repeats, modal token = half
    assert rows[2]["g"] > 0.9 and rows[2]["t"] >= 0.5 and rows[2]["keep"] is False
    # 11 lines, 2 distinct -> dup_line_frac = 1 - 2/11
    assert abs(rows[3]["l"] - (1 - 2 / 11)) < 1e-3 and rows[3]["keep"] is False
    assert rows[4]["keep"] is False  # below the token floor


def test_pack_sequences_spans(spark):
    from feldman_spark.pipeline.training import pack_sequences

    docs = spark.createDataFrame(
        [(1, 1000), (2, 1048), (3, 10), (4, 0), (5, 5000)],
        "doc_id long, nt long")
    rows = {r["doc_id"]: r for r in
            pack_sequences(docs, "nt", capacity=2048).collect()}
    # doc2 ends exactly at 2048: belongs to example 0 only
    assert (rows[2]["first_example"], rows[2]["last_example"]) == (0, 0)
    assert (rows[3]["first_example"], rows[3]["last_example"]) == (1, 1)
    assert rows[4]["n_examples"] == 0  # zero-token doc occupies nothing
    # doc5: tokens [2058, 7058) -> examples 1..3
    assert (rows[5]["first_example"], rows[5]["last_example"]) == (1, 3)
    assert rows[5]["n_examples"] == 3

    # sharded packing: independent cumsums per shard
    sharded = spark.createDataFrame(
        [(1, "a", 3000), (2, "a", 100), (1, "b", 10)],
        "doc_id long, shard string, nt long")
    srows = {(r["shard"], r["doc_id"]): r for r in
             pack_sequences(sharded, "nt", capacity=2048,
                            shard_col="shard").collect()}
    assert srows[("a", 2)]["first_example"] == 1   # after doc1's 3000
    assert srows[("b", 1)]["first_example"] == 0   # shard b starts fresh


def test_tfidf_top_terms(spark):
    from feldman_spark.pipeline.training import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "apple apple banana shared"), (2, "cherry shared shared"),
         (3, "banana cherry shared")],
        "doc_id long, text string")
    rows = tfidf_top_terms(docs, k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["term"], r["score"]))
    # 'shared' appears in every doc -> idf = ln(1) = 0, never a top term
    # unless nothing else scores (doc text always has something else here)
    assert by_doc[1][0][1] == "apple"        # tf=2 of a df=1 term
    assert all(t != "shared" or s == 0.0 for _, t, s in by_doc[1])
    assert len(by_doc) == 3 and all(len(v) == 2 for v in by_doc.values())


def test_scrub_pii(spark):
    from feldman_spark.pipeline.text import scrub_pii

    df = spark.createDataFrame(
        [(1, "reach me at jane.doe+x@corp.example.org please"),
         (2, "see https://a.example.com/path?q=1 for details"),
         (3, "call 415-555-0199 or (020) 7946 0958 today"),
         (4, "nothing sensitive here at all")],
        "doc_id long, text string")
    s = scrub_pii(F.col("text"))
    rows = {r["doc_id"]: r for r in df.select(
        "doc_id", s["n_email"].alias("e"), s["n_url"].alias("u"),
        s["n_digit_run"].alias("d"), s["scrubbed"].alias("out")).collect()}
    assert rows[1]["e"] == 1 and "@" not in rows[1]["out"]
    assert rows[2]["u"] == 1 and "https" not in rows[2]["out"]
    assert rows[3]["d"] == 2 and "0199" not in rows[3]["out"]
    assert rows[4]["out"] == "nothing sensitive here at all"


def test_cap_per_group_stable_under_growth(spark):
    """The per-group cap keeps a growth-stable set: adding new rows never
    resamples survivors at random — a kept row is only displaced by a
    lower-variate newcomer — and the cap holds exactly."""
    from feldman_spark.pipeline.sampling import cap_per_group

    base = spark.createDataFrame(
        [(i, f"src{i % 3}") for i in range(60)], "doc_id long, source string")
    kept1 = cap_per_group(base, "source", cap=5)
    counts = {r["source"]: r["n"] for r in
              kept1.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"src0": 5, "src1": 5, "src2": 5}

    grown = base.unionByName(spark.createDataFrame(
        [(i, f"src{i % 3}") for i in range(60, 90)], "doc_id long, source string"))
    kept2 = cap_per_group(grown, "source", cap=5)
    ids1 = {r["doc_id"] for r in kept1.collect()}
    ids2 = {r["doc_id"] for r in kept2.collect()}
    assert len(ids2) == 15
    # survivors change only by displacement: the kept set under growth is
    # the cap applied to the union, so re-running on the same data is
    # idempotent and partition-order independent
    again = {r["doc_id"] for r in cap_per_group(grown.repartition(7),
                                                "source", cap=5).collect()}
    assert ids2 == again
    # exact semantics: per group, the 5 lowest (variate, doc_id) keys of
    # the union — computed independently here with hashlib
    import hashlib

    def variate(i):
        return hashlib.md5(f"{i}#cap".encode()).hexdigest()[:8]

    want = set()
    for g in range(3):
        members = sorted((i for i in range(90) if i % 3 == g),
                         key=lambda i: (variate(i), i))
        want.update(members[:5])
    assert ids2 == want
    # survivors from the smaller corpus persist unless displaced by a
    # lower-variate newcomer — never resampled at random
    displaced = ids1 - ids2
    for d in displaced:
        g = d % 3
        newer = [i for i in range(60, 90) if i % 3 == g and i in ids2]
        assert any(variate(n) < variate(d) for n in newer)


def test_paragraph_dedup_first_occurrence_wins(spark):
    from feldman_spark.pipeline.dedup import paragraph_dedup

    # 4-word chunks; doc 2 repeats doc 1's first chunk, doc 3 is entirely
    # chunks already seen, doc 4 is unique
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),            # chunks: "a b c d", "e f g h"
            (2, "a b c d x y z w"),            # first chunk duplicate of doc 1
            (3, "e f g h a b c d"),            # both chunks seen -> vanishes
            (4, "q r s t"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in
           paragraph_dedup(docs, chunk_words=4).collect()}
    assert out[1]["text"] == "a b c d e f g h"
    assert out[1]["n_kept"] == 2 and out[1]["n_dropped"] == 0
    assert out[2]["text"] == "x y z w"
    assert out[2]["n_kept"] == 1 and out[2]["n_dropped"] == 1
    assert 3 not in out  # every span seen earlier -> document dropped
    assert out[4]["text"] == "q r s t"


def test_paragraph_dedup_hot_span_no_straggler(spark):
    """One boilerplate span duplicated 100k× across distinct docs: the
    min-struct aggregate collapses it map-side, the winner is the
    smallest (id, chunk_idx), and every other doc keeps only its unique
    tail chunk."""
    from feldman_spark.pipeline.dedup import paragraph_dedup

    n = 100_000
    docs = (
        spark.range(n)
        .select(
            F.col("id").cast("int").alias("doc_id"),
            # shared 4-word boilerplate chunk + a per-doc unique chunk
            F.concat(F.lit("all rights reserved legal notice tail "),
                     F.col("id").cast("string")).alias("text"),
        )
    )
    out = paragraph_dedup(docs, chunk_words=4)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == n  # every doc survives via its unique tail
    assert rows[0]["n_kept"] == 2 and rows[0]["n_dropped"] == 0
    assert rows[0]["text"] == "all rights reserved legal notice tail 0"
    # all later docs lost the boilerplate span, kept the unique tail
    assert rows[1]["n_kept"] == 1 and rows[1]["n_dropped"] == 1
    assert rows[n - 1]["text"] == f"notice tail {n - 1}"


def test_paragraph_dedup_partial_tail_chunk(spark):
    from feldman_spark.pipeline.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           paragraph_dedup(docs, chunk_words=4).collect()}
    # doc 1 keeps both chunks ("a b c d", tail "e"); doc 2 keeps none
    assert out[1]["n_kept"] == 2 and out[1]["text"] == "a b c d e"
    assert 2 not in out


def test_remove_frequent_spans_policy(spark):
    """CCNet-style: spans above max_count vanish from EVERY document (no
    first-occurrence survivor), rarer spans are untouched."""
    from feldman_spark.pipeline.dedup import remove_frequent_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),   # "a b c d" x3 corpus-wide, "e f g h" x2
            (2, "a b c d i j k l"),
            (3, "a b c d e f g h"),
            (4, "q r s t"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in
           remove_frequent_spans(docs, chunk_words=4, max_count=2).collect()}
    # "a b c d" (3 occurrences > 2) dropped everywhere, incl. its first
    assert out[1]["text"] == "e f g h"
    assert out[1]["n_kept"] == 1 and out[1]["n_dropped"] == 1
    assert out[2]["text"] == "i j k l"
    assert out[3]["text"] == "e f g h"   # both copies keep it (2 <= max)
    assert out[4]["text"] == "q r s t"


def test_remove_frequent_spans_all_boilerplate_doc_vanishes(spark):
    from feldman_spark.pipeline.dedup import remove_frequent_spans

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "a b c d"), (4, "x y z w")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in
           remove_frequent_spans(docs, chunk_words=4, max_count=2).collect()}
    assert set(out) == {4}  # docs made solely of boilerplate disappear


def test_remove_frequent_spans_hot_span_map_side_combine(spark):
    """The frequency count must partial-aggregate map-side: plan shows a
    partial count before the exchange, and a 100k-hot span clears in one
    aggregate (no per-copy window scan)."""
    from feldman_spark.pipeline.dedup import remove_frequent_spans

    n = 100_000
    docs = spark.range(n).select(
        F.col("id").cast("int").alias("doc_id"),
        F.concat(F.lit("all rights reserved legal notice tail "),
                 F.col("id").cast("string")).alias("text"),
    )
    out = remove_frequent_spans(docs, chunk_words=4, max_count=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan or "partial count" in plan.lower()
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == n
    # boilerplate span stripped from every doc, unique tails survive
    assert rows[0]["text"] == "notice tail 0"
    assert rows[0]["n_kept"] == 1 and rows[0]["n_dropped"] == 1


def test_epoch_shuffle_deterministic_and_epoch_independent(spark):
    from feldman_spark.pipeline.sampling import epoch_shuffle

    d = spark.range(2000).withColumnRenamed("id", "doc_id")
    e0 = epoch_shuffle(d, "doc_id", epoch=0).select("doc_id", "shard", "sk")
    e0b = epoch_shuffle(d, "doc_id", epoch=0).select("doc_id", "shard", "sk")
    assert e0.collect() == e0b.collect()  # bit-deterministic across runs

    rows0 = {r["doc_id"]: (r["shard"], r["sk"]) for r in e0.collect()}
    rows1 = {r["doc_id"]: (r["shard"], r["sk"])
             for r in epoch_shuffle(d, "doc_id", epoch=1).collect()}
    # epochs give different permutations
    assert rows0 != rows1
    # shards in range and roughly balanced (uniform md5 byte % 8)
    from collections import Counter
    c = Counter(s for s, _ in rows0.values())
    assert set(c) <= set(range(8))
    assert max(c.values()) < 2 * min(c.values())
    # the (shard, sk) pair is a total order: sort keys unique
    assert len({sk for _, sk in rows0.values()}) == len(rows0)


def test_epoch_shuffle_rejects_reserved_column_collision(spark):
    """An input already carrying 'shard'/'sk' must raise instead of being
    silently overwritten (and exported in place of the user's data)."""
    import pytest

    from feldman_spark.pipeline.sampling import epoch_shuffle
    from feldman_spark.pipeline.training import export_jsonl_sharded

    d = spark.range(5).select(F.col("id").alias("doc_id"),
                              F.lit(7).alias("sk"))
    with pytest.raises(ValueError, match="sk"):
        epoch_shuffle(d, "doc_id")
    with pytest.raises(ValueError, match="collide"):
        export_jsonl_sharded(d, "/tmp/never-written", "doc_id")
    # non-colliding names remain usable on the same frame
    out = epoch_shuffle(d, "doc_id", shard_col="_s", sort_col="_k")
    assert {"doc_id", "sk", "_s", "_k"} <= set(out.columns)


def test_repetition_metrics_matches_row_local_twin(spark):
    """The relational stream-aggregate repetition metrics must equal the
    row-local HOF definition value-for-value, including the degenerate
    docs (empty, whitespace-only, < ngram tokens, all-duplicate)."""
    from feldman_spark.pipeline.text import (
        gopher_quality, gopher_rules, repetition_features, repetition_metrics)

    docs = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),
            (2, "x\nx\ny\nx"),
            (3, ""),
            (4, "   "),
            (5, "one two"),
            (6, "w " * 60),
            (7, "the quick brown fox jumps over the lazy dog " * 8),
        ],
        ["doc_id", "text"],
    )
    rf = repetition_features(F.col("text"))
    row = {r["doc_id"]: r for r in docs.select(
        "doc_id",
        rf["dup_line_frac"].alias("dup_line_frac"),
        rf["dup_ngram_frac"].alias("dup_ngram_frac"),
        rf["top_token_frac"].alias("top_token_frac")).collect()}
    # both relational forms (independent subtrees; single tagged-union
    # stream) must equal the row-local definition — and so each other —
    # on every degenerate doc
    for mode in ("subtrees", "union"):
        rel = {r["doc_id"]: r
               for r in repetition_metrics(docs, mode=mode).collect()}
        for i in row:
            for c in ("dup_line_frac", "dup_ngram_frac", "top_token_frac"):
                assert rel[i][c] == row[i][c], \
                    (mode, i, c, rel[i][c], row[i][c])

    gq = {r["doc_id"]: r["keep"] for r in gopher_quality(docs).collect()}
    gr = {r["doc_id"]: r["keep"] for r in docs.select(
        "doc_id", gopher_rules(F.col("text")).alias("keep")).collect()}
    assert gq == gr

    # the FUSED union path (the token-count denominator rides the
    # quality-features projection — one fewer text scan) must equal the
    # subtrees path frame-for-frame, degenerate docs included
    a = gopher_quality(docs, mode="subtrees").collect()
    b = gopher_quality(docs, mode="union").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_size_gate_auto_routing(spark):
    """The size-adaptive gates must route TINY inputs to the small-input
    shape even when Catalyst has no stats for the leaf: a
    ``createDataFrame`` input is RDD-backed (``LogicalRDD``), whose size
    estimate is the ``defaultSizeInBytes`` sentinel (Long.MaxValue), not
    a measurement — before the sentinel check such inputs always took
    the large-input path, measured 2-2.3x slower at small scale. (Spark
    Connect sessions have no ``_jdf`` and always take the small-input
    path via the exception arm.)"""
    from feldman_spark.ops.sizing import (SIZE_UNKNOWN_SENTINEL,
                                          plan_size_estimate)
    from feldman_spark.pipeline.text import repetition_metrics

    docs = spark.createDataFrame(
        [(1, "a b c a b c"), (2, "x\ny\nx")], ["doc_id", "text"])

    # the raw Catalyst estimate for an RDD-backed leaf IS the sentinel —
    # this is the exact failure mode the helper exists to absorb; if a
    # Spark upgrade starts computing real stats here, the assertion below
    # (est == 0 or a genuinely tiny number) still holds and the gate
    # still routes small
    est = plan_size_estimate(docs)
    assert est < SIZE_UNKNOWN_SENTINEL
    assert est < (4 << 20), f"tiny input estimated at {est} bytes"

    # auto must therefore resolve to the subtrees plan, not the union
    # (compare optimized plans with expression IDs normalized away)
    import re

    def plan_of(mode):
        p = str(repetition_metrics(docs, mode=mode)
                ._jdf.queryExecution().optimizedPlan())
        return re.sub(r"#\d+", "#", p)

    plan_auto, plan_sub, plan_union = map(
        plan_of, ("auto", "subtrees", "union"))
    assert plan_auto == plan_sub
    assert plan_auto != plan_union

    with pytest.raises(ValueError, match="mode"):
        repetition_metrics(docs, mode="bogus")


def test_export_jsonl_sharded(spark, tmp_out):
    import glob
    import json as _json

    from feldman_spark.pipeline.training import export_jsonl_sharded

    d = spark.createDataFrame(
        [(i, f"text {i}", i % 3) for i in range(400)],
        ["doc_id", "text", "grp"])
    path = f"{tmp_out}/jsonl_export"
    man = export_jsonl_sharded(d, path, shard_key="doc_id", num_shards=4,
                               max_records_per_file=40)
    rows = {r["shard"]: (r["n_rows"], r["n_files"]) for r in man.collect()}
    assert sum(n for n, _ in rows.values()) == 400
    assert set(rows) <= set(range(4))

    seen = set()
    for f in glob.glob(f"{path}/shard=*/part-*"):
        lines = open(f).read().splitlines()
        assert len(lines) <= 40  # maxRecordsPerFile respected
        for ln in lines:
            rec = _json.loads(ln)
            assert set(rec) == {"doc_id", "text", "grp"}  # no shard/sk leak
            seen.add(rec["doc_id"])
    assert len(seen) == 400

    # determinism: same epoch -> byte-identical shard contents
    path2 = f"{tmp_out}/jsonl_export2"
    export_jsonl_sharded(d, path2, shard_key="doc_id", num_shards=4,
                         max_records_per_file=40, manifest=False)
    # compare per-shard sorted file contents
    a = {}
    for f in glob.glob(f"{path}/shard=*/part-*"):
        a.setdefault(f.split("shard=")[1].split("/")[0], []).append(open(f).read())
    b = {}
    for f in glob.glob(f"{path2}/shard=*/part-*"):
        b.setdefault(f.split("shard=")[1].split("/")[0], []).append(open(f).read())
    assert {k: sorted(v) for k, v in a.items()} == {k: sorted(v) for k, v in b.items()}


def test_semantic_dedup_prune_rule_brute_force(spark):
    """The SemDeDup prune must equal a brute-force recomputation: within
    each k-means cluster (as assigned by ivf_build), drop exactly the
    vectors that have a lower-id neighbor at cosine >= t."""
    import numpy as np

    from feldman_spark.pipeline.dedup import semantic_dedup
    from feldman_spark.pipeline.similarity import ivf_build

    rng = [(i, [float(((i * 37 + j * 11) % 19) - 9) for j in range(8)])
           for i in range(120)]
    # inject near-duplicates: ids 200+ copy ids 0-9 with a tiny scale
    # (cosine exactly 1.0 — scaling preserves direction)
    dups = [(200 + i, [x * 1.5 for x in v]) for i, v in rng[:10]]
    df = spark.createDataFrame(rng + dups, ["vec_id", "embedding"])

    t = 0.98
    surv = {r["vec_id"] for r in
            semantic_dedup(df, threshold=t, num_centroids=4, iters=2).collect()}

    assigned, _ = ivf_build(df, num_centroids=4, iters=2)
    rows = assigned.select("cid", "vec_id", "embedding").collect()
    by_cid = {}
    for r in rows:
        by_cid.setdefault(r["cid"], []).append((r["vec_id"], np.array(r["embedding"])))
    expected = set()
    for cid, members in by_cid.items():
        for vid, v in members:
            dropped = False
            for vid2, v2 in members:
                if vid2 >= vid:
                    continue
                c = float(v @ v2) / ((np.linalg.norm(v) * np.linalg.norm(v2)) or 1.0)
                if round(c, 6) >= t:
                    dropped = True
                    break
            if not dropped:
                expected.add(vid)
    assert surv == expected
    # every injected copy is gone: each has its original (scaled copy,
    # cosine exactly 1.0) at a lower id in the same cluster
    assert all(200 + i not in surv for i in range(10))
    # and the drop actually pruned beyond the copies
    assert len(surv) < 130


def test_exact_dedup_incremental(spark):
    from feldman_spark.pipeline.dedup import exact_dedup_incremental

    run1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], ["doc_id", "text"])
    kept1, dg1 = exact_dedup_incremental(run1, seen=None)
    assert {r["doc_id"] for r in kept1.collect()} == {1, 2}  # bootstrap dedups within batch

    store = dg1  # append-only digest store after run 1
    run2 = spark.createDataFrame(
        [(10, "alpha"),    # re-crawl of run-1 text -> store hit, dropped
         (11, "gamma"),    # new
         (12, "gamma"),    # intra-batch dup of 11 -> dropped
         (13, "delta")],   # new
        ["doc_id", "text"])
    kept2, dg2 = exact_dedup_incremental(run2, store)
    assert {r["doc_id"] for r in kept2.collect()} == {11, 13}
    # the returned digests are exactly the survivors' -> idempotent growth
    store2 = store.unionByName(dg2)
    kept3, _ = exact_dedup_incremental(run2, store2)
    assert kept3.count() == 0  # re-running the same batch is a no-op


def test_quality_classifier_separable_and_distillation(spark, tmp_out):
    """(a) Perfectly separable vocabulary -> exact label recovery on
    held-out docs from the same generative families; (b) distilling the
    gopher rule into the classifier agrees with the rule on >=90% of a
    fresh slice; (c) save/load round-trips the scores."""
    from pyspark.ml import PipelineModel

    from feldman_spark.pipeline.classify import (
        score_quality, train_quality_classifier)

    good = [(i, "clean prose flows nicely with varied words number %d" % i, 1.0)
            for i in range(60)]
    bad = [(100 + i, "buy now spam click buy now spam click %d" % i, 0.0)
           for i in range(60)]
    train = spark.createDataFrame(
        good[:40] + bad[:40], "doc_id long, text string, label double")
    test = spark.createDataFrame(
        good[40:] + bad[40:], "doc_id long, text string, label double")
    model = train_quality_classifier(train, num_features=1 << 12)
    scored = score_quality(test, model, keep_threshold=None)
    rows = scored.collect()
    assert all((r["quality_prob"] >= 0.5) == (r["label"] == 1.0) for r in rows)
    # keep_threshold filters the corpus side
    kept = score_quality(test, model, keep_threshold=0.5)
    assert kept.count() == 20

    path = f"{tmp_out}/qc_model"
    model.write().overwrite().save(path)
    re_model = PipelineModel.load(path)
    again = {r["doc_id"]: r["quality_prob"]
             for r in score_quality(test, re_model).collect()}
    for r in rows:
        assert abs(again[r["doc_id"]] - r["quality_prob"]) < 1e-12


def test_chunk_documents_overlap_and_tail(spark):
    from feldman_spark.pipeline.training import chunk_documents

    docs = spark.createDataFrame(
        [(1, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"),   # 10 words
         (2, "a b c"),                            # shorter than window
         (3, "   ")],                             # empty after trim
        "doc_id long, text string")
    out = chunk_documents(docs, window=4, stride=3)
    rows = sorted(((r["doc_id"], r["chunk_idx"], r["chunk_text"], r["n_words"])
                   for r in out.collect()))
    # doc 1: chunks at 0,3,6 full; tail chunk at 9 with 1 word
    assert rows == [
        (1, 0, "w0 w1 w2 w3", 4),
        (1, 1, "w3 w4 w5 w6", 4),
        (1, 2, "w6 w7 w8 w9", 4),
        (2, 0, "a b c", 3),
    ] or rows == [
        (1, 0, "w0 w1 w2 w3", 4),
        (1, 1, "w3 w4 w5 w6", 4),
        (1, 2, "w6 w7 w8 w9", 4),
        (1, 3, "w9", 1),
        (2, 0, "a b c", 3),
    ]
    # disjoint chunking when stride == window
    dj = chunk_documents(docs.filter("doc_id = 1"), window=5, stride=5)
    assert [r["chunk_text"] for r in dj.orderBy("chunk_idx").collect()] == [
        "w0 w1 w2 w3 w4", "w5 w6 w7 w8 w9"]
    import pytest as _pytest
    with _pytest.raises(ValueError):
        chunk_documents(docs, window=0, stride=3)


def test_url_parts_and_normalize(spark):
    from feldman_spark.pipeline.web import normalize_url, url_parts

    cases = [
        # (raw, norm) — default port drops, tracking params drop, params
        # sort, fragment/userinfo strip, empty path -> '/'
        ("HTTP://WWW.Foo.Example.COM:80/Path/1?utm_source=f&b=2&a=1#frag",
         "http://www.foo.example.com/Path/1?a=1&b=2"),
        ("https://bar.example.com:8443/p/2",
         "https://bar.example.com:8443/p/2"),
        ("http://USER@baz.example.com",
         "http://baz.example.com/"),
        ("https://qux.example.com/p%20q/4?a=1&gclid=zz&A=0",
         "https://qux.example.com/p%20q/4?A=0&a=1"),
        ("https://sub.host.EXAMPLE.com:443/x?ref=r",
         "https://sub.host.example.com/x"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = {r["url"]: r for r in normalize_url(url_parts(df)).collect()}
    for raw, want in cases:
        assert got[raw]["url_norm"] == want, raw
    r0 = got[cases[0][0]]
    assert r0["scheme"] == "http" and r0["host"] == "www.foo.example.com"
    assert r0["domain"] == "example.com" and r0["path"] == "/Path/1"
    # userinfo never leaks into host/path
    r2 = got[cases[2][0]]
    assert r2["host"] == "baz.example.com" and r2["path"] == ""


def test_stratified_sample_fractions_and_determinism(spark):
    from feldman_spark.pipeline.sampling import stratified_sample

    rows = [(i, ["en", "de", "fr"][i % 3]) for i in range(6000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    frac = {"en": 0.5, "de": 0.1}
    out = stratified_sample(df, "lang", frac, key_col="doc_id",
                            default_fraction=0.02)
    counts = {r["lang"]: r["n"] for r in
              out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert abs(counts["en"] / 2000 - 0.5) < 0.06
    assert abs(counts["de"] / 2000 - 0.1) < 0.04
    assert counts.get("fr", 0) / 2000 < 0.05          # default fraction
    # deterministic: the same rows, not just the same counts
    again = stratified_sample(df, "lang", frac, key_col="doc_id",
                              default_fraction=0.02)
    assert out.exceptAll(again).count() == 0 and out.count() == again.count()
    # growth-stable: adding rows never evicts prior members
    bigger = spark.createDataFrame(
        rows + [(i, "en") for i in range(6000, 8000)], "doc_id long, lang string")
    grown = stratified_sample(bigger, "lang", frac, key_col="doc_id",
                              default_fraction=0.02)
    assert out.join(grown, ["doc_id"], "left_anti").count() == 0


def test_profile_histogram_buckets(spark):
    from feldman_spark.pipeline.profile import profile_histogram

    df = spark.createDataFrame([(float(i),) for i in range(100)], "x double")
    h = {r["bucket"]: r for r in profile_histogram(df, "x", 10).collect()}
    assert len(h) == 10
    assert sum(r["n"] for r in h.values()) == 100
    assert all(r["n"] == 10 for r in h.values())      # uniform data
    assert h[0]["lo"] == 0.0 and h[9]["hi"] == 99.0   # closed-top last bin
    # max value lands in the last bucket, not an 11th
    assert max(h) == 9
    # constant column: one bucket, all rows
    const = spark.createDataFrame([(5.0,), (5.0,), (None,)], "x double")
    hc = profile_histogram(const, "x", 8).collect()
    assert len(hc) == 1 and hc[0]["n"] == 2           # NULL excluded
    import pytest as _pytest
    with _pytest.raises(ValueError):
        profile_histogram(df, "x", 0)


# ---------------------------------------------------------------------------
# BM25 retrieval
# ---------------------------------------------------------------------------

def test_bm25_matches_python_model(spark):
    """Spark BM25 == a from-scratch Python recomputation on a tiny
    corpus (idf form, length normalization, rounding-before-ranking)."""
    import math

    from feldman_spark.pipeline.search import bm25_topk

    docs = [
        (1, "spark join spark filter"),
        (2, "window filter window window"),
        (3, "spark spark spark spark"),
        (4, "pandas numpy arrow"),
        (5, "join"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = [(r["doc_id"], r["score"], r["rank"])
           for r in bm25_topk(df, "spark window", k=3).collect()]

    # model
    k1, b = 1.2, 0.75
    toks = {i: t.split() for i, t in docs}
    n = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / n
    scores = {}
    for term in ["spark", "window"]:
        dfreq = sum(1 for v in toks.values() if term in v)
        if not dfreq:
            continue
        idf = math.log(1 + (n - dfreq + 0.5) / (dfreq + 0.5))
        for i, v in toks.items():
            tf = v.count(term)
            if tf:
                scores[i] = scores.get(i, 0.0) + idf * tf * (k1 + 1) / (
                    tf + k1 * (1 - b + b * len(v) / avgdl))
    ranked = sorted(((round(s, 4), -i) for i, s in scores.items()),
                    reverse=True)[:3]
    want = [(-mi, s, r + 1) for r, (s, mi) in enumerate(ranked)]
    assert got == want


def test_bm25_empty_query_raises(spark):
    from feldman_spark.pipeline.search import bm25_topk

    df = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        bm25_topk(df, "   ")


def test_bm25_text_never_shuffles(spark):
    """No exchange in the plan carries the text/token column: only the
    filtered query-term hits (three scalar columns) reach a shuffle."""
    from feldman_spark.pipeline.search import bm25_topk

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w"), (F.col("id") % 7)).alias("text"))
    plan = bm25_topk(df, "w1 w3", k=5)._jdf.queryExecution() \
        .executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "_toks" not in line and "text" not in line


def test_bm25_rerank_phrase_and_position_break_bm25_ties(spark):
    """Two docs with identical bags of words (same BM25): the one with
    the query terms ADJACENT and EARLY must rerank first."""
    from feldman_spark.pipeline.search import bm25_rerank

    docs = [
        (1, "filler filler spark join more words here"),     # adjacent, late-ish
        (2, "spark filler filler join more words here"),     # scattered, early
        (3, "pad pad pad pad pad pad pad"),                   # no terms
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = bm25_rerank(df, "spark join", k=3, n_candidates=3).collect()
    ids = [r["doc_id"] for r in out]
    assert ids[0] == 1 or ids[0] == 2
    by = {r["doc_id"]: r for r in out}
    # identical token bags -> identical BM25 stage-1 scores
    assert by[1]["score"] == by[2]["score"]
    # doc 2 gets the position bonus (first_pos=1 vs 3), doc 1 the phrase
    # bonus (one adjacent bigram): 0.2*ln(2)=0.139 + 0.3/3=0.1 vs 0.3/1
    assert by[2]["rerank_score"] > by[1]["rerank_score"]
    assert 3 not in by  # no query term -> not a candidate


def test_bm25_rerank_rank_is_dense_and_k_bounded(spark):
    from feldman_spark.pipeline.search import bm25_rerank

    df = spark.createDataFrame(
        [(i, f"spark join w{i}") for i in range(20)], ["doc_id", "text"])
    out = bm25_rerank(df, "spark join", k=5, n_candidates=10).collect()
    assert [r["rank"] for r in out] == [1, 2, 3, 4, 5]


def test_contamination_overlap_counts_and_zeros(spark):
    from feldman_spark.pipeline.dedup import contamination_overlap

    ev = spark.createDataFrame([(100, "a b c d")], ["doc_id", "text"])
    corpus = spark.createDataFrame([
        (1, "x a b c d y"),        # grams: "x a b", ... wait n=3 below
        (2, "a b c d a b c d"),    # repeated leaked grams count each time
        (3, "no overlap at all here"),
        (4, "tiny"),               # < n words -> zeros
    ], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           contamination_overlap(corpus, ev, n=3).collect()}
    # eval 3-grams: "a b c", "b c d"
    assert out[1]["n_grams"] == 4 and out[1]["n_contaminated"] == 2
    assert out[1]["overlap_frac"] == 0.5
    # positions: [a b c]* [b c d]* [c d a] [d a b] [a b c]* [b c d]*
    assert out[2]["n_grams"] == 6 and out[2]["n_contaminated"] == 4
    assert out[3]["n_contaminated"] == 0 and out[3]["overlap_frac"] == 0.0
    assert out[4]["n_grams"] == 0 and out[4]["overlap_frac"] == 0.0
    assert len(out) == 4  # every corpus doc reported


def test_ppl_buckets_thirds_and_ordering(spark):
    """Bucket assignment must follow the lm_logprob order: every head
    doc scores >= every middle doc >= every tail doc, and with 9 docs
    of distinct scores the split is 3/3/3."""
    from feldman_spark.pipeline.text import ppl_buckets

    # nine docs with increasingly atypical bigrams: doc i repeats a
    # common phrase (high prob) vs unique gibberish (low prob)
    rows = [(i, ("the cat sat " * (9 - i) + f"zq{i} xw{i} vv{i} " * i).strip())
            for i in range(9)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = ppl_buckets(df).collect()
    assert len(out) == 9
    lo = {b: [r["lm_logprob"] for r in out if r["bucket"] == b]
          for b in ("head", "middle", "tail")}
    assert len(lo["head"]) == 3 and len(lo["middle"]) == 3 and len(lo["tail"]) == 3
    assert min(lo["head"]) >= max(lo["middle"]) >= max(lo["tail"])


# ---------------------------------------------------------------------------
# weighted reservoir sampling
# ---------------------------------------------------------------------------

def test_weighted_sample_deterministic_and_weight_biased(spark):
    from feldman_spark.pipeline.sampling import weighted_sample_per_group

    # one group: 100 light rows (w=1) + 10 heavy rows (w=1000)
    rows = [(i, "g", 1.0) for i in range(100)] + \
           [(1000 + i, "g", 1000.0) for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "grp", "w"])
    got1 = sorted(r["doc_id"] for r in weighted_sample_per_group(
        df, "grp", "w", k=5).collect())
    got2 = sorted(r["doc_id"] for r in weighted_sample_per_group(
        df, "grp", "w", k=5).collect())
    assert got1 == got2 and len(got1) == 5           # deterministic, k rows
    heavy = sum(1 for d in got1 if d >= 1000)
    assert heavy >= 4  # heavy rows ~100x likelier; P(light in top5) tiny


def test_weighted_sample_excludes_nonpositive_weights(spark):
    from feldman_spark.pipeline.sampling import weighted_sample_per_group

    df = spark.createDataFrame(
        [(1, "g", 5.0), (2, "g", 0.0), (3, "g", -1.0), (4, "g", None)],
        ["doc_id", "grp", "w"])
    got = [r["doc_id"] for r in weighted_sample_per_group(
        df, "grp", "w", k=10).collect()]
    assert got == [1]


# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------

def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np

    from feldman_spark.pipeline.graph import pagerank

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (0, 1)]  # dup edge
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["rank"]
           for r in pagerank(df, iters=3, damping=0.85).collect()}

    uniq = sorted(set(edges))
    nodes = sorted({u for e in uniq for u in e})
    n = len(nodes)
    deg = {u: sum(1 for a, _ in uniq if a == u) for u in nodes}
    r = {u: 1.0 / n for u in nodes}
    for _ in range(3):
        contrib = {u: 0.0 for u in nodes}
        for a, b in uniq:
            contrib[b] += r[a] / deg[a]
        r = {u: (1 - 0.85) / n + 0.85 * contrib[u] for u in nodes}
    assert set(got) == set(nodes)
    for u in nodes:
        assert got[u] == pytest.approx(round(r[u], 8), abs=1e-8)


def test_pagerank_dangling_node_keeps_base_rank(spark):
    from feldman_spark.pipeline.graph import pagerank

    # 3 is a sink: appears only as dst, contributes nothing onward
    df = spark.createDataFrame([(1, 3), (2, 3)], ["src", "dst"])
    got = {r["node"]: r["rank"]
           for r in pagerank(df, iters=2, damping=0.85).collect()}
    assert set(got) == {1, 2, 3}
    base = round((1 - 0.85) / 3, 8)
    assert got[1] == base and got[2] == base
    assert got[3] > got[1]


def test_triangle_stats_known_graphs(spark):
    from feldman_spark.pipeline.graph import triangle_stats

    # K4: 4 triangles, 6 edges, 12 wedges, clustering 1.0 — edges given
    # directed/duplicated/reversed to exercise canonicalization
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]
    row = triangle_stats(
        spark.createDataFrame(k4, ["src", "dst"])).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_wedges"],
            row["n_triangles"]) == (4, 6, 12, 4)
    assert row["global_clustering"] == 1.0

    # star: hub with 5 leaves — wedges but zero triangles
    star = [(0, i) for i in range(1, 6)]
    row = triangle_stats(
        spark.createDataFrame(star, ["src", "dst"])).collect()[0]
    assert row["n_triangles"] == 0 and row["n_wedges"] == 10
    assert row["global_clustering"] == 0.0

    # triangle + pendant edge: 1 triangle counted exactly once
    g = [(1, 2), (2, 3), (3, 1), (3, 4)]
    row = triangle_stats(
        spark.createDataFrame(g, ["src", "dst"])).collect()[0]
    assert row["n_triangles"] == 1


def test_cooccurrence_pairs_counts_and_cap(spark):
    from feldman_spark.pipeline.graph import cooccurrence_pairs

    # groups: u1 {a,b,c}, u2 {a,b}, u3 {a,b} (duplicate events collapse)
    rows = [("u1", "a"), ("u1", "b"), ("u1", "c"), ("u1", "a"),
            ("u2", "a"), ("u2", "b"), ("u3", "a"), ("u3", "b")]
    got = {(r["item_a"], r["item_b"]): r["n_groups"]
           for r in cooccurrence_pairs(
               spark.createDataFrame(rows, ["g", "i"]), "g", "i",
               cap=10, min_count=2).collect()}
    assert got == {("a", "b"): 3}  # (a,c)/(b,c) appear once -> filtered

    # hot basket: one group with 30 items, cap=5 -> at most C(5,2) pairs
    hot = [("hot", f"i{k:02d}") for k in range(30)]
    pairs = cooccurrence_pairs(
        spark.createDataFrame(hot, ["g", "i"]), "g", "i",
        cap=5, min_count=1).collect()
    assert len(pairs) == 10
    # deterministic: same survivors on a rerun
    again = cooccurrence_pairs(
        spark.createDataFrame(hot, ["g", "i"]), "g", "i",
        cap=5, min_count=1).collect()
    assert sorted(map(tuple, pairs)) == sorted(map(tuple, again))


def test_bpe_pair_counts_manual(spark):
    from feldman_spark.pipeline.text import bpe_pair_counts

    # vocab: "abab" x2 (pairs ab,ba,ab), "ab" x1, "x" (too short)
    df = spark.createDataFrame(
        [("abab ab x",), ("abab",)], ["text"])
    got = {r["pair"]: r["n"] for r in
           bpe_pair_counts(df, "text", k=10).collect()}
    # "abab": ab=2, ba=1 per occurrence, word count 2 -> ab 4, ba 2;
    # "ab": ab +1 -> ab 5
    assert got == {"ab": 5, "ba": 2}


def test_corpus_overlap_normalization_and_counts(spark):
    from feldman_spark.pipeline.dedup import corpus_overlap

    a = spark.createDataFrame(
        [("Hello, World!",), ("unique to a",)], ["text"])
    b = spark.createDataFrame(
        [("hello   world",), ("only in b",), ("second b",)], ["text"])
    row = corpus_overlap(a, b, "text").collect()[0]
    # normalized fingerprint matches across case/punct/whitespace noise
    assert (row["n_a"], row["n_b"], row["n_common"]) == (2, 3, 1)
    assert row["jaccard"] == 0.25
    assert row["containment_a"] == 0.5

    raw = corpus_overlap(a, b, "text", normalized=False).collect()[0]
    assert raw["n_common"] == 0 and raw["jaccard"] == 0.0


def test_rebalance_to_target_binding_group_and_drops(spark):
    from feldman_spark.pipeline.sampling import rebalance_to_target

    rows = ([("en", i) for i in range(400)]
            + [("de", 1000 + i) for i in range(100)]
            + [("zh", 2000 + i) for i in range(50)])
    df = spark.createDataFrame(rows, ["lang", "doc_id"])
    out = rebalance_to_target(
        df, "lang", {"en": 0.5, "de": 0.5}, key_col="doc_id")
    by = {r["lang"]: r["n"] for r in
          out.groupBy("lang").agg(__import__("pyspark").sql.functions
                                  .count("*").alias("n")).collect()}
    # de is binding (100/0.5=200 < 400/0.5=800): survives WHOLE,
    # including variate 'ffffffff' rows; en thins toward ~100
    assert by["de"] == 100
    assert 70 <= by["en"] <= 130  # binomial around 100
    assert "zh" not in by  # absent from targets -> dropped

    # deterministic: identical survivors on a rerun
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in rebalance_to_target(
        df, "lang", {"en": 0.5, "de": 0.5}, key_col="doc_id").collect())
    assert a == b


def test_rebalance_to_target_null_group_dropped(spark):
    """A NULL group value must behave like any non-targeted group
    (dropped), not crash the |groups|-sized sort with a None-vs-str
    TypeError."""
    from feldman_spark.pipeline.sampling import rebalance_to_target

    rows = ([("en", i) for i in range(60)]
            + [("de", 100 + i) for i in range(30)]
            + [(None, 200 + i) for i in range(10)])
    df = spark.createDataFrame(rows, "lang string, doc_id long")
    out = rebalance_to_target(
        df, "lang", {"en": 0.5, "de": 0.5}, key_col="doc_id")
    langs = {r["lang"] for r in out.select("lang").distinct().collect()}
    assert None not in langs and langs <= {"en", "de"}
    assert out.filter(F.col("lang") == "de").count() == 30  # binding


def test_budget_mix_weights_and_drops(spark):
    """Kept weight per group lands near its budget; groups without a
    budget (and NULL groups) drop; whole-group keep when budget exceeds
    the sum; determinism across runs."""
    from feldman_spark.pipeline.sampling import budget_mix

    rows = ([("a", i, 100) for i in range(200)]          # sum 20_000
            + [("b", 1000 + i, 50) for i in range(40)]   # sum 2_000
            + [("c", 2000 + i, 10) for i in range(10)]
            + [(None, 3000, 10)])
    df = spark.createDataFrame(rows, "grp string, doc_id long, w long")
    out = budget_mix(df, {"a": 5000.0, "b": 1.0e9},
                     group_col="grp", weight_col="w", key_col="doc_id")
    got = out.groupBy("grp").agg(F.sum("w").alias("kept")).collect()
    by = {r["grp"]: r["kept"] for r in got}
    assert "c" not in by and None not in by       # no budget -> dropped
    assert by["b"] == 2000                         # budget > sum -> whole
    assert 3000 <= by["a"] <= 7000                 # ~5000 in expectation
    a2 = budget_mix(df, {"a": 5000.0, "b": 1.0e9}, group_col="grp",
                    weight_col="w", key_col="doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == \
           sorted(r["doc_id"] for r in a2.collect())
    with pytest.raises(ValueError):
        budget_mix(df, {}, group_col="grp", weight_col="w")
    with pytest.raises(ValueError):
        budget_mix(df, {"a": -1.0}, group_col="grp", weight_col="w")


def test_calibration_bins_known_values(spark):
    """Hand-computable reliability bins: scores cluster in two buckets
    with known positive rates; ECE contributions follow n_b/N·|acc-conf|;
    score=1.0 clamps into the top bucket."""
    from feldman_spark.pipeline.profile import calibration_bins

    rows = ([(0.25, 1)] * 3 + [(0.25, 0)] * 1      # bucket 2: conf .25, acc .75
            + [(0.95, 1)] * 1 + [(0.95, 0)] * 3    # bucket 9: conf .95, acc .25
            + [(1.0, 1)]                            # clamps into bucket 9
            + [(None, 1), (0.5, None)])             # excluded
    df = spark.createDataFrame(rows, "score double, label int")
    out = {r["bucket"]: r for r in
           calibration_bins(df, "score", "label", buckets=10).collect()}
    assert set(out) == {2, 9}
    b2, b9 = out[2], out[9]
    assert b2["n"] == 4 and b2["confidence"] == 0.25 and b2["accuracy"] == 0.75
    assert b9["n"] == 5
    assert abs(b9["confidence"] - 0.96) < 1e-9     # (4*.95 + 1.0)/5
    assert abs(b9["accuracy"] - 0.4) < 1e-9        # 2 of 5 positive
    assert abs(b2["ece_contrib"] - round(4 / 9 * 0.5, 6)) < 1e-9
    assert abs(b9["ece_contrib"] - round(5 / 9 * 0.56, 6)) < 1e-9
    with pytest.raises(ValueError):
        calibration_bins(df, "score", "label", buckets=0)


def test_new_operator_argument_validation(spark):
    from feldman_spark.pipeline.dedup import contamination_overlap
    from feldman_spark.pipeline.search import bm25_rerank
    from feldman_spark.pipeline.text import ppl_buckets

    d = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="n must be"):
        contamination_overlap(d, d, n=0)
    with pytest.raises(ValueError, match="cuts"):
        ppl_buckets(d, cuts=(0.7, 0.3))
    with pytest.raises(ValueError, match="n_candidates"):
        bm25_rerank(d, "a b", k=10, n_candidates=5)


def test_asof_join_tolerance_on_ntz_timestamps(spark):
    """tolerance_seconds must work on TIMESTAMP_NTZ event time (Spark 4
    has no direct NTZ→double cast): in-window match kept, stale match
    nulled."""
    from datetime import datetime

    from feldman_spark.ops.joins import asof_join

    left = spark.createDataFrame(
        [(1, datetime(2024, 1, 2, 12, 0, 0)),
         (2, datetime(2024, 1, 5, 12, 0, 0))],
        "k int, ts timestamp_ntz")
    right = spark.createDataFrame(
        [(1, datetime(2024, 1, 2, 11, 0, 0), 10.0),
         (2, datetime(2024, 1, 1, 12, 0, 0), 20.0)],
        "k int, ts timestamp_ntz, v double")
    out = {r["k"]: r for r in asof_join(
        left, right, on=["k"], right_cols=["v"],
        tolerance_seconds=86400.0).collect()}
    assert out[1]["v_r"] == 10.0                  # 1h old: kept
    assert out[2]["v_r"] is None                  # 4d old: nulled


def test_group_centroids_exact_means(spark):
    from feldman_spark.pipeline.similarity import group_centroids

    rows = [
        ("a", [1.0, 2.0]), ("a", [3.0, 6.0]),
        ("b", [5.0, 5.0]),
        ("c", None),  # NULL vector excluded entirely
        ("b", [7.0, 9.0]),
    ]
    df = spark.createDataFrame(rows, ["g", "embedding"])
    got = {r["g"]: (r["n_vectors"], r["centroid"])
           for r in group_centroids(df, "g").collect()}
    assert got == {"a": (2, [2.0, 4.0]), "b": (2, [6.0, 7.0])}


def test_bpe_train_and_apply_manual(spark):
    """The Sennrich worked example: 'low'x3 + 'lower'x1. Merge order is
    fully determined by (count desc, pair asc) — including the two ties."""
    from feldman_spark.pipeline.text import bpe_apply_merges, bpe_train_merges

    df = spark.createDataFrame([("low low lower",), ("low",)], ["text"])
    merges = bpe_train_merges(df, "text", n_merges=4)
    # 'l o' and 'o w' both count 4 -> 'l o' wins asc; after 'lo w' the
    # remaining pairs are 'low e' and 'e r' -> 'e r' wins asc
    assert merges == ["l o", "lo w", "e r", "low er"]
    enc = spark.createDataFrame(
        [("low",), ("lower",), ("lowest",), ("slow",)], ["w"]).select(
        F.col("w"), bpe_apply_merges(F.col("w"), merges).alias("bpe"))
    got = {r["w"]: r["bpe"] for r in enc.collect()}
    assert got == {"low": "low", "lower": "lower",
                   "lowest": "low e s t", "slow": "s low"}
    with pytest.raises(ValueError, match="n_merges"):
        bpe_train_merges(df, "text", n_merges=0)


def test_bpe_apply_merges_leftmost_nonoverlapping(spark):
    """'l l l' merging 'l l' must yield 'll l' (leftmost first), never
    'l ll' or a double-consume."""
    from feldman_spark.pipeline.text import bpe_apply_merges

    df = spark.createDataFrame([("lll",), ("llll",)], ["w"])
    got = {r["w"]: r["bpe"] for r in df.select(
        "w", bpe_apply_merges(F.col("w"), ["l l"]).alias("bpe")).collect()}
    assert got == {"lll": "ll l", "llll": "ll ll"}


def test_ppl_buckets_rejects_wrong_cut_count(spark):
    from feldman_spark.pipeline.text import ppl_buckets

    d = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="exactly 2"):
        ppl_buckets(d, cuts=(0.5,))
    with pytest.raises(ValueError, match="exactly 2"):
        ppl_buckets(d, cuts=(0.25, 0.5, 0.75))


def test_release_frees_lm_score_caches(spark):
    """lm_score persists two gram tables per call; release() must free
    them all — no cached plan may survive it."""
    from feldman_spark.ops.sizing import release
    from feldman_spark.pipeline.text import lm_score

    spark.catalog.clearCache()
    release()      # drain any registrations from other tests
    d = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b c d e")], ["doc_id", "text"])
    assert lm_score(d).count() == 2
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert not cm.isEmpty()
    assert release() == 2
    assert cm.isEmpty()


def test_release_frees_lsh_and_splice_caches(spark):
    """minhash_lsh_pairs and the engine's E1 pipeline persist tables
    that outlive the call; release() must free those too."""
    from feldman_spark.engine import convert_sparse_splice_frames
    from feldman_spark.ops.sizing import release

    spark.catalog.clearCache()
    release()
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"),
         (3, "an entirely different line")], ["doc_id", "text"])
    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    assert {(r["doc1"], r["doc2"]) for r in pairs.collect()} >= {(1, 2)}

    secsumm = spark.createDataFrame(
        [("1", "A", "1", "H", str(s), (s - 1) * 1.5, s * 1.5,
          (s - 1) * 1.5, s * 1.5, 1.5, "") for s in (1, 2, 3)],
        "Site string, Hole string, Core string, Tool string, "
        "Section string, TopDepth double, BottomDepth double, "
        "TopDepthScaled double, BottomDepthScaled double, "
        "CuratedLength double, Gaps string",
    ).coalesce(1).withColumn("_idx", F.monotonically_increasing_id())
    sparse = spark.createDataFrame(
        [("1", "A", "1", "H", "1", 10.0, "3", 100.0, "APPEND", None, "", "",
          0)],
        "Site string, Hole string, Core string, Tool string, "
        "TopSection string, TopOffset double, BottomSection string, "
        "BottomOffset double, SpliceType string, Gap double, "
        "DataUsed string, Comment string, _idx long")
    affine, sit = convert_sparse_splice_frames(secsumm, sparse)
    assert affine.count() == 1 and sit.count() == 1

    cm = spark._jsparkSession.sharedState().cacheManager()
    assert not cm.isEmpty()
    assert release() > 0
    assert cm.isEmpty()


def test_host_suffixes_and_blocklist_paths_agree(spark):
    from feldman_spark.pipeline.web import blocklist_filter, host_suffixes

    hosts = [(1, "a.b.example.com"), (2, "example.com"), (3, "safe.org"),
             (4, "sub.bad.net"), (5, "bad.net"), (6, "notbad.net")]
    df = spark.createDataFrame(hosts, ["doc_id", "host"])
    got = df.filter(F.col("doc_id") == 1).select(
        host_suffixes(F.col("host")).alias("s")).first()["s"]
    assert got == ["a.b.example.com", "b.example.com", "example.com", "com"]

    blocked = ["bad.net", "b.example.com"]
    kept_list = sorted(r["doc_id"] for r in
                       blocklist_filter(df, blocked).collect())
    # 1 (subdomain of b.example.com), 4 (subdomain of bad.net) and
    # 5 (exact) drop; 6 is NOT a subdomain ('notbad.net' has no '.bad.net'
    # suffix label boundary) and must survive
    assert kept_list == [2, 3, 6]
    bdf = spark.createDataFrame([(b,) for b in blocked], ["domain"])
    kept_df = sorted(r["doc_id"] for r in
                     blocklist_filter(df, bdf).collect())
    assert kept_df == kept_list


def test_classifier_calibration_loop(spark):
    """The audit loop: train the quality classifier, score held-out docs,
    bin the scores with calibration_bins — on separable data the bins
    must be sharp (high-confidence bins accurate, total ECE small)."""
    from feldman_spark.pipeline.classify import (
        score_quality, train_quality_classifier)
    from feldman_spark.pipeline.profile import calibration_bins

    good = [(i, "the quick brown fox jumps over the lazy dog again", 1.0)
            for i in range(60)]
    bad = [(100 + i, "zzz qqq xxx kkk vvv jjj www yyy", 0.0)
           for i in range(60)]
    df = spark.createDataFrame(good + bad, ["doc_id", "text", "label"])
    model = train_quality_classifier(df, max_iter=25)
    scored = score_quality(df, model)
    bins = calibration_bins(
        scored.select(F.col("quality_prob").alias("score"),
                      F.col("label").cast("int").alias("label")),
        "score", "label", buckets=10).collect()
    assert bins  # at least one populated bin
    ece = sum(r["ece_contrib"] for r in bins)
    assert ece < 0.1
    top = [r for r in bins if r["bucket"] == 9]
    if top:
        assert top[0]["accuracy"] >= 0.9


# ---------------------------------------------------------------------------
# round-8b operators: C4 rules, novelty, conversion lag, anomaly, EWMA
# ---------------------------------------------------------------------------

def test_c4_stats_line_and_doc_rules(spark):
    from feldman_spark.pipeline.text import c4_stats

    docs = spark.createDataFrame(
        [
            # 2 kept lines of 3, >=3 sentences, clean -> keep
            (1, "this line is long enough.\nshort one.\n"
                "another line that is long enough too!"),
            # brace disqualifies the doc even with good lines
            (2, "this line is long enough { code }.\n"
                "another good long line here it is.\n"
                "a third good long line right here."),
            # lorem ipsum placeholder
            (3, "lorem ipsum dolor sit amet something.\n"
                "more words that make it long enough.\n"
                "and a third sentence for the count."),
            # only 2 sentences -> drop
            (4, "one good long line ends here.\nsecond good long line ends."),
            # no kept lines (no terminal punctuation)
            (5, "no punctuation on this line at all\nnor on this one either"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in c4_stats(docs).collect()}
    assert out[1]["n_lines"] == 3 and out[1]["n_kept_lines"] == 2
    assert out[1]["keep"] is True
    # kept_char_frac: kept lines' chars over total chars (incl. newlines)
    kept = len("this line is long enough.") + len(
        "another line that is long enough too!")
    total = len("this line is long enough.\nshort one.\n"
                "another line that is long enough too!")
    assert abs(out[1]["kept_char_frac"] - round(kept / total, 6)) < 1e-9
    assert out[2]["keep"] is False           # brace
    assert out[3]["keep"] is False           # lorem ipsum
    assert out[4]["n_sentences"] == 2 and out[4]["keep"] is False
    assert out[5]["n_kept_lines"] == 0 and out[5]["keep"] is False


def test_shingle_novelty_first_seen_semantics(spark):
    from feldman_spark.pipeline.dedup import shingle_novelty

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),      # 2 distinct 5-grams, both first here
            (2, "a b c d e f"),      # exact copy -> novelty 0
            (3, "x y z w v u"),      # all new
            (4, "a b c d e zzz"),    # 1 of 2 shingles first seen in doc 1
            (5, "too short"),        # <5 words -> 0 shingles, novelty 1.0
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in shingle_novelty(docs, k=5).collect()}
    assert (out[1]["n_shingles"], out[1]["n_novel"]) == (2, 2)
    assert out[1]["novelty_frac"] == 1.0
    assert (out[2]["n_shingles"], out[2]["n_novel"]) == (2, 0)
    assert out[3]["novelty_frac"] == 1.0
    assert (out[4]["n_shingles"], out[4]["n_novel"]) == (2, 1)
    assert out[4]["novelty_frac"] == 0.5
    assert (out[5]["n_shingles"], out[5]["novelty_frac"]) == (0, 1.0)

    with pytest.raises(ValueError, match="k must be"):
        shingle_novelty(docs, k=0)


def test_conversion_lag_funnel_semantics(spark):
    import datetime as dt

    from feldman_spark.ops.windows import conversion_lag

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(uid, secs, typ):
        return (uid, t0 + dt.timedelta(seconds=secs), typ)

    events = spark.createDataFrame(
        [
            ev(1, 0, "view"), ev(1, 10, "purchase"),       # lag 10
            ev(2, 5, "view"), ev(2, 35, "purchase"),       # lag 30
            ev(3, 0, "purchase"), ev(3, 9, "view"),        # purchase BEFORE
                                                           # view: no convert
            ev(4, 0, "view"),                              # never converts
        ],
        ["user_id", "ts", "event_type"],
    )
    row = conversion_lag(
        events, "user_id", "ts",
        F.col("event_type") == "view",
        F.col("event_type") == "purchase",
        quantiles=(0.5,),
    ).collect()[0]
    assert row["n_start"] == 4 and row["n_converted"] == 2
    assert row["conv_rate"] == 0.5
    assert row["avg_lag_s"] == 20.0 and row["p50_lag_s"] == 20.0

    with pytest.raises(ValueError, match="quantile"):
        conversion_lag(events, "user_id", "ts", F.lit(True), F.lit(True),
                       quantiles=())


def test_rolling_anomaly_flags_spike_not_baseline(spark):
    import datetime as dt

    from feldman_spark.ops.windows import rolling_anomaly

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    # 11 hourly buckets: counts 4,5,4,5,... then one 50-event spike
    for h in range(11):
        n = 50 if h == 10 else (4 if h % 2 == 0 else 5)
        for i in range(n):
            rows.append(("a", t0 + dt.timedelta(hours=h, seconds=i)))
    df = spark.createDataFrame(rows, ["k", "ts"])
    out = {r["bucket"].hour: r for r in rolling_anomaly(
        df, ["k"], "ts", bucket="hour", lookback=24, z_thresh=3.0,
        min_periods=3).collect()}
    assert len(out) == 11
    assert out[0]["z"] is None and out[0]["is_anomaly"] is False  # no history
    assert out[10]["is_anomaly"] is True and out[10]["z"] > 3.0
    assert all(not out[h]["is_anomaly"] for h in range(10))

    with pytest.raises(ValueError, match="lookback"):
        rolling_anomaly(df, ["k"], "ts", lookback=0)


def test_rolling_anomaly_flat_history_gives_null_z(spark):
    import datetime as dt

    from feldman_spark.ops.windows import rolling_anomaly

    t0 = dt.datetime(2024, 1, 1)
    rows = [("a", t0 + dt.timedelta(hours=h, seconds=i))
            for h in range(5) for i in range(3)]   # constant 3/hour
    df = spark.createDataFrame(rows, ["k", "ts"])
    out = rolling_anomaly(df, ["k"], "ts", min_periods=3).collect()
    assert all(r["z"] is None for r in out)        # sd == 0 everywhere
    assert all(r["is_anomaly"] is False for r in out)


def test_ewma_last_matches_sequential_fold(spark):
    from feldman_spark.ops.windows import ewma_last

    vals = [3.0, 1.0, 4.0, 1.5, 9.0]
    rows = [(7, i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, ["k", "seq", "v"])
    got = ewma_last(df, ["k"], ["seq"], "v", alpha=0.25).collect()[0]
    acc = vals[0]
    for x in vals[1:]:
        acc = 0.25 * x + (1.0 - 0.25) * acc
    assert got["n_events"] == 5
    assert got["ewma"] == round(acc, 6)

    # order column actually drives the fold
    df_rev = spark.createDataFrame(
        [(7, len(vals) - i, v) for i, v in enumerate(vals)],
        ["k", "seq", "v"])
    got_rev = ewma_last(df_rev, ["k"], ["seq"], "v", alpha=0.25).collect()[0]
    acc_rev = vals[-1]
    for x in vals[-2::-1]:
        acc_rev = 0.25 * x + 0.75 * acc_rev
    assert got_rev["ewma"] == round(acc_rev, 6)

    with pytest.raises(ValueError, match="alpha"):
        ewma_last(df, ["k"], ["seq"], "v", alpha=0.0)


# ---------------------------------------------------------------------------
# product quantization (PQ) ANN
# ---------------------------------------------------------------------------

def test_pq_lossless_when_codebook_covers_subvectors(spark):
    """With every subvector drawn from <= k distinct values, k-means
    converges to those exact values: encoding is lossless, decode
    reconstructs exactly, and ADC distances equal true squared L2."""
    import numpy as np

    from feldman_spark.pipeline.similarity import (
        pq_decode, pq_encode, pq_topk, pq_train)

    rng = np.random.RandomState(6)
    vals = rng.randn(4, 2)                       # 4 distinct 2-d subvectors
    picks = rng.randint(0, 4, size=(40, 4))      # 40 vectors, m=4 subspaces
    X = np.concatenate([vals[picks[:, s]] for s in range(4)], axis=1)
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(40)],
        "vec_id bigint, embedding array<double>")
    books = pq_train(df, m=4, k=4, iters=4, sample=40)
    enc = pq_encode(df, books)
    codes = {r["vec_id"]: list(r["codes"]) for r in enc.collect()}
    recon = pq_decode([codes[i] for i in range(40)], books)
    assert np.allclose(recon, X)
    q = X[7]
    top = pq_topk(enc, books, q, k=5).collect()
    d2 = ((X - q[None, :]) ** 2).sum(axis=1)
    expect = sorted(range(40), key=lambda i: (round(d2[i], 6), i))[:5]
    assert [r["vec_id"] for r in top] == expect
    assert abs(top[0]["adc_dist"]) < 1e-9       # query is vector 7 itself


def test_pq_recall_floor_on_embeddings(spark):
    import numpy as np

    from feldman_spark.pipeline.similarity import (
        pq_encode, pq_topk, pq_train)

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    rows = emb.collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    q = X[ids == 0][0]
    d2 = ((X - q[None, :]) ** 2).sum(axis=1)
    exact10 = set(ids[np.lexsort((ids, d2))[:10]].tolist())

    books = pq_train(emb, m=8, k=32, iters=6, sample=500)
    assert books.shape == (8, 32, 8)
    top = pq_topk(pq_encode(emb, books), books, q, k=10).collect()
    got = {r["vec_id"] for r in top}
    assert 0 in got                             # the query's own code wins
    recall = len(got & exact10) / 10
    assert recall >= 0.5, f"PQ recall@10 {recall} below floor"
    # ranks are dense and deterministic
    assert [r["rank"] for r in top] == list(range(1, 11))


def test_pq_validation_errors(spark):
    import numpy as np

    from feldman_spark.pipeline.similarity import pq_topk, pq_train

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "vec_id bigint, embedding array<double>")
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(df, m=2, k=2, sample=10)
    with pytest.raises(ValueError, match="m >= 1 and k >= 2"):
        pq_train(df, m=1, k=1)
    books = np.zeros((2, 4, 2))
    enc = spark.createDataFrame(
        [(1, [0, 0])], "vec_id bigint, codes array<bigint>")
    with pytest.raises(ValueError, match="query dim"):
        pq_topk(enc, books, [1.0, 2.0, 3.0])


def test_ivf_pq_full_probe_equals_pq_and_prunes(spark):
    """nprobe >= num_centroids scans every bucket -> EXACTLY pq_topk;
    small nprobe scans a subset and still finds the query's own bucket."""
    from feldman_spark.pipeline.similarity import (
        ivf_build, ivf_pq_topk, pq_encode, pq_topk, pq_train)

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    assigned, centroids = ivf_build(emb, num_centroids=8, iters=3)
    books = pq_train(emb, m=8, k=16, iters=4, sample=500)
    index = pq_encode(assigned, books, carry=["cid"])
    index.cache()
    try:
        full = ivf_pq_topk(index, centroids, books, q, k=10, nprobe=8)
        pure = pq_topk(index.drop("cid"), books, q, k=10)
        assert [(r["vec_id"], r["adc_dist"]) for r in full.collect()] == \
               [(r["vec_id"], r["adc_dist"]) for r in pure.collect()]
        pruned = ivf_pq_topk(index, centroids, books, q, k=10, nprobe=2)
        got = {r["vec_id"] for r in pruned.collect()}
        assert 0 in got        # query's own bucket is always probed
        with pytest.raises(ValueError, match="nprobe"):
            ivf_pq_topk(index, centroids, books, q, nprobe=0)
    finally:
        index.unpersist()


# ---------------------------------------------------------------------------
# robots.txt (RFC 9309)
# ---------------------------------------------------------------------------

ROBOTS = """# example policy
User-agent: examplebot
Disallow: /private/
Allow: /private/public*

User-agent: otherbot
User-agent: thirdbot
Disallow: /

User-agent: *
Disallow: /tmp/
Disallow: /*.pdf$
Allow: /tmp/ok
"""


def test_parse_robots_group_selection_and_precedence():
    from feldman_spark.pipeline.web import parse_robots, robots_allowed

    # longest-prefix agent match wins; case-insensitive
    r = parse_robots(ROBOTS, "ExampleBot/1.2")
    assert robots_allowed("/private/secret", r) is False
    assert robots_allowed("/private/public/x", r) is True  # Allow longer
    assert robots_allowed("/anything", r) is True          # no match=allow
    # stacked user-agent lines share one group
    for ua in ("otherbot", "thirdbot (+http://x)"):
        r2 = parse_robots(ROBOTS, ua)
        assert robots_allowed("/", r2) is False
    # * fallback group with wildcard + $ anchor
    star = parse_robots(ROBOTS, "unknownbot")
    assert robots_allowed("/tmp/x", star) is False
    assert robots_allowed("/tmp/ok/file", star) is True    # Allow longer
    assert robots_allowed("/a/doc.pdf", star) is False     # $ anchored
    assert robots_allowed("/a/doc.pdfx", star) is True
    # empty / missing robots allows everything
    assert robots_allowed("/x", parse_robots("", "any")) is True
    assert robots_allowed("/x", parse_robots("User-agent: *\nDisallow:",
                                             "any")) is True


def test_robots_filter_through_spark(spark):
    from feldman_spark.pipeline.web import robots_filter

    pages = spark.createDataFrame(
        [
            (1, "https://a.example.com/tmp/x"),
            (2, "https://a.example.com/ok"),
            (3, "HTTP://A.EXAMPLE.COM/a/doc.pdf"),   # host case-folded
            (4, "https://norobots.example.com/tmp/x"),
        ],
        ["page_id", "url"],
    )
    robots = spark.createDataFrame(
        [("a.example.com", ROBOTS)], ["host", "robots_txt"])
    out = {r["page_id"]: r[ "crawl_allowed"] for r in
           robots_filter(pages, robots, user_agent="unknownbot").collect()}
    assert out == {1: False, 2: True, 3: False, 4: True}


def test_fix_mojibake_repairs_cp1252_artifacts(spark):
    from feldman_spark.pipeline.text import (
        MOJIBAKE_TABLE, fix_mojibake, mojibake_chars)

    # forward-corrupt real text exactly the way crawls do
    def corrupt(s):
        return s.encode("utf-8").decode("cp1252", errors="replace")

    clean1 = "don’t — “quoted” … café señor"
    bad1 = clean1.encode("utf-8")
    # decode byte-runs per char so cp1252-undefined bytes fall to latin-1
    bad1 = "".join(
        (ch.encode("utf-8").decode("cp1252")
         if _cp1252_ok(ch) else ch.encode("utf-8").decode("latin-1"))
        if ord(ch) > 127 else ch
        for ch in clean1)
    rows = [(1, bad1), (2, "plain ascii stays untouched"), (3, None)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in df.select(
        "doc_id",
        fix_mojibake(F.col("text")).alias("fixed"),
        mojibake_chars(F.col("text")).alias("n_bad")).collect()}
    assert out[1]["fixed"] == clean1
    assert out[1]["n_bad"] > 0
    assert out[2]["fixed"] == "plain ascii stays untouched"
    assert out[2]["n_bad"] == 0
    assert out[3]["fixed"] is None and out[3]["n_bad"] is None
    # the table is longest-first so 3-byte artifacts never half-repair
    assert all(len(MOJIBAKE_TABLE[i][0]) >= len(MOJIBAKE_TABLE[i + 1][0])
               for i in range(len(MOJIBAKE_TABLE) - 1))


def _cp1252_ok(ch):
    try:
        ch.encode("utf-8").decode("cp1252")
        return True
    except UnicodeDecodeError:
        return False


def test_script_profile_fractions_and_dominant(spark):
    from feldman_spark.pipeline.text import script_profile

    rows = [
        (1, "hello world, just English here."),
        (2, "Привет мир from mixed Кириллица text"),
        (3, "日本語のテキストです 중간에 한국어"),
        (4, "مرحبا بالعالم"),
        (5, "1234 .,!? \n\t"),          # no letters at all
        (6, "नमस्ते दुनिया"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    prof = script_profile(F.col("text"))
    out = {r["doc_id"]: r for r in df.select(
        "doc_id", *[v.alias(k) for k, v in prof.items()]).collect()}
    assert out[1]["dominant_script"] == "latin"
    assert out[1]["latin_frac"] == 1.0 and out[1]["cjk_frac"] == 0.0
    assert out[2]["dominant_script"] == "cyrillic"
    assert 0 < out[2]["latin_frac"] < out[2]["cyrillic_frac"]
    assert out[3]["dominant_script"] == "cjk" and out[3]["cjk_frac"] == 1.0
    assert out[4]["dominant_script"] == "arabic"
    assert out[5]["dominant_script"] == "other"
    assert all(out[5][f"{s}_frac"] == 0.0 for s in
               ("latin", "cyrillic", "greek", "arabic", "devanagari", "cjk"))
    assert out[6]["dominant_script"] == "devanagari"
    # fractions over LETTERS sum to ~1 whenever letters exist
    for i in (1, 2, 3, 4, 6):
        s = sum(out[i][f"{n}_frac"] for n in
                ("latin", "cyrillic", "greek", "arabic", "devanagari", "cjk"))
        assert abs(s - 1.0) < 0.01


def test_script_profile_excludes_multiply_divide_signs(spark):
    from feldman_spark.pipeline.text import script_profile

    # U+00D7 (×) and U+00F7 (÷) are math signs inside Latin-1, not
    # letters — they must count in NO script (letters-only denominator)
    df = spark.createDataFrame([(1, "ab ×÷"), (2, "×÷")], ["doc_id", "text"])
    prof = script_profile(F.col("text"))
    out = {r["doc_id"]: r for r in df.select(
        "doc_id", *[v.alias(k) for k, v in prof.items()]).collect()}
    assert out[1]["latin_frac"] == 1.0          # only a,b counted
    assert out[2]["dominant_script"] == "other"  # signs alone = no letters


def test_script_profile_single_pass_twin(spark):
    """with_script_profile (one vectorized codepoint pass) must be
    bit-identical to script_profile (six regex scans) — same fracs,
    same rounding, same dominant tie-breaks, same null semantics."""
    from feldman_spark.pipeline.text import script_profile, with_script_profile

    rows = [
        (1, "hello world, just English here."),
        (2, "Привет мир from mixed Кириллица text"),
        (3, "日本語のテキストです 중간에 한국어"),
        (4, "مرحبا بالعالم ×÷"),          # signs excluded from latin
        (5, "1234 .,!? \n\t"),            # no letters at all
        (6, "नमस्ते दुनिया"),
        (7, ""),                           # empty
        (8, None),                         # null text
        (9, "ab Γα ab Γα"),                # exact tie -> first-in-table
        (10, "emoji 😀🚀 outside all ranges"),   # non-BMP codepoints
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    prof = script_profile(F.col("text"))
    ref = {r["doc_id"]: r.asDict() for r in df.select(
        "doc_id", *[v.alias(k) for k, v in prof.items()]).collect()}
    got = {r["doc_id"]: r.asDict() for r in with_script_profile(
        df, F.col("text")).drop("text").collect()}
    assert ref == got
    # the UDF must appear exactly once in the plan (struct computed
    # once, fields projected from it — not one UDF per output column)
    plan = with_script_profile(df, F.col("text"))._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1


def test_robots_query_string_matching():
    from feldman_spark.pipeline.web import parse_robots, robots_allowed

    rules = parse_robots(
        "User-agent: *\nDisallow: /*?sessionid=\nDisallow: /search?q=\n", "*")
    # reference evaluators (google/robotstxt) match path + '?' + query
    assert robots_allowed("/page?sessionid=abc", rules) is False
    assert robots_allowed("/search?q=x", rules) is False
    assert robots_allowed("/page", rules) is True
    # '?' in a pattern is a literal octet, never a wildcard
    assert robots_allowed("/page?other=1&sessionid=2", rules) is True


def test_compile_robots_rules_equivalence():
    from feldman_spark.pipeline.web import (compile_robots_rules,
                                            parse_robots, robots_allowed)

    body = ("User-agent: *\nDisallow: /private\nAllow: /private/public\n"
            "Disallow: /*.pdf$\nAllow: /t*e\nDisallow: /ti*\n")
    raw = parse_robots(body, "*")
    compiled = compile_robots_rules(raw)
    for path in ("/private/x", "/private/public/y", "/a/doc.pdf",
                 "/a/doc.pdfx", "/tiex", "/other"):
        assert robots_allowed(path, raw) == robots_allowed(path, compiled)


def test_robots_filter_matches_query_string(spark):
    from feldman_spark.pipeline.web import robots_filter

    pages = spark.createDataFrame(
        [(1, "http://q.example.com/page?sessionid=7"),
         (2, "http://q.example.com/page"),
         (3, "http://q.example.com?sessionid=7")],   # no path at all
        ["page_id", "url"])
    robots = spark.createDataFrame(
        [("q.example.com", "User-agent: *\nDisallow: /*?sessionid=\n")],
        ["host", "robots_txt"])
    out = {r["page_id"]: r["crawl_allowed"]
           for r in robots_filter(pages, robots).collect()}
    assert out == {1: False, 2: True, 3: False}


def _phash_media_rows():
    import numpy as np

    from feldman_spark.pipeline.codecs import encode_png, resize_pixels

    w, h = 24, 16
    yy, xx = np.mgrid[0:h, 0:w]
    base = np.clip(120 + 90 * np.sin(xx / 4.0) + 50 * np.cos(yy / 3.0)
                   + 60 * np.sin(xx * yy / 25.0), 0, 255).astype(np.uint8)
    base = np.repeat(base[:, :, None], 3, axis=2)
    other = np.clip(120 - 90 * np.cos(xx / 2.0) + 60 * np.sin(yy / 5.0),
                    0, 255).astype(np.uint8)
    other = np.repeat(other[:, :, None], 3, axis=2)
    return [
        (0, "image", "image/png", w, h, None,
         encode_png(base.tobytes(), w, h, 3)),
        (1, "image", "image/png", 2 * w, 2 * h, None,
         encode_png(resize_pixels(base.tobytes(), w, h, 3, 2 * w, 2 * h),
                    2 * w, 2 * h, 3)),
        (2, "image", "image/png", w, h, None,
         encode_png(other.tobytes(), w, h, 3)),
        (3, "audio", "audio/wav", None, None, 100, b"RIFFxxxxWAVE"),
        (4, "image", "image/webp", 4, 4, None, b"not an image"),
    ]


def test_image_dhash_scale_invariant_and_drops_bad_rows(spark):
    from feldman_spark.pipeline.multimodal import image_dhash, media_table

    hashed = {r["media_id"]: r["dhash"] for r in
              image_dhash(media_table(spark, _phash_media_rows())).collect()}
    # non-image and undecodable rows dropped per the decode contract
    assert set(hashed) == {0, 1, 2}
    # 2x bilinear upscale hashes identically (scale invariance)
    assert hashed[0] == hashed[1]
    # a different picture differs in many bits
    assert bin((hashed[0] ^ hashed[2]) & ((1 << 64) - 1)).count("1") > 8


def test_phash_dedup_pairs_and_pigeonhole(spark):
    from feldman_spark.pipeline.multimodal import media_table, phash_dedup

    pairs = phash_dedup(media_table(spark, _phash_media_rows()),
                        max_hamming=3, bands=4).collect()
    assert {(r["id_a"], r["id_b"], r["hamming"]) for r in pairs} == {(0, 1, 0)}
    # precomputed path: hand-built hashes at known hamming distances;
    # bands=4 must find EVERY pair with hamming < 4 (pigeonhole)
    hashes = spark.createDataFrame(
        [(10, 0x0123456789ABCDE8), (11, 0x0123456789ABCDEF),  # hamming 3
         (12, 0x0123456789ABCDE8), (13, -1)],                 # 0 and far
        ["media_id", "dhash"])
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in
           phash_dedup(hashes, max_hamming=3, bands=4,
                       precomputed=True).collect()}
    assert got == {(10, 11): 3, (10, 12): 0, (11, 12): 3}


def test_phash_dedup_warns_above_pigeonhole_regime(spark):
    import warnings

    from feldman_spark.pipeline.multimodal import media_table, phash_dedup

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        phash_dedup(media_table(spark, _phash_media_rows()),
                    max_hamming=4, bands=4)
        assert any("probabilistically" in str(x.message) for x in w)


def test_media_dedup_incremental_store_and_idempotency(spark):
    """Incremental media near-dup: bootstrap -> store; a re-crawled
    variant drops against the store (exact bit_count verify); a fresh
    item survives; re-ingesting any prior batch keeps NOTHING
    (idempotent); undecodable payloads are excluded from kept."""
    from feldman_spark.pipeline.multimodal import (media_dedup_incremental,
                                                   media_table)

    rows = _phash_media_rows()
    batch_a = media_table(spark, [rows[0]])            # base picture
    # re-crawl: upscale variant of base + a genuinely different picture
    # + an undecodable payload
    batch_b = media_table(spark, [rows[1], rows[2], rows[4]])

    kept_a, store = media_dedup_incremental(batch_a, None)
    assert [r["media_id"] for r in kept_a.collect()] == [0]
    store_rows = store.collect()
    assert {r["media_id"] for r in store_rows} == {0}
    assert len(store_rows) == 4                        # 4 bands x 1 item

    kept_b, delta_b = media_dedup_incremental(batch_b, store)
    # variant of base drops against the store; undecodable excluded
    assert [r["media_id"] for r in kept_b.collect()] == [2]
    assert {r["media_id"] for r in delta_b.collect()} == {2}

    # idempotency: both prior batches re-ingested against the grown
    # store keep nothing
    grown = store.unionByName(delta_b)
    for batch in (batch_a, batch_b):
        kept, delta = media_dedup_incremental(batch, grown)
        assert kept.count() == 0 and delta.count() == 0


def test_media_dedup_incremental_precomputed_audio(spark):
    """The precomputed path ingests audio fingerprints through the SAME
    store machinery (hash_col='afp'): a fingerprint within max_hamming
    of a stored one drops, a far one survives."""
    from feldman_spark.pipeline.multimodal import media_dedup_incremental

    first = spark.createDataFrame([(0, 0x0123456789ABCDEF)],
                                  ["media_id", "afp"])
    kept_a, store = media_dedup_incremental(
        first, None, hash_col="afp", max_hamming=3, bands=8,
        precomputed=True)
    assert kept_a.count() == 1
    second = spark.createDataFrame(
        [(10, 0x0123456789ABCDE8),   # hamming 3 from stored -> drops
         (11, -1)],                  # far -> kept
        ["media_id", "afp"])
    kept_b, delta = media_dedup_incremental(
        second, store, hash_col="afp", max_hamming=3, bands=8,
        precomputed=True)
    assert [r["media_id"] for r in kept_b.collect()] == [11]
    assert {r["media_id"] for r in delta.collect()} == {11}


def test_bpe_udf_twin_equals_codegen_fold(spark):
    from feldman_spark.pipeline.text import (bpe_apply_merges,
                                             bpe_apply_merges_udf,
                                             bpe_train_merges)

    corpus = spark.createDataFrame(
        [(1, "low lower lowest newer new news"),
         (2, "hull hull hull llll wide wider widest"),
         (3, "banana bandana ban nab"),
         ], ["doc_id", "text"])
    merges = bpe_train_merges(corpus, n_merges=6)
    words = spark.createDataFrame(
        [(w,) for w in
         ["low", "lower", "lowest", "llll", "banana", "bandana",
          "newer", "hull", "widest", "zzz", "x", ""]], ["word"])
    enc = bpe_apply_merges_udf(merges)
    out = words.select(
        "word",
        bpe_apply_merges(F.col("word"), merges).alias("fold"),
        enc(F.col("word")).alias("udf"),
    ).collect()
    for r in out:
        assert r["fold"] == r["udf"], (r["word"], r["fold"], r["udf"])


def test_bpe_udf_flat_plan_at_vocab_scale(spark):
    from feldman_spark.pipeline.text import bpe_apply_merges_udf

    # a synthetic 32k-entry merge list: the fold form would compile 32k
    # nested aggregate expressions; the UDF form must stay one flat
    # node and actually execute
    merges = [f"{chr(97 + i % 26)} {chr(97 + (i // 26) % 26)}"
              for i in range(32000)]
    enc = bpe_apply_merges_udf(merges)
    df = spark.createDataFrame(
        [("aa",), ("abab",), ("zzzz",)], ["word"]).select(
        "word", enc(F.col("word")).alias("bpe"))
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan) < 20_000          # flat: no per-merge expression blowup
    rows = {r["word"]: r["bpe"] for r in df.collect()}
    # "a a" is merge rank 0, then "aa a" etc. exist among synthetic pairs
    assert rows["zzzz"].count(" ") <= 3
    assert all(v for v in rows.values())


def _tone_wav_rows():
    import io
    import wave

    import numpy as np

    def tone(freqs, rate=8000, amp=0.5):
        parts = [np.sin(2 * np.pi * f * np.arange(rate // 4) / rate) * amp
                 for f in freqs]
        s = (np.concatenate(parts) * 32767).astype(np.int16)
        buf = io.BytesIO()
        w = wave.open(buf, "wb")
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(s.tobytes())
        w.close()
        return buf.getvalue()

    a = [440, 660, 550, 880, 330, 770, 520, 660]
    b = [220, 990, 260, 700, 880, 250, 610, 430]
    return [
        (0, "audio", "audio/wav", None, None, 2000, tone(a)),
        (1, "audio", "audio/wav", None, None, 2000, tone(a, amp=0.25)),
        (2, "audio", "audio/wav", None, None, 2000, tone(b)),
        (3, "image", "image/png", 4, 4, None, b"not audio"),
        (4, "audio", "audio/wav", None, None, 100, b"RIFFjunk"),
    ]


def test_audio_fingerprint_invariance_and_drop_contract(spark):
    from feldman_spark.pipeline.multimodal import (audio_fingerprint,
                                                   media_table)

    fps = {r["media_id"]: r["afp"] for r in
           audio_fingerprint(media_table(spark, _tone_wav_rows())).collect()}
    # non-audio and undecodable rows dropped
    assert set(fps) == {0, 1, 2}

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    # amplitude-scaled copy: near-identical (quantization ties in empty
    # bands only); different melody: far
    assert ham(fps[0], fps[1]) <= 7
    assert ham(fps[0], fps[2]) > 16


def test_audio_fingerprint_pairs_via_banded_join(spark):
    from feldman_spark.pipeline.multimodal import (audio_fingerprint,
                                                   media_table, phash_dedup)

    fp = audio_fingerprint(media_table(spark, _tone_wav_rows()))
    pairs = {(r["id_a"], r["id_b"]) for r in
             phash_dedup(fp, max_hamming=7, bands=8, hash_col="afp",
                         precomputed=True).collect()}
    assert pairs == {(0, 1)}


def test_audio_fingerprint_validates_geometry(spark):
    import pytest as _pytest

    from feldman_spark.pipeline.multimodal import (audio_fingerprint,
                                                   media_table)

    with _pytest.raises(ValueError, match="segments"):
        audio_fingerprint(media_table(spark, _tone_wav_rows()),
                          segments=5, bands=8)


def test_corpus_near_overlap_matches_reworded_copies(spark):
    from feldman_spark.pipeline.dedup import corpus_near_overlap

    # long enough that the reworded copy's Jaccard (~0.9) survives the
    # fixed 9-hash/3-band LSH family deterministically — a 12-word doc
    # at Jaccard 0.7 has a ~26% per-family miss probability and this
    # family happened to miss it
    words = ("alpha bravo charlie delta echo foxtrot golf hotel india "
             "juliet kilo lima mike november oscar papa quebec romeo "
             "sierra tango uniform victor whiskey xray yankee zulu "
             "one two three four").split()
    mk = " ".join(words * 2)
    other = "completely different content about spark physical plans here"
    a = spark.createDataFrame(
        [(1, mk), (2, other), (3, "tiny")], ["doc_id", "text"])
    b = spark.createDataFrame(
        [(10, mk + " with a small postscript"),      # near-dup of 1
         (11, "unrelated text about sediment core depths and splices")],
        ["doc_id", "text"])
    row = corpus_near_overlap(a, b, k=3, threshold=0.2).collect()[0]
    assert (row["n_a"], row["n_b"]) == (3, 2)
    assert row["n_a_matched"] == 1 and row["n_b_matched"] == 1
    assert row["frac_a_matched"] == round(1 / 3, 6)
    # disjoint corpora -> zero matches, fractions well-defined
    row2 = corpus_near_overlap(
        a.filter(F.col("doc_id") == 2), b, k=3).collect()[0]
    assert row2["n_a_matched"] == 0 and row2["frac_a_matched"] == 0.0


# ---------------------------------------------------------------------------
# round-10b: containment_pairs / readability / top_ngrams
# ---------------------------------------------------------------------------

def test_containment_pairs_asymmetric(spark):
    from feldman_spark.pipeline.dedup import containment_pairs
    from pyspark.sql import functions as F

    corpus = spark.createDataFrame(
        [(0, "q w e r t y u i o p a s d f g h j k l"),
         (1, "one two three four five six seven eight nine ten"),
         (2, "zz xx cc vv bb nn mm")],
        "doc_id bigint, text string")
    # probe 10 = a verbatim 7-word quote from doc 0 -> containment 1.0;
    # probe 11 = 5 words of doc 1 + 5 novel -> grams(A)=6, shared=1
    probe = spark.createDataFrame(
        [(10, "q w e r t y u"),
         (11, "one two three four five aa bb cc dd ee")],
        "doc_id bigint, text string")
    got = {(r["probe_doc"], r["corpus_doc"]): r["containment"]
           for r in containment_pairs(probe, corpus, k=5,
                                      threshold=0.1).collect()}
    assert got[(10, 0)] == 1.0
    assert got[(11, 1)] == round(1 / 6, 4)
    # asymmetry: the quote covers ~1/3 of doc 0's grams, so the reverse
    # direction would be far below 1.0 — and symmetric Jaccard is 3/15
    assert (10, 2) not in got


def test_containment_pairs_max_df_is_lower_bound(spark):
    from feldman_spark.pipeline.dedup import containment_pairs

    # 'a b c d e' appears in EVERY corpus doc (boilerplate); with
    # max_df=2 that stop-gram stops contributing evidence, so the
    # probe's containment drops from 1.0 to 0 pairs — never inflates
    corpus = spark.createDataFrame(
        [(i, "a b c d e tail%d x y z w" % i) for i in range(4)],
        "doc_id bigint, text string")
    probe = spark.createDataFrame([(9, "a b c d e")],
                                  "doc_id bigint, text string")
    full = containment_pairs(probe, corpus, k=5, threshold=0.5).count()
    capped = containment_pairs(probe, corpus, k=5, threshold=0.5,
                               max_df=2).count()
    assert full == 4 and capped == 0


def test_containment_short_probe_emits_nothing(spark):
    from feldman_spark.pipeline.dedup import containment_pairs

    corpus = spark.createDataFrame([(0, "a b c d e f g")],
                                   "doc_id bigint, text string")
    probe = spark.createDataFrame([(1, "a b c")],  # < k words
                                  "doc_id bigint, text string")
    assert containment_pairs(probe, corpus, k=5, threshold=0.0).count() == 0


def test_readability_known_values(spark):
    from feldman_spark.pipeline.text import readability
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(0, "The cat sat. The dog ran!"),
         (1, ""),
         (2, "xyzzy crwth")],  # no vowels -> 0 syllables
        "doc_id bigint, text string")
    r = readability(F.col("text"))
    rows = {row["doc_id"]: row for row in df.select(
        "doc_id", *[v.alias(k) for k, v in r.items()]).collect()}
    assert (rows[0]["n_words"], rows[0]["n_sentences"],
            rows[0]["n_syllables"]) == (6, 2, 6)
    # 206.835 - 1.015*(6/2) - 84.6*(6/6) = 119.19
    assert rows[0]["flesch"] == round(206.835 - 1.015 * 3 - 84.6, 4)
    assert rows[1]["n_words"] == 0 and rows[1]["flesch"] is None
    assert rows[2]["n_syllables"] == 2  # x-y-zz-y: two 'y' runs; crwth has none
    assert rows[2]["n_sentences"] == 1  # no terminator counts as one


def test_top_ngrams_ordering_and_doc_freq(spark):
    from feldman_spark.pipeline.text import top_ngrams

    df = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b c"), (2, "b c")],
        "doc_id bigint, text string")
    rows = top_ngrams(df, "text", n=2, k=10).collect()
    got = [(r["ngram"], r["n_docs"], r["total_count"]) for r in rows]
    assert got[0] == ("a b", 2, 3)
    assert ("b c", 2, 2) in got and ("b a", 1, 1) in got
    assert got == sorted(got, key=lambda t: (-t[2], t[0]))
    # per_doc_distinct ranks by document frequency
    dd = {r["ngram"]: r["total_count"]
          for r in top_ngrams(df, "text", n=2, k=10,
                              per_doc_distinct=True).collect()}
    assert dd["a b"] == 2


def test_top_ngrams_validates_args(spark):
    import pytest
    from feldman_spark.pipeline.text import top_ngrams

    df = spark.createDataFrame([(0, "a b")], "doc_id bigint, text string")
    with pytest.raises(ValueError):
        top_ngrams(df, "text", n=0)
    with pytest.raises(ValueError):
        top_ngrams(df, "text", k=0)


def test_knn_join_matches_brute_force(spark):
    from feldman_spark.pipeline.similarity import knn_join, cosine_topk
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = (emb.filter("vec_id < 4")
          .withColumnRenamed("vec_id", "query_id"))
    corpus = emb.filter("vec_id >= 4").repartition(5)  # multi-partition path
    got = knn_join(qs, corpus, k=3).collect()
    assert len(got) == 4 * 3
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], r["cosine"]))
    for qid, rows in by_q.items():
        qv = qs.filter(F.col("query_id") == qid).first()["embedding"]
        bf = [(r["rank"], r["vec_id"], r["cosine"])
              for r in cosine_topk(corpus, qv, k=3).collect()]
        assert sorted(rows) == sorted(bf), f"query {qid} disagrees"


def test_knn_join_validates(spark):
    import pytest
    from feldman_spark.pipeline.similarity import knn_join

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.withColumnRenamed("vec_id", "query_id")
    with pytest.raises(ValueError):
        knn_join(qs, emb, k=0)
    with pytest.raises(ValueError):
        knn_join(qs.filter("query_id < 0"), emb, k=3)


def test_bootstrap_ci_brackets_mean_and_is_deterministic(spark):
    from feldman_spark.pipeline.profile import bootstrap_ci

    df = spark.range(0, 4000).selectExpr(
        "id", "CAST(5.0 + (id % 100) / 10.0 AS DOUBLE) AS x")
    r1 = bootstrap_ci(df, "x", "id", b=16).first()
    r2 = bootstrap_ci(df, "x", "id", b=16).first()
    assert r1 == r2  # deterministic across runs/partitionings
    assert r1["n_rows"] == 4000
    assert r1["boot_lo"] <= r1["mean"] <= r1["boot_hi"]
    # width sanity: se = std/sqrt(n) ~ 2.887/63.2 ~ 0.0457 -> 95% CI
    # half-width ~ 0.09; the 16-replicate quantile estimate is coarse,
    # so just require the right order of magnitude
    half = (r1["boot_hi"] - r1["boot_lo"]) / 2
    assert 0.02 < half < 0.25


def test_bootstrap_ci_validates(spark):
    import pytest
    from feldman_spark.pipeline.profile import bootstrap_ci

    df = spark.range(0, 10).selectExpr("id", "CAST(id AS DOUBLE) AS x")
    with pytest.raises(ValueError):
        bootstrap_ci(df, "x", "id", b=1)
    with pytest.raises(ValueError):
        bootstrap_ci(df, "x", "id", quantiles=(0.9, 0.1))


def test_char_entropy_known_values_and_nulls(spark):
    import math
    from feldman_spark.pipeline.text import char_entropy

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab"), (3, "aab"), (4, ""), (5, None),
         (6, "☃☃¡¡")],  # non-ASCII counted as codepoints
        "id long, t string")
    got = {r["id"]: r["e"]
           for r in df.select("id",
                              char_entropy(F.col("t")).alias("e")).collect()}
    assert got[1] == 0.0
    assert got[2] == 1.0
    assert got[3] == round(-(2/3)*math.log2(2/3) - (1/3)*math.log2(1/3), 4)
    assert got[4] is None and got[5] is None
    assert got[6] == 1.0


def test_mutual_info_dependent_independent_constant(spark):
    from feldman_spark.pipeline.profile import mutual_info

    # perfectly dependent: B = A -> MI = H(A) = 1 bit, NMI = 1
    dep = spark.createDataFrame(
        [("x", "x")] * 8 + [("y", "y")] * 8, "a string, b string")
    r = mutual_info(dep, "a", "b").collect()[0]
    assert (r["n"], r["h_a"], r["mi_bits"], r["nmi"]) == (16, 1.0, 1.0, 1.0)
    # independent uniform 2x2 -> MI = 0
    ind = spark.createDataFrame(
        [(a, b) for a in "xy" for b in "uv" for _ in range(4)],
        "a string, b string")
    r = mutual_info(ind, "a", "b").collect()[0]
    assert r["mi_bits"] == 0.0 and r["nmi"] == 0.0
    # constant column -> zero entropy -> nmi NULL, mi 0
    const = spark.createDataFrame(
        [("k", b) for b in "uvuv"], "a string, b string")
    r = mutual_info(const, "a", "b").collect()[0]
    assert r["h_a"] == 0.0 and r["mi_bits"] == 0.0 and r["nmi"] is None


def test_hashing_features_deterministic_counts(spark):
    import hashlib
    from feldman_spark.pipeline.text import hashing_features

    df = spark.createDataFrame(
        [(1, "Apple apple  banana"), (2, None), (3, "   ")],
        "doc_id long, text string")
    out = hashing_features(df, "doc_id", F.col("text"), n_buckets=64)
    got = {(r["doc_id"], r["bucket"]): r["n"] for r in out.collect()}
    bk = lambda t: int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 64
    assert got == {(1, bk("apple")): 2, (1, bk("banana")): 1}
    with pytest.raises(ValueError, match="n_buckets"):
        hashing_features(df, "doc_id", F.col("text"), n_buckets=1)


def test_winnow_fingerprints_guarantee_and_short_docs(spark):
    from feldman_spark.pipeline.text import winnow_fingerprints

    shared = "the quick brown fox jumps over"
    df = spark.createDataFrame(
        [(1, "AAAA " + shared + " lazy dog"),
         (2, "BBBBBBBB " + shared + " sleeping cat"),
         (3, "zz"),          # shorter than k -> no fingerprints
         (4, "exactly12chr")],  # one gram -> one clipped window
        "id long, t string")
    fp = winnow_fingerprints(df, "id", F.col("t"), k=12, w=4)
    rows = fp.collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], set()).add(r["fp_hash"])
    # winnowing guarantee: a shared substring of length >= k+w-1
    # yields at least one shared fingerprint hash
    assert by_id[1] & by_id[2]
    assert 3 not in by_id
    assert len(by_id[4]) == 1
    # density: fingerprints are a strict thinning of the gram stream
    n_grams_1 = len("AAAA " + shared + " lazy dog") - 12 + 1
    assert 0 < len(by_id[1]) < n_grams_1
    with pytest.raises(ValueError, match="w must be"):
        winnow_fingerprints(df, "id", F.col("t"), k=12, w=1)


def test_winnow_fingerprints_positions_are_exact(spark):
    import hashlib
    from feldman_spark.pipeline.text import winnow_fingerprints

    t = "abcdefghijklmnop"  # 16 chars, k=4 -> 13 grams, w=3 -> 11 windows
    df = spark.createDataFrame([(1, t)], "id long, t string")
    got = {(r["fp_pos"], r["fp_hash"])
           for r in winnow_fingerprints(df, "id", F.col("t"),
                                        k=4, w=3).collect()}
    h = lambda g: int(hashlib.md5(g.encode()).hexdigest()[:8], 16)
    grams = [t[i:i+4] for i in range(13)]
    keys = [h(g) * (2**31) + (i + 1) for i, g in enumerate(grams)]
    expect = set()
    for s0 in range(11):
        mk = min(keys[s0:s0+3])
        expect.add((mk % (2**31), mk // (2**31)))
    assert got == expect


def test_cooccurrence_pmi_independent_vs_associated(spark):
    from feldman_spark.pipeline.graph import cooccurrence_pmi

    # 8 groups: x,y always together (perfect association);
    # u appears in all groups (so any pair with u has pmi 0)
    rows = []
    for g in range(8):
        rows += [(g, "u")]
        if g < 4:
            rows += [(g, "x"), (g, "y")]
    df = spark.createDataFrame(rows, "g long, i string")
    got = {(r["item_a"], r["item_b"]): (r["n_groups"], r["pmi"], r["npmi"])
           for r in cooccurrence_pmi(df, "g", "i", cap=10,
                                     min_count=2).collect()}
    # x,y: P=1/2 each, P(xy)=1/2 -> pmi = log2(2) = 1, npmi = 1
    assert got[("x", "y")] == (4, 1.0, 1.0)
    # u,x: P(u)=1 -> pmi = 0; npmi = 0
    assert got[("u", "x")] == (4, 0.0, 0.0)


def test_dense_ids_rank_order_and_partition_invariance(spark):
    from feldman_spark.pipeline.training import dense_ids

    df = spark.createDataFrame(
        [("m",), ("a",), ("z",), ("a",), ("k",), (None,)], "v string")
    got = {r["v"]: r["id"]
           for r in dense_ids(df, "v", num_partitions=3).collect()}
    assert got == {"a": 1, "k": 2, "m": 3, "z": 4}
    # ids are partitioning-invariant: different partition count, same map
    assert got == {r["v"]: r["id"]
                   for r in dense_ids(df.repartition(7), "v",
                                      num_partitions=2).collect()}
    # scales past one partition: 1000 values, ids == rank in sorted order
    big = spark.range(0, 1000).selectExpr("format_string('v%04d', id) AS v")
    ids = dense_ids(big, "v", num_partitions=8).collect()
    assert sorted((r["v"], r["id"]) for r in ids) == \
        [(f"v{i:04d}", i + 1) for i in range(1000)]


def test_normalize_keys_pinned_fixture_and_nulls(spark):
    from feldman_spark.pipeline.text import NORMALIZE_FIXTURE, normalize_keys

    df = spark.createDataFrame(
        [(i, raw) for i, raw, _ in NORMALIZE_FIXTURE] + [(99, None)],
        "id long, raw string")
    got = {r["id"]: r["k"]
           for r in df.select("id",
                              normalize_keys(F.col("raw")).alias("k"))
           .collect()}
    for i, _, expected in NORMALIZE_FIXTURE:
        assert got[i] == expected, (i, got[i], expected)
    assert got[99] is None
    # the dedup-key property: composed/decomposed/case/space variants
    # of the same name collapse to ONE key
    assert len({got[1], got[2], got[3]}) == 1


def test_geo_radius_join_exact_vs_bruteforce(spark):
    import math
    from feldman_spark.ops.joins import geo_radius_join

    # deterministic pseudo-random points within +-55 lat
    pts = [((i * 7919) % 1100 / 10.0 - 55.0,
            (i * 104729) % 600 / 10.0 - 30.0) for i in range(120)]
    left = spark.createDataFrame(
        [(i, la, lo) for i, (la, lo) in enumerate(pts[:60])],
        "lid long, lat double, lon double")
    right = spark.createDataFrame(
        [(i, la, lo) for i, (la, lo) in enumerate(pts[60:])],
        "rid long, lat2 double, lon2 double")
    R = 500.0
    got = {(r["lid"], r["rid"])
           for r in geo_radius_join(left, right, R,
                                    max_abs_lat=60.0).collect()}

    def hav(a, b):
        (la1, lo1), (la2, lo2) = a, b
        rad = math.pi / 180.0
        x = (math.sin((la2 - la1) * rad / 2) ** 2
             + math.cos(la1 * rad) * math.cos(la2 * rad)
             * math.sin((lo2 - lo1) * rad / 2) ** 2)
        return 2 * 6371.0088 * math.asin(math.sqrt(x))

    expect = {(i, j) for i in range(60) for j in range(60)
              if hav(pts[i], pts[60 + j]) <= R}
    assert got == expect and expect  # non-trivial fixture
    with pytest.raises(ValueError, match="max_abs_lat"):
        geo_radius_join(left, right, R, max_abs_lat=90.0)


def test_geo_radius_join_guard_rejects_polar_rows(spark):
    from feldman_spark.ops.joins import geo_radius_join

    left = spark.createDataFrame([(1, 75.0, 0.0)],
                                 "lid long, lat double, lon double")
    right = spark.createDataFrame([(2, 74.9, 0.1)],
                                  "rid long, lat2 double, lon2 double")
    out = geo_radius_join(left, right, 100.0, max_abs_lat=60.0)
    with pytest.raises(Exception, match="exceeds max_abs_lat"):
        out.collect()


def test_with_quantile_rank_ties_and_nulls(spark):
    from feldman_spark.ops.filters import with_quantile_rank

    df = spark.createDataFrame(
        [("g", 10.0), ("g", 20.0), ("g", 20.0), ("g", 40.0), ("g", None),
         ("h", 7.0)],
        "s string, v double")
    got = [(r["s"], r["v"], r["q"])
           for r in with_quantile_rank(df, ["s"], "v").collect()]
    by = {(s, v): q for s, v, q in got}
    # percent_rank over 4 non-null rows: 10->0, 20-tie->1/3, 40->1
    assert by[("g", 10.0)] == 0.0
    assert by[("g", 20.0)] == round(1/3, 4)
    assert by[("g", 40.0)] == 1.0
    assert by[("g", None)] is None
    assert by[("h", 7.0)] == 0.0  # single-row group
    assert len(got) == 6          # no rows lost


def test_k_anonymity_summary(spark):
    from feldman_spark.pipeline.profile import k_anonymity

    rows = ([("30s", "NYC")] * 6 + [("30s", "SF")] * 3
            + [("40s", "NYC")] * 1 + [(None, None)] * 2)
    df = spark.createDataFrame(rows, "age string, city string")
    r = k_anonymity(df, ["age", "city"], k=5).collect()[0]
    assert (r["n_rows"], r["n_groups"], r["min_k"]) == (12, 4, 1)
    assert r["n_singletons"] == 1
    # below k=5: SF(3) + NYC40s(1) + nulls(2) = 6 rows
    assert r["n_below_k"] == 6 and r["frac_below_k"] == 0.5
    with pytest.raises(ValueError, match="k must be"):
        k_anonymity(df, ["age"], k=1)


def test_winnow_shared_pairs_localizes_and_caps(spark):
    from feldman_spark.pipeline.text import (winnow_fingerprints,
                                             winnow_shared_pairs)

    shared = "copied boilerplate sentence that is long enough"
    docs = [(1, "intro A. " + shared + " tail one"),
            (2, "different B " + shared + " other tail"),
            (3, "totally unrelated text with no overlap at all here")]
    df = spark.createDataFrame(docs, "doc_id long, t string")
    fp = winnow_fingerprints(df, "doc_id", F.col("t"), k=12, w=4)
    pairs = winnow_shared_pairs(fp, "doc_id", df_cap=10,
                                min_shared=1).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]
    p = pairs[0]
    assert p["n_shared"] >= 1
    # localization: first shared fingerprint sits at/after the shared
    # run start in each doc (positions are 1-based within each doc)
    assert p["a_first"] >= 1 and p["b_first"] >= 1
    assert p["b_first"] != p["a_first"]  # different offsets in each doc

    # the packed-pair-key fast path (integral ids in [0, 2^31)) and the
    # generic two-column path must agree field-for-field: negative ids
    # fail the range gate and take the generic path — same pairs, same
    # localization, after shifting back
    off = (1 << 31) + 10
    fp_neg = winnow_fingerprints(
        df.withColumn("doc_id", F.col("doc_id") - off),
        "doc_id", F.col("t"), k=12, w=4)
    neg = winnow_shared_pairs(fp_neg, "doc_id", df_cap=10,
                              min_shared=1).collect()
    assert ([(r["id_a"] + off, r["id_b"] + off, r["n_shared"],
              r["a_first"], r["b_first"]) for r in neg]
            == [(r["id_a"], r["id_b"], r["n_shared"],
                 r["a_first"], r["b_first"]) for r in pairs])
    # string ids: non-integral -> generic path, schema preserved
    fp_str = winnow_fingerprints(
        df.withColumn("doc_id", F.format_string("d%02d", "doc_id")),
        "doc_id", F.col("t"), k=12, w=4)
    srows = winnow_shared_pairs(fp_str, "doc_id", df_cap=10,
                                min_shared=1).collect()
    assert [(r["id_a"], r["id_b"], r["n_shared"]) for r in srows] == \
        [("d01", "d02", p["n_shared"])]


def test_benford_digits_known_distribution(spark):
    from feldman_spark.pipeline.profile import benford_digits

    # powers-of-2 sequence is a classic Benford follower; also checks
    # the power-of-10 knife edge (values 1.0, 100.0 land on digit 1)
    vals = [float(2 ** i) for i in range(40)] + [1.0, 100.0, 0.00001, None]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    rows = {r["digit"]: r for r in benford_digits(df, "v").collect()}
    assert set(rows) <= set(range(1, 10))
    # 2^i first digits for i in 0..39 include twelve 1s + the two
    # explicit power-of-ten values (|x| < 1e-4 and NULL excluded)
    n_total = sum(r["n"] for r in rows.values())
    assert n_total == 42
    assert rows[1]["n"] == 14
    assert rows[1]["benford_frac"] == 0.301
    # chi2 contributions are finite and non-negative
    assert all(r["chi2_contrib"] >= 0 for r in rows.values())


def test_grouped_gini_even_vs_concentrated(spark):
    from feldman_spark.pipeline.profile import grouped_gini

    rows = ([("even", 10.0)] * 10
            + [("conc", 0.0)] * 9 + [("conc", 90.0)]
            + [("tiny", 5.0)]
            + [("zero", 0.0), ("zero", 0.0)])
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r["g"]: (r["n_points"], r["gini"])
           for r in grouped_gini(df, ["g"], "v").collect()}
    assert got["even"] == (10, 0.0)
    # one row holds all mass among 10: G = 2*10*90/(10*90) - 11/10 = 0.9
    assert got["conc"] == (10, 0.9)
    assert "tiny" not in got and "zero" not in got
    with pytest.raises(ValueError, match="min_points"):
        grouped_gini(df, ["g"], "v", min_points=1)


def test_time_weighted_avg_holds_until_next(spark):
    from feldman_spark.ops.windows import time_weighted_avg

    df = spark.createDataFrame(
        # value 10 held 3h, value 40 held 1h -> twavg (10*3+40*1)/4 = 17.5;
        # last point (t=4h, v=99) bounds the window, no weight
        [("k", "2024-01-01 00:00:00", 10.0),
         ("k", "2024-01-01 03:00:00", 40.0),
         ("k", "2024-01-01 04:00:00", 99.0),
         ("single", "2024-01-01 00:00:00", 5.0),
         ("zerospan", "2024-01-01 00:00:00", 1.0),
         ("zerospan", "2024-01-01 00:00:00", 2.0)],
        "k string, ts string, v double").withColumn(
        "ts", F.col("ts").cast("timestamp_ntz"))
    got = {r["k"]: (r["n_points"], r["span_seconds"], r["twavg"])
           for r in time_weighted_avg(df, ["k"], "ts", "v").collect()}
    assert got == {"k": (3, 14400.0, 17.5)}


def test_equidepth_histogram_balanced_and_validation(spark):
    from feldman_spark.pipeline.profile import equidepth_histogram

    df = spark.createDataFrame([(float(i),) for i in range(1, 101)]
                               + [(None,)], "v double")
    rows = {r["bucket"]: r for r in
            equidepth_histogram(df, "v", buckets=4).collect()}
    assert sorted(rows) == [1, 2, 3, 4]
    assert all(rows[b]["n"] == 25 for b in rows)
    assert rows[1]["lo"] == 1.0 and rows[4]["hi"] == 100.0
    # boundaries are quantiles: bucket 1 ends at the 25th percentile
    assert rows[1]["hi"] == 25.0 and rows[2]["lo"] == 26.0
    with pytest.raises(ValueError, match="buckets"):
        equidepth_histogram(df, "v", buckets=1)


def test_null_patterns_cooccurrence(spark):
    from feldman_spark.pipeline.profile import null_patterns

    rows = [(1, "a"), (None, None), (None, None), (None, "b"), (2, None)]
    df = spark.createDataFrame(rows, "x int, y string")
    got = [(r["pattern"], r["n"])
           for r in null_patterns(df, ["x", "y"]).collect()]
    assert got == [("NN", 2), ("--", 1), ("-N", 1), ("N-", 1)]
    with pytest.raises(ValueError, match="at least one"):
        null_patterns(df, [])


def test_spearman_corr_monotone_ties_constant(spark):
    from feldman_spark.pipeline.profile import spearman_corr

    rows = []
    # perfectly monotone (nonlinear): y = x^3 -> rho = 1
    rows += [("mono", float(x), float(x) ** 3) for x in range(1, 9)]
    # perfectly anti-monotone -> rho = -1
    rows += [("anti", float(x), float(-x)) for x in range(1, 9)]
    # constant y -> rho NULL
    rows += [("const", float(x), 7.0) for x in range(1, 9)]
    # tiny group dropped
    rows += [("tiny", 1.0, 1.0), ("tiny", 2.0, 2.0)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {r["g"]: (r["n_points"], r["rho"])
           for r in spearman_corr(df, ["g"], "x", "y",
                                  min_points=3).collect()}
    assert got["mono"] == (8, 1.0)
    assert got["anti"] == (8, -1.0)
    assert got["const"][1] is None
    assert "tiny" not in got
    # fractional tie ranks: x = [1,1,2], y = [1,2,3]: rx = [1.5,1.5,3],
    # spearman = corr([1.5,1.5,3],[1,2,3]) = 0.866
    tie = spark.createDataFrame(
        [("t", 1.0, 1.0), ("t", 1.0, 2.0), ("t", 2.0, 3.0)],
        "g string, x double, y double")
    r = spearman_corr(tie, ["g"], "x", "y", min_points=3).collect()[0]
    assert r["rho"] == 0.866


def test_seasonal_autocorr_detects_daily_rhythm(spark):
    import datetime
    from feldman_spark.ops.windows import seasonal_autocorr

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for h in range(24 * 14):  # two weeks of hourly events
        t = base + datetime.timedelta(hours=h)
        # rhythmic: volume depends only on hour-of-day (period 24)
        for _ in range((h % 24) % 5 + 1):
            rows.append(("rhythmic", t))
        # trendless alternating-period-7 series: lag-24 decorrelated
        for _ in range((h % 7) + 1):
            rows.append(("period7", t))
    df = spark.createDataFrame(rows, "k string, ts timestamp_ntz")
    got = {r["k"]: r["acf"]
           for r in seasonal_autocorr(df, ["k"], "ts",
                                      lag_hours=24).collect()}
    assert got["rhythmic"] == 1.0      # exact 24h period
    assert abs(got["period7"]) < 0.5   # 24 % 7 != 0 -> decorrelated
    with pytest.raises(ValueError, match="lag_hours"):
        seasonal_autocorr(df, ["k"], "ts", lag_hours=0)
