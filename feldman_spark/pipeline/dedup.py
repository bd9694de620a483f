"""Deduplication operators for large-scale document pipelines.

Beyond-reference capability (no counterpart in laccore/feldman, which
handles ≤ thousands of rows): exact, MinHash+LSH, SimHash, n-gram-Jaccard
and embedding-cosine near-duplicate detection, each designed so the heavy
work is a distributed hash/join and nothing funnels through the driver.

Scale notes (100 TB corpus):

* exact dedup is one hash-aggregate — shuffles once on the digest;
* MinHash signatures are computed row-local with higher-order functions
  (no UDF, no shuffle); LSH banding turns all-pairs O(n²) into a
  same-bucket self-join whose shuffle key is the band hash;
* hash functions are md5-based so results are engine-portable (the DuckDB
  oracle reproduces them bit-for-bit) and deterministic across runs —
  a requirement for resumable dedup over a growing corpus.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from feldman_spark.ops.sizing import persist_scoped, plan_size_estimate

__all__ = [
    "exact_dedup",
    "word_shingles",
    "minhash_signature",
    "minhash_signature_array",
    "lsh_bands",
    "minhash_lsh_pairs",
    "simhash_bits",
    "simhash_fingerprint",
    "char_ngrams",
    "ngram_jaccard_pairs",
    "embedding_cosine_pairs",
    "embedding_cosine_pairs_lsh",
    "decontaminate",
    "contamination_overlap",
    "shingle_novelty",
    "decontaminate_semantic",
    "paragraph_dedup",
    "remove_frequent_spans",
    "semantic_dedup",
    "exact_dedup_incremental",
    "minhash_band_rows",
    "minhash_dedup_incremental",
    "corpus_overlap",
    "corpus_near_overlap",
    "containment_pairs",
]

HEX_HIGH = "89abcdef"  # hex digits whose high bit is set

def _widen_narrow_scan(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to core count when it reads from FEWER FILES
    than there are cores — a single small input file would otherwise
    serialize a whole shingle/gram extraction stage into one task. At
    corpus scale the scan has >= cores files and this is a no-op.

    The probe is ``inputFiles()`` (file-listing metadata, cached by the
    session after the first call) — NOT ``df.rdd.getNumPartitions()``,
    which materializes the full Python RDD conversion of the plan and
    cost ~2.5 s of every first query run. In-memory frames (no files)
    are left alone: ``createDataFrame`` already spreads them over the
    default parallelism."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    try:
        nfiles = len(df.inputFiles())
    except Exception:  # non-file-backed plan shapes
        nfiles = 0
    if 0 < nfiles < cores:
        return df.repartition(cores)
    return df


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the smallest id per content digest. One
    hash-aggregate; the digest shuffle key is uniform so no skew."""
    digest = F.md5(F.col(text_col))
    w = Window.partitionBy(digest).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def word_shingles(text: Column, k: int = 3) -> Column:
    """k-word shingles as an array of strings — computed row-local with
    higher-order functions (sequence/slice/concat_ws), no UDF."""
    words = F.split(text, " ")
    n = F.size(words)
    return F.when(n < k, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)),
        )
    )


def _shingle_stream(
    df: DataFrame, text_col: str, id_col: str, k: int, hashed: bool = False,
    carry: Sequence[str] = (),
) -> DataFrame:
    """Exploded ``(id, _g)`` k-word-shingle rows with NO higher-order
    function in the plan: explode a position ``sequence`` and build each
    shingle with an ``element_at``/``concat`` chain. HOFs are
    CodegenFallback — one in a stage disables whole-stage codegen for
    everything fused with it (measured 10x on the downstream md5
    aggregates) — so the stream form keeps extraction AND whatever is
    fused after it inside codegen, and needs no corpus-side persist.
    ``hashed=True`` emits ``xxhash64`` longs instead of the strings.
    Docs with fewer than k words produce no rows.
    """
    cc = [F.col(c) for c in carry]
    words = F.split(F.col(text_col), " ")
    base = df.select(F.col(id_col), *cc, words.alias("_w"))
    # guard: F.sequence(0, negative) would generate a DESCENDING range
    idx = F.explode(
        F.when(F.size("_w") >= k, F.sequence(F.lit(0), F.size("_w") - k))
        .otherwise(F.array().cast("array<int>"))).alias("_i")
    parts: List[Column] = []
    for j in range(k):
        if j:
            parts.append(F.lit(" "))
        parts.append(F.element_at("_w", F.col("_i") + j + 1))
    g = F.concat(*parts)
    if hashed:
        g = F.xxhash64(g)
    return base.select(F.col(id_col), *cc, idx, "_w").select(
        F.col(id_col), *cc, g.alias("_g"))


def _char_ngram_stream(
    df: DataFrame, text_col: str, id_col: str, n: int, hashed: bool = True,
    carry: Sequence[str] = (),
) -> DataFrame:
    """Exploded ``(id, _g)`` character-n-gram rows — ``substr`` over an
    exploded position sequence, whole-stage codegen (see
    :func:`_shingle_stream` for why the stream form beats the HOF array
    form). Texts shorter than n produce no rows."""
    cc = [F.col(c) for c in carry]
    base = df.select(F.col(id_col), *cc, F.col(text_col).alias("_t"))
    ln = F.length(F.col("_t"))
    idx = F.explode(
        F.when(ln >= n, F.sequence(F.lit(1), ln - (n - 1)))
        .otherwise(F.array().cast("array<int>"))).alias("_i")
    g = F.substr(F.col("_t"), F.col("_i"), F.lit(n))
    if hashed:
        g = F.xxhash64(g)
    return base.select(F.col(id_col), *cc, idx, "_t").select(
        F.col(id_col), *cc, g.alias("_g"))


def _relational_jaccard(
    cand: DataFrame, grams: DataFrame, id_col: str, threshold: float,
    digits: int = 4,
) -> DataFrame:
    """Exact Jaccard for candidate pairs from the exploded gram stream —
    no gram ARRAYS anywhere: restrict the stream to candidate docs
    (AQE broadcasts the tiny id set), distinct, then co-count shared
    grams per pair and take |A∩B| / (|A|+|B|−|A∩B|). Whole-stage
    codegen, shuffles scale with candidate-doc grams only, and nothing
    text-sized needs to be persisted or broadcast. Pairs with zero
    shared grams drop out — indistinguishable from failing any
    threshold > 0 (and candidate schemes cannot emit gram-disjoint
    pairs except by hash collision).
    """
    # both persisted frames are candidate-sized, not corpus-sized: cand
    # is consumed twice (doc-id set + the co-count join) and g_c three
    # times (sizes + both pair sides) — without persistence the whole
    # candidate-GENERATION subplan upstream of `cand` re-executes per
    # consumer (measured 5x wall on the prefix-filter path)
    cand = persist_scoped(cand)
    cd = (cand.select(F.col("doc1").alias(id_col))
          .union(cand.select("doc2")).distinct())
    g_c = persist_scoped(grams.join(cd, id_col).distinct())
    sizes = g_c.groupBy(id_col).count()
    g1 = g_c.select(F.col(id_col).alias("doc1"), "_g")
    g2 = g_c.select(F.col(id_col).alias("doc2"), "_g")
    inter = (
        cand.join(g1, "doc1").join(g2, ["doc2", "_g"])
        .groupBy("doc1", "doc2").agg(F.count(F.lit(1)).alias("_i")))
    sz1 = sizes.select(F.col(id_col).alias("doc1"), F.col("count").alias("_s1"))
    sz2 = sizes.select(F.col(id_col).alias("doc2"), F.col("count").alias("_s2"))
    return (
        inter.join(sz1, "doc1").join(sz2, "doc2")
        .withColumn(
            "jaccard",
            F.round(F.col("_i").cast("double")
                    / (F.col("_s1") + F.col("_s2") - F.col("_i")), digits))
        .filter(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", "jaccard")
    )


def minhash_signature(shingles: Column, num_hashes: int = 9) -> List[Column]:
    """MinHash: for seed j, the lexicographic minimum of md5(shingle + '#j')
    over the shingle set. String-min over uniform hex digests is a valid
    min-hash family and is bit-portable across engines."""
    # NB: HOF lambdas must be unary — PySpark treats a second (even
    # defaulted) parameter as the element index. Bind the seed via a
    # closure factory instead.
    def hash_with_seed(j: int):
        seed = F.lit(f"#{j}")
        return lambda s: F.md5(F.concat(s, seed))

    return [
        F.array_min(F.transform(shingles, hash_with_seed(j))).alias(f"h{j}")
        for j in range(num_hashes)
    ]


def minhash_signature_array(
    shingles: Column, num_hashes: int = 9, hash_fn: str = "md5"
) -> Column:
    """All ``num_hashes`` minhash values as ONE array column — a single
    aggregate pass whose plan is three lambdas total, versus
    ``num_hashes`` parallel transform+array_min expressions for the
    per-column form.

    ``hash_fn='md5'`` (default): bit-portable across engines (the DuckDB
    oracle reproduces it; element j == ``minhash_signature``'s ``h{j}``).
    ``hash_fn='xxhash64'``: the production family for corpus scale —
    seeded 64-bit hashes, ~an order of magnitude cheaper per shingle than
    md5's digest+hex on the JVM, same minhash guarantees, still
    deterministic across runs (just not reproducible in SQL engines
    lacking xxhash64)."""
    js = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    if hash_fn == "xxhash64":
        # pre-hash each shingle string to a long ONCE, then derive the
        # num_hashes family by seed-rehashing the long — 1 string hash +
        # num_hashes long hashes per shingle instead of num_hashes string
        # hashes (the string is the expensive input)
        pre = F.transform(shingles, lambda s: F.xxhash64(s))
        return F.aggregate(
            pre,
            F.array_repeat(F.lit(2**63 - 1).cast("long"), num_hashes),
            lambda acc, h: F.zip_with(
                acc,
                F.transform(js, lambda j: F.xxhash64(h, j)),
                lambda a, b: F.least(a, b),
            ),
        )
    if hash_fn != "md5":
        raise ValueError(f"unknown hash_fn {hash_fn!r} (md5 | xxhash64)")
    return F.aggregate(
        shingles,
        # "g" sorts after every hex digest -> identity for string-min
        F.array_repeat(F.lit("g"), num_hashes),
        lambda acc, s: F.zip_with(
            acc,
            F.transform(js, lambda j: F.md5(F.concat(s, F.lit("#"), j.cast("string")))),
            lambda a, b: F.least(a, b),
        ),
    )


def lsh_bands(sig_cols: Sequence[str], rows_per_band: int = 3) -> List[Column]:
    """Band hashes: md5 of each band's concatenated signature rows.
    Documents sharing any band hash become candidate pairs."""
    bands = []
    for b in range(0, len(sig_cols), rows_per_band):
        cols = [F.col(c) for c in sig_cols[b : b + rows_per_band]]
        bands.append(F.md5(F.concat_ws("|", *cols)).alias(f"band{b // rows_per_band}"))
    return bands


def _band_stack(
    ex: DataFrame,
    id_col,
    num_hashes: int,
    rows_per_band: int,
    hash_fn: str,
) -> DataFrame:
    """(id, band, bh) LSH band rows from a shingle stream ``ex`` —
    per-doc min() signatures (partial aggregation shrinks the shuffle to
    per-partition per-doc minima; values identical to
    :func:`minhash_signature_array`'s — same family, same min), then
    band b = hash of signature rows b·r..b·r+r−1, exactly the
    :func:`lsh_bands` values. ``id_col`` may be one column name or a
    list (composite key, e.g. a side-tagged union)."""
    ids = [id_col] if isinstance(id_col, str) else list(id_col)
    if hash_fn == "xxhash64":
        # shingles are pre-hashed longs here; family j = xxhash64(h, j)
        mins = [F.min(F.xxhash64(F.col("_g"), F.lit(j))).alias(f"h{j}")
                for j in range(num_hashes)]
    elif hash_fn == "md5":
        mins = [F.min(F.md5(F.concat(F.col("_g"), F.lit(f"#{j}")))).alias(f"h{j}")
                for j in range(num_hashes)]
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r} (md5 | xxhash64)")
    sig = ex.groupBy(*ids).agg(*mins)

    n_bands = num_hashes // rows_per_band

    def band_hash(b: int) -> Column:
        cols = [F.col(f"h{j}")
                for j in range(b * rows_per_band, (b + 1) * rows_per_band)]
        if hash_fn == "xxhash64":
            return F.xxhash64(F.array(*cols))
        return F.md5(F.concat_ws("|", *cols))

    return sig.select(
        *[F.col(c) for c in ids],
        F.posexplode(F.array(*[band_hash(b) for b in range(n_bands)]))
        .alias("band", "bh"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 9,
    rows_per_band: int = 3,
    threshold: float = 0.2,
    hash_fn: str = "md5",
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding + exact Jaccard
    verification.

    shingle stream → per-doc min() signature → band → same-band
    self-join (candidates) → relational exact-Jaccard verification.
    The whole plan is whole-stage codegen (no higher-order functions —
    see :func:`_shingle_stream`), nothing text-sized is persisted or
    broadcast, and only candidate pairs — a vanishing fraction of all
    pairs — pay the verification cost; the self-join shuffles on
    (band index, band hash) and verification shuffles candidate-doc
    grams only. ``hash_fn='xxhash64'`` switches to the cheap production
    hash family (one string hash per shingle, long re-hashes for the
    family); the verification step is hash-independent, so only
    candidate recall — not pair correctness — can differ between
    families.
    """
    df = _widen_narrow_scan(df)

    ex = _shingle_stream(df, text_col, id_col, k,
                         hashed=(hash_fn == "xxhash64"))
    stacked = _band_stack(ex, id_col, num_hashes, rows_per_band, hash_fn)
    stacked = persist_scoped(stacked)  # both sides of the self-join; slim rows

    left = stacked.select(F.col(id_col).alias("doc1"), "band", "bh")
    right = stacked.select(F.col(id_col).alias("doc2"), "band", "bh")
    cand = (
        left.join(right, ["band", "bh"])
        .filter(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2")
        .distinct()
    )
    return _relational_jaccard(cand, ex, id_col, threshold)


def simhash_bits(text: Column, num_bits: int = 32) -> List[Column]:
    """SimHash bit columns: bit j is set when more than half the words
    have the high bit of hex digit j of md5(word) set (a ±1 majority vote
    per bit, computed with array HOFs — engine-portable).

    Per-bit-COLUMN form: each of the ``num_bits`` columns re-hashes every
    word (HOFs are CodegenFallback, so Catalyst does not CSE the shared
    md5 pass across columns). Use :func:`simhash_fingerprint` — the
    single-pass accumulate — anywhere the whole fingerprint is wanted.
    """
    words = F.split(text, " ")
    n = F.size(words)

    def bit_test(j: int):  # unary-lambda factory (see minhash note)
        return lambda w: F.instr(F.lit(HEX_HIGH), F.substring(F.md5(w), j, 1)) > 0

    bits = []
    for j in range(1, num_bits + 1):
        hits = F.size(F.filter(words, bit_test(j)))
        bits.append(F.when(hits * 2 > n, F.lit("1")).otherwise(F.lit("0")).alias(f"b{j}"))
    return bits


def simhash_fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", num_bits: int = 32,
) -> DataFrame:
    """Per-document SimHash fingerprint as a bitstring column. Near-dup
    pair search then buckets on bit-bands of the fingerprint (same LSH
    self-join shape as MinHash).

    Whole-stage-codegen formulation (HOFs are CodegenFallback, so the
    per-bit-column form pays 32 interpreted array scans, each re-hashing
    every word): explode to (id, word), hash each word ONCE, turn the
    hex digits into int chunks with ``conv`` so "high bit of hex digit
    j" becomes a shift-and-mask, and reduce with 32 codegen'd
    conditional SUMs — partial aggregation makes the shuffle 50k groups
    of 33 ints, not the words. Bit j compares ``2·counts[j] >
    len(words)`` — identical semantics, value-identical output (same
    DuckDB oracle); measured 4.5x faster at 50k docs.
    """
    ex = df.select(
        F.col(id_col),
        F.explode_outer(F.split(F.col(text_col), " ")).alias("_w"))
    h = F.md5(F.col("_w"))
    n_chunks = (num_bits + 7) // 8
    # 8 hex digits per chunk: fits comfortably in a signed long, unlike
    # conv of all 32 digits (unsigned 128-bit) — high bit of hex digit
    # j' of a chunk is int bit 4*(8-j')+3
    masked = ex.select(
        F.col(id_col),
        *[F.conv(F.substring(h, 1 + 8 * c, 8), 16, 10).cast("long")
          .alias(f"_m{c}") for c in range(n_chunks)])
    aggs = [F.count(F.lit(1)).alias("_n")]
    for j in range(1, num_bits + 1):
        c, jj = (j - 1) // 8, (j - 1) % 8 + 1
        aggs.append(
            F.sum(F.shiftright(F.col(f"_m{c}"), 4 * (8 - jj) + 3)
                  .bitwiseAND(F.lit(1))).alias(f"_c{j}"))
    counts = masked.groupBy(id_col).agg(*aggs)
    bits = [
        F.when(F.col(f"_c{j}") * 2 > F.col("_n"), F.lit("1"))
        .otherwise(F.lit("0")) for j in range(1, num_bits + 1)
    ]
    return counts.select(F.col(id_col), F.concat(*bits).alias("simhash"))


def char_ngrams(text: Column, n: int = 3) -> Column:
    """Character n-grams via substr over a position sequence (row-local)."""
    ln = F.length(text)
    return F.when(ln < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), ln - (n - 1)),
            lambda i: F.substr(text, i, F.lit(n)),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: Optional[str] = "lang",
    n: int = 5,
    threshold: float = 0.5,
    all_pairs: bool = False,
    candidate_budget_per_doc: Optional[int] = 4096,
    fallback_num_hashes: int = 12,
    fallback_rows_per_band: int = 2,
    verify_broadcast_bytes: int = 768 << 20,
) -> DataFrame:
    """Character-n-gram Jaccard pairs at or above ``threshold``.

    Default path is **prefix filtering** (Chaudhuri et al. SSJoin /
    Bayardo et al. AllPairs): order each document's distinct grams by
    ascending document frequency (rare first — a global total order),
    and explode only a prefix of each document's sorted grams. The
    prefixes are ASYMMETRIC (the AllPairs probe/index split): the
    *index* side explodes ``|g| - ceil(t·|g|) + 1`` grams, while the
    *probe* side only needs ``|g| - ceil(2t/(1+t)·|g|) + 1`` (≈ |g|/3
    at t=0.5 vs |g|/2) because for a pair with |A| ≤ |B| the overlap
    bound t·(|A|+|B|)/(1+t) is at least 2t/(1+t)·|A| — so the pair's
    smallest common gram sits within A's SHORTER probe prefix and B's
    index prefix. Orienting the join by (size, id) instead of bare id
    keeps recall exactly 1.0 (pigeonhole on the smallest common gram
    in the order) while cutting the per-gram join product roughly in
    half; candidate generation remains a self-join on *rare* grams —
    recall is exactly 1.0, unlike MinHash banding — and only
    candidates pay the exact-Jaccard verification.
    Pre-verification pruning is threefold, all recall-preserving: a size
    filter (t·max ≤ min) drops length-incompatible pairs; a POSITIONAL
    filter (PPJoin, Xiao et al. 2008) drops a match at sorted-prefix
    positions (p1, p2) when even a perfect suffix overlap from there —
    ``min(sz1−p1, sz2−p2)`` — cannot reach the overlap bound
    ``t·(sz1+sz2)/(1+t)`` (valid because for the pair's SMALLEST common
    gram every common gram sits at or after it in both sorted arrays; a
    true pair always survives via that first-gram match, later matches
    can only keep, never drop — measured 28% fewer candidates on the
    sf5 corpus); and ``distinct``. No all-pairs join appears anywhere
    in the plan: the shuffles are keyed on gram / id, all linear in the
    corpus.

    Pruning power requires gram *diversity*: with a tiny vocabulary
    (e.g. ``n=3`` over digit-heavy text — hence the production default
    ``n=5``) every gram is common, the similarity graph itself is
    dense, and any exact method — including this one — degenerates
    toward its own quadratic output. ``candidate_budget_per_doc`` is
    the guard: before the candidate join, one cheap aggregate over the
    (persisted) prefix ranking computes the PROJECTED candidate count
    Σ_g C(df_pref(g), 2); if it exceeds ``budget × N`` the prefix join
    is abandoned for MinHash banding over the same gram sets
    (``fallback_num_hashes`` / ``fallback_rows_per_band``: the default
    12/2 → 6 bands has candidate recall 1−(1−J²)⁶ ≈ 0.82 at J=0.5,
    0.99 at J=0.7, ~1 at the near-dup scores that matter) — the exact
    verification step is unchanged, so fallback can only MISS pairs,
    never emit a wrong one. The choice is logged on the
    ``feldman_spark.pipeline.dedup`` logger. ``None`` disables the
    guard (the oracle-gate scales never trigger it: ~200 projected
    candidates/doc at the gate vs ~5000/doc where the sf5 corpus
    genuinely densifies).

    Verification joins the candidate pairs back to the per-doc gram
    arrays (~8·|g| bytes per doc). Moving those arrays per-PAIR through
    a shuffle is the scale killer (measured ~60 GB of array shuffle at
    1M docs / 25M candidates): when the whole gram table fits
    ``verify_broadcast_bytes`` (estimated as 8·Σ|g| from the cached
    ranking — the corpus never rescans) both verification joins
    broadcast it, so candidate rows stream through two in-memory hash
    joins and the arrays never hit a shuffle. Above the bound the joins
    fall back to SHUFFLE_HASH (never sort-merge: sorting the candidate
    table twice is pure overhead), which moves each pair's arrays once
    — the documented cost of corpora beyond ~3M docs per group on
    default settings. The verification parallelism is sized from the
    projected candidate count, not a fixed core count.

    ``all_pairs=True`` keeps the quadratic within-group self-join — the
    correctness oracle for tests and tiny corpora only.
    """
    df = _widen_narrow_scan(df)
    cores = df.sparkSession.sparkContext.defaultParallelism

    grp = [group_col] if group_col else []

    # threshold <= 0 admits gram-disjoint pairs, which no share-a-gram
    # candidate scheme can produce — that contract is inherently
    # all-pairs. This oracle branch keeps the gram-ARRAY form (tiny
    # corpora only); grams ride as xxhash64 longs — set sizes, hence
    # Jaccard, are preserved exactly absent an intra-pair 64-bit
    # collision (~|union|²/2⁶⁴ per pair, vanishing)
    if all_pairs or threshold <= 0:
        grams = df.select(
            F.col(id_col),
            *[F.col(c) for c in grp],
            F.transform(
                F.array_distinct(char_ngrams(F.col(text_col), n)),
                lambda s: F.xxhash64(s),
            ).alias("grams"),
        ).filter(F.size("grams") > 0)
        jaccard = F.round(
            F.size(F.array_intersect("g1", "g2")).cast("double")
            / F.size(F.array_union("g1", "g2")),
            4,
        )
        a = grams.select(*grp, F.col(id_col).alias("doc1"), F.col("grams").alias("g1"))
        b = grams.select(*grp, F.col(id_col).alias("doc2"), F.col("grams").alias("g2"))
        pairs = a.join(b, grp) if grp else a.crossJoin(b)
        return (
            pairs.filter(F.col("doc1") < F.col("doc2"))
            .withColumn("jaccard", jaccard)
            .filter(F.col("jaccard") >= threshold)
            .select("doc1", "doc2", "jaccard")
        )

    # grams ride as xxhash64 longs from extraction on: the df-ranking
    # groupBy, the candidate join, and the verification all
    # shuffle/compare 8-byte keys instead of n-char strings. The
    # prefix-filter recall proof only needs SOME global total order, so
    # ordering by (df, hash) instead of (df, gram) is equally valid.
    # ONE pass and ONE cache carry every gram: the codegen n-gram
    # stream aggregates per (group, gram) into its distinct-document
    # set — collect_set(doc) dedups (doc, gram) repeats and its size IS
    # the document frequency — and the re-exploded (id, df, gram) rows
    # re-assemble per doc below. The former shape materialized the
    # grams TWICE (a collect_set-per-doc array cache for verification
    # plus the df-ranked cache) and paid a third full gram-stream
    # exchange through a Window df-count; fusing them dropped one
    # exchange and halved the cached gram bytes (sf1 A/B: 9.3 -> 8.5 s
    # steady, sf0.1 4.2 -> 2.8 s, identical pair sets).
    t = float(threshold)
    probe_frac = 2.0 * t / (1.0 + t)
    byg = (
        _char_ngram_stream(df, text_col, id_col, n, hashed=True,
                           carry=list(grp))
        .groupBy(*[F.col(c) for c in grp], F.col("_g"))
        .agg(F.collect_set(F.col(id_col)).alias("_docs"))
    )
    exd = byg.select(
        *grp, "_g", F.size("_docs").alias("_df"),
        F.explode("_docs").alias(id_col))

    # re-assemble each doc's grams sorted by (df, gram) — rare first —
    # and slice the prefix whose length guarantees recall 1.0 at t.
    # PERSISTED: the ranking feeds both sides of the candidate join,
    # the guard aggregate, AND (via transform(_ord)) the verification
    # arrays — without the cache each consumer re-runs the gram stream
    # both ceil() bounds carry a -1e-9: float noise pushing t·sz a hair
    # ABOVE its true integer value would ceil one higher and shorten the
    # prefix — a silent recall hole; the epsilon can only LENGTHEN a
    # prefix (more candidates, never fewer)
    ranked = persist_scoped(
        exd
        .groupBy(F.col(id_col), *grp)
        .agg(F.array_sort(F.collect_list(F.struct("_df", "_g"))).alias("_ord"))
        .withColumn("sz", F.size("_ord"))
        .withColumn(
            "_plen",
            (F.col("sz")
             - F.ceil(F.lit(t) * F.col("sz") - F.lit(1e-9)) + 1).cast("int"),
        )
        .withColumn(
            "_plen_probe",
            (F.col("sz")
             - F.ceil(F.lit(probe_frac) * F.col("sz") - F.lit(1e-9))
             + 1).cast("int"),
        )
        .withColumn("_pref", F.slice(F.col("_ord"), F.lit(1), F.col("_plen")))
    )
    # positions ride along 0-based: sz − p is then exactly "the shared
    # gram plus everything after it" in that doc's sorted gram array
    pref = ranked.select(
        F.col(id_col), *grp, F.col("sz"), F.col("_plen_probe"),
        F.posexplode(F.transform("_pref", lambda s: s["_g"])).alias("p", "g"),
    )

    use_banding = False
    proj = None
    total_grams = None
    if candidate_budget_per_doc is not None:
        # one aggregate job materializes the cache AND reads doc count +
        # Σ|g| off it (sizes the verification strategy below) — the
        # former count()-then-agg form paid a second driver action whose
        # scheduler latency is pure overhead on every invocation
        # doc/gram totals and the candidate projection are two different
        # aggregate shapes over the same cache; a crossJoin of the two
        # 1-row frames collects BOTH in one driver action (measured: the
        # second blocking .first() cost ~0.4 s of pure scheduler latency
        # per invocation at the sf0.1 gate)
        stats_docs = ranked.agg(F.count(F.lit(1)).alias("_n"),
                                F.sum("sz").alias("_t"))
        stats_proj = (
            pref.groupBy(*grp, "g").agg(F.count(F.lit(1)).alias("_c"))
            .agg(F.sum(F.col("_c") * (F.col("_c") - 1) / 2).alias("_p"))
        )
        row = stats_docs.crossJoin(stats_proj).first()
        ndocs, total_grams = row["_n"], row["_t"] or 0
        proj = row["_p"] or 0
        use_banding = proj > candidate_budget_per_doc * max(ndocs, 1)
        import logging

        logging.getLogger(__name__).info(
            "ngram_jaccard_pairs: projected %d candidates over %d docs "
            "(budget %d/doc) -> %s path", int(proj), ndocs,
            candidate_budget_per_doc,
            "minhash-banding fallback" if use_banding else "exact prefix")

    # verification parallelism: the candidate table is tiny in BYTES
    # (AQE would coalesce it to ~1 partition) but each row costs an
    # array-intersect over two full gram sets — spread by projected
    # candidate volume, not a fixed core count
    cores = max(cores, 1)
    if proj is not None:
        verify_parts = int(min(4096, max(cores, proj // 2_000_000)))
    else:
        verify_parts = cores

    def _dedup_spread(raw: DataFrame) -> DataFrame:
        """Candidate dedup + verification spread, one exchange when the
        projection is small: hash-repartition the RAW candidate products
        by the pair id (explicit count — AQE never coalesces a
        user-specified repartition, so verify keeps its parallelism) and
        dedup in-partition (HashPartitioning(doc1,doc2) satisfies the
        aggregate's clustering over (doc1,doc2,ssum); ssum is
        functionally dependent on the pair). The former
        distinct-then-repartition shape paid a SECOND full exchange just
        to undo AQE's tiny-bytes coalescing. Above the bound the map-side
        partial dedup earns its exchange back (raw products outnumber
        distinct pairs ~14× here and more in dense corpora), so the
        two-exchange shape stays."""
        if proj is not None and proj <= 16_000_000:
            return (raw.repartition(verify_parts, "doc1", "doc2")
                    .dropDuplicates(["doc1", "doc2", "ssum"]))
        return raw.distinct().repartition(verify_parts)

    if use_banding:
        # over-budget corpora: same gram sets, same exact verification,
        # but candidates come from LSH banding over per-doc minhashes of
        # the gram hashes — linear in the corpus regardless of gram
        # density, at the cost of banding recall (see docstring)
        mins = [F.min(F.xxhash64(F.col("_g"), F.lit(j))).alias(f"_h{j}")
                for j in range(fallback_num_hashes)]
        # the signature stream re-explodes the CACHED ranked arrays —
        # consuming exd here would re-run the gram stream and its
        # per-gram aggregate a second time
        exd_r = ranked.select(
            F.col(id_col), *grp,
            F.explode(F.transform("_ord", lambda s: s["_g"])).alias("_g"))
        sig = exd_r.groupBy(F.col(id_col), *grp).agg(
            *mins, F.count(F.lit(1)).alias("sz"))
        n_bands = fallback_num_hashes // fallback_rows_per_band
        bands = [
            F.xxhash64(F.array(*[
                F.col(f"_h{j}")
                for j in range(b * fallback_rows_per_band,
                               (b + 1) * fallback_rows_per_band)
            ]))
            for b in range(n_bands)
        ]
        stacked = sig.select(
            F.col(id_col), *grp, F.col("sz"),
            F.posexplode(F.array(*bands)).alias("band", "bh"))
        bl = stacked.select(F.col(id_col).alias("doc1"), *grp,
                            F.col("sz").alias("sz1"), "band", "bh")
        br = stacked.select(F.col(id_col).alias("doc2"), *grp,
                            F.col("sz").alias("sz2"), "band", "bh")
        cand = (
            bl.join(br, grp + ["band", "bh"])
            .filter(F.col("doc1") < F.col("doc2"))
            .filter(F.greatest("sz1", "sz2") * F.lit(float(threshold))
                    <= F.least("sz1", "sz2"))
            # |A|+|B| is symmetric and functionally dependent on the id
            # pair — verification needs only the sum (|A∪B| = ssum − ∩)
            .select("doc1", "doc2",
                    (F.col("sz1") + F.col("sz2")).alias("ssum"))
        )
        cand = _dedup_spread(cand)
    else:
        # asymmetric probe/index split (see docstring): the probe side
        # keeps only positions inside the SHORTER 2t/(1+t) prefix, the
        # index side the full t-prefix; orientation is by (size, id) —
        # for |A| ≤ |B| the smallest common gram provably lies in A's
        # probe prefix and B's index prefix
        left = pref.filter(F.col("p") < F.col("_plen_probe")).select(
            F.col(id_col).alias("doc1"), *grp,
            F.col("sz").alias("sz1"), F.col("p").alias("p1"), "g")
        right = pref.select(F.col(id_col).alias("doc2"), *grp,
                            F.col("sz").alias("sz2"), F.col("p").alias("p2"),
                            "g")
        # exact overlap bound: J >= t  <=>  |A∩B| >= t(|A|+|B|)/(1+t);
        # the epsilon keeps double rounding of t/(1+t) from ever dropping
        # a borderline true pair (bounds are conservative-by-epsilon)
        alpha = (F.lit(float(threshold)) * (F.col("sz1") + F.col("sz2"))
                 / F.lit(1.0 + float(threshold)) - F.lit(1e-9))
        cand = (
            left.join(right, grp + ["g"])
            # (size, id) orientation: probe strictly smaller, id breaks
            # size ties (either orientation satisfies the prefix bounds
            # when sizes are equal)
            .filter((F.col("sz1") < F.col("sz2"))
                    | ((F.col("sz1") == F.col("sz2"))
                       & (F.col("doc1") < F.col("doc2"))))
            # J >= t  =>  max(|A|,|B|) * t <= min(|A|,|B|)
            .filter(F.greatest("sz1", "sz2") * F.lit(float(threshold))
                    <= F.least("sz1", "sz2"))
            # PPJoin positional filter (recall-preserving; see docstring)
            .filter(F.least(F.col("sz1") - F.col("p1"),
                            F.col("sz2") - F.col("p2")) >= alpha)
            # re-canonicalize to id order for the output contract; the
            # size SUM is orientation-independent, so it rides through
            # the distinct unchanged
            .select(F.least("doc1", "doc2").alias("doc1"),
                    F.greatest("doc1", "doc2").alias("doc2"),
                    (F.col("sz1") + F.col("sz2")).alias("ssum"))
        )
        cand = _dedup_spread(cand)

    # verification stays in the per-pair ARRAY form: prefix filtering
    # yields orders of magnitude more candidates than LSH banding (weak
    # pruning is the price of recall 1.0), and the relational co-count
    # (:func:`_relational_jaccard`) multiplies each pair by its gram
    # count — array_intersect touches only the pair's two cached arrays
    # (measured 3x faster at 1.7M candidates). Only the INTERSECTION is
    # computed on the arrays: |A ∪ B| = |A| + |B| − |A ∩ B| from the
    # carried size sum, halving the per-pair array work (no array_union
    # pass over two full gram sets per candidate).
    inter = F.size(F.array_intersect("g1", "g2")).cast("double")
    jaccard = F.round(inter / (F.col("ssum") - inter), 4)
    # the verification arrays project straight off the cached ranking —
    # array_intersect is order-insensitive, so the df-sorted arrays
    # serve without a second materialized copy of every gram
    garr = ranked.select(
        F.col(id_col), F.transform("_ord", lambda s: s["_g"]).alias("grams"))
    s1 = garr.select(F.col(id_col).alias("doc1"), F.col("grams").alias("g1"))
    s2 = garr.select(F.col(id_col).alias("doc2"), F.col("grams").alias("g2"))
    # join strategy (see docstring): broadcast the gram table when it
    # fits — the candidate rows then never shuffle their arrays — else
    # shuffle-hash (the candidate side must never be SORTED twice just
    # to attach arrays)
    if total_grams is not None and total_grams * 8 <= verify_broadcast_bytes:
        s1, s2 = F.broadcast(s1), F.broadcast(s2)
    else:
        s1, s2 = s1.hint("shuffle_hash"), s2.hint("shuffle_hash")
    return (
        cand.join(s1, "doc1").join(s2, "doc2")
        .withColumn("jaccard", jaccard)
        .filter(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", "jaccard")
    )


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    broadcast_eval: bool = True,
    broadcast_ids: bool | None = None,
) -> DataFrame:
    """Benchmark decontamination: drop every corpus document sharing at
    least one n-word shingle with the evaluation set.

    The eval side (benchmarks — thousands of docs) collapses to a
    distinct-shingle set and broadcasts; the corpus side explodes to
    (id, shingle) and semi-joins map-side, so the 100 TB side is one
    scan with no shuffle of the text. Set ``broadcast_eval=False`` if
    the eval set is itself huge (falls back to a shuffled semi-join).

    ``broadcast_ids`` gates the *second* broadcast (the contaminated-id
    set) independently: that set derives from the corpus, and if the
    eval docs share boilerplate n-grams with much of the corpus it can
    be a large fraction of corpus rows — broadcasting it then blows the
    driver/broadcast limit even though the eval side was tiny. Default
    ``None`` follows ``broadcast_eval``; pass ``False`` when shingle
    overlap with the corpus is expected to be wide."""
    if broadcast_ids is None:
        broadcast_ids = broadcast_eval
    # shingles are compared as xxhash64 longs: the broadcast hash set,
    # the corpus-side stream, and the semi-join probe all carry 8-byte
    # keys instead of k-word strings, and the codegen stream form
    # (:func:`_shingle_stream`) keeps the corpus scan + hash + probe in
    # one whole-stage-codegen pass. A false contamination drop needs a
    # corpus shingle to collide with an eval hash — ~|corpus|·|eval|/2⁶⁴,
    # vanishing — and the match itself is set membership, so no exactness
    # is lost beyond that.
    # eval_df only needs text_col — synthesize an id for the stream
    ev = (_shingle_stream(
        eval_df.select(F.lit(0).alias("_eid"), F.col(text_col)),
        text_col, "_eid", n, hashed=True)
        .select(F.col("_g").alias("g")).distinct())
    if broadcast_eval:
        ev = F.broadcast(ev)
    grams = (_shingle_stream(corpus, text_col, id_col, n, hashed=True)
             .select(F.col(id_col), F.col("_g").alias("g")))
    contaminated = grams.join(ev, "g", "left_semi").select(id_col).distinct()
    if broadcast_ids:
        # a broadcast-sized eval set usually implies a small contaminated-id
        # set; without the hint Catalyst's static estimate (explode
        # cardinality) picks a sort-merge join that would shuffle the whole
        # corpus. See the docstring for when to disable this.
        contaminated = F.broadcast(contaminated)
    return corpus.join(contaminated, id_col, "left_anti")


def contamination_overlap(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    broadcast_eval: bool = True,
    digits: int = 6,
) -> DataFrame:
    """Sequence-level contamination STATISTICS, GPT-3 appendix-C style
    (Brown et al. 2020 used 13-gram overlap): for every corpus document,
    the fraction of its n-word shingle positions that also occur in the
    evaluation set. Where :func:`decontaminate` implements the any-hit
    DROP policy, this returns the measurement — ``(id_col, n_grams,
    n_contaminated, overlap_frac)`` for every corpus doc (docs shorter
    than n words report zeros) — so callers can apply thresholded
    policies (GPT-3 flagged "dirty" at any overlap but ANALYZED degrees)
    or report benchmark-leakage audits without committing to removal.

    Scale shape (100 TB corpus, constant-size eval set): the eval side
    collapses to a distinct xxhash64 shingle set and broadcasts with a
    hit marker; the corpus side is ONE codegen shingle-stream scan into
    a broadcast left join + per-doc partial aggregate — the exchange
    carries one slim (id, counts) row per document, text never moves.
    Gram positions count with multiplicity (a doc repeating a leaked
    13-gram five times reports 5), matching the "how much of this doc
    is benchmark text" reading of the fraction.
    """
    if n < 1:
        raise ValueError(f"contamination_overlap: n must be >= 1 (got {n})")
    ev = (_shingle_stream(
        eval_df.select(F.lit(0).alias("_eid"), F.col(text_col)),
        text_col, "_eid", n, hashed=True)
        .select(F.col("_g").alias("_evg")).distinct()
        .withColumn("_hit", F.lit(1)))
    if broadcast_eval:
        ev = F.broadcast(ev)
    grams = _shingle_stream(corpus, text_col, id_col, n, hashed=True)
    agg = (
        grams.join(ev, grams["_g"] == ev["_evg"], "left")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("bigint")
            .alias("n_contaminated"),
        )
    )
    return (
        corpus.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("n_contaminated", F.lit(0)).cast("bigint")
            .alias("n_contaminated"),
            F.when(
                F.coalesce("n_grams", F.lit(0)) > 0,
                F.round(
                    F.col("n_contaminated").cast("double")
                    / F.col("n_grams"), digits),
            ).otherwise(F.lit(0.0)).alias("overlap_frac"),
        )
    )


def shingle_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    digits: int = 6,
) -> DataFrame:
    """Cross-document content novelty: for every document, the fraction
    of its DISTINCT k-word shingles whose first appearance in the corpus
    (minimum ``id_col``) is this document. Returns ``(id_col,
    n_shingles, n_novel, novelty_frac)``; docs with fewer than k words
    carry ``novelty_frac`` 1.0 (nothing they say has been said before).

    The signal behind novelty-ordered curricula and crawl-snapshot
    triage: a snapshot whose docs average near-zero novelty against the
    ids already ingested adds little. Ordering is by ``id_col`` — ingest
    order when ids are assigned on arrival.

    Scale shape: one codegen shingle-stream scan (hashed longs, text
    never leaves its scan), per-doc ``distinct``, a groupBy(_g) min-id
    aggregate, and a join back on _g that reuses the groupBy's
    partitioning — three slim long-pair exchanges, all linear in total
    shingle count. No collect, no HOFs; 64-bit shingle-hash collisions
    need two distinct grams of one corpus to collide (~n²/2⁶⁴).
    """
    if k < 1:
        raise ValueError(f"shingle_novelty: k must be >= 1 (got {k})")
    grams = _shingle_stream(df, text_col, id_col, k, hashed=True).distinct()
    first = grams.groupBy("_g").agg(F.min(id_col).alias("_first"))
    agg = (
        grams.join(first, "_g")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum((F.col(id_col) == F.col("_first")).cast("long"))
            .cast("bigint").alias("n_novel"),
        )
    )
    return (
        df.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shingles", F.lit(0)).cast("bigint")
            .alias("n_shingles"),
            F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
            F.when(
                F.coalesce("n_shingles", F.lit(0)) > 0,
                F.round(
                    F.col("n_novel").cast("double") / F.col("n_shingles"),
                    digits),
            ).otherwise(F.lit(1.0)).alias("novelty_frac"),
        )
    )


def decontaminate_semantic(
    corpus: DataFrame,
    eval_df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    digits: int = 6,
) -> DataFrame:
    """Semantic benchmark decontamination: drop every corpus item whose
    embedding has cosine ≥ ``threshold`` to ANY evaluation embedding —
    the paraphrase-robust complement to n-gram :func:`decontaminate`
    (an eval answer reworded shares no 8-gram but still sits next to its
    source in embedding space; cf. the contamination analyses of Brown
    et al. 2020 appx. C / Touvron et al. 2023).

    Scale (100 TB): the eval matrix (benchmarks — thousands of vectors,
    bounded by construction, NOT corpus-sized) collects once and ships
    to executors inside the ``mapInPandas`` closure; the corpus side is
    ONE scan with zero shuffles — each Arrow batch computes its
    max-cosine against the normalized eval matrix as a single BLAS
    matmul (the vectorized form semantic_dedup's prune uses; a
    relational cross-join through ``aggregate``/``zip_with`` lambdas
    would be CodegenFallback, interpreted per pair). Cosines round to
    ``digits`` before the threshold test so BLAS-vs-fold summation ulp
    can't flip a survivor across engines.
    """
    import numpy as np

    erows = eval_df.select(vec_col).collect()
    if not erows:
        return corpus
    emat = np.asarray([list(r[0]) for r in erows], dtype=np.float64)
    emat = emat / np.maximum(
        np.linalg.norm(emat, axis=1, keepdims=True), 1e-300)
    thr = float(threshold)

    def keep(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf
                continue
            v = np.asarray(
                [list(x) for x in pdf[vec_col]], dtype=np.float64)
            v = v / np.maximum(
                np.linalg.norm(v, axis=1, keepdims=True), 1e-300)
            mx = np.round((v @ emat.T).max(axis=1), digits)
            yield pdf[mx < thr]

    return corpus.mapInPandas(keep, schema=corpus.schema)


def embedding_cosine_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    digits: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — exact all-pairs baseline.

    The comparison matrix (every vector, L2-normalized) is collected and
    broadcast once; the corpus then streams through ``mapInPandas`` where
    each Arrow batch answers with one blocked ``numpy`` matmul
    (batch × corpusᵀ) instead of 25M interpreted per-pair dot products
    (14.1 s → sub-second at sf0.1).

    The broadcast side must fit in executor memory (d×N doubles —
    millions of vectors). Beyond that, bucket with hyperplane LSH first
    (:mod:`feldman_spark.pipeline.similarity`) and run this within
    buckets; the all-pairs form stays the correctness oracle.
    """
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    rows = df.select(id_col, vec_col).collect()
    ids = np.array([r[id_col] for r in rows])
    mat = np.array([r[vec_col] for r in rows], dtype=np.float64)
    norms = np.sqrt((mat * mat).sum(axis=1))
    sc = df.sparkSession.sparkContext
    b_ids = sc.broadcast(ids)
    b_mat = sc.broadcast(mat)
    b_norms = sc.broadcast(norms)

    id_type = df.schema[id_col].dataType
    schema = StructType([
        StructField("id1", id_type), StructField("id2", id_type),
        StructField("cosine", DoubleType()),
    ])

    def block(batches):
        all_ids, all_mat, all_norms = b_ids.value, b_mat.value, b_norms.value
        for pdf in batches:
            x = np.array(list(pdf[vec_col]), dtype=np.float64)
            xid = pdf[id_col].to_numpy()
            xnorm = np.sqrt((x * x).sum(axis=1))
            sims = (x @ all_mat.T) / (xnorm[:, None] * all_norms[None, :])
            sims = np.round(sims, digits)
            r, c = np.where(sims >= threshold)
            keep = xid[r] < all_ids[c]  # id1 < id2, no self/dup pairs
            r, c = r[keep], c[keep]
            import pandas as _pd
            yield _pd.DataFrame({
                "id1": xid[r], "id2": all_ids[c], "cosine": sims[r, c]})

    return df.select(id_col, vec_col).mapInPandas(block, schema=schema)


def _hyperplane_matrix(dim: int, num_planes: int, seed: str):
    """±1 hyperplane matrix (num_planes × dim) from md5 high bits — the
    numpy twin of :func:`feldman_spark.pipeline.similarity
    .hyperplane_signature`'s sign function, deterministic across runs."""
    import hashlib

    import numpy as np

    m = np.empty((num_planes, dim), dtype=np.float64)
    for p in range(num_planes):
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()
            m[p, d] = 1.0 if int(h[0], 16) >= 8 else -1.0
    return m


def embedding_cosine_pairs_lsh(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    digits: int = 6,
    num_tables: int = 16,
    planes_per_table: Optional[int] = None,
    target_bucket_rows: int = 8,
    seed: str = "cosdup",
    dim: Optional[int] = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the 100 TB path.

    Multi-table random-hyperplane LSH blocks the corpus, then exact
    cosine verifies only same-bucket candidates. Nothing is collected to
    the driver: each Arrow batch computes every table's bucket id with
    ONE numpy matmul against the broadcast (T·P × d) ±1 plane matrix
    (md5-deterministic — signatures of a growing corpus never change),
    the candidate self-join shuffles (table, bucket, id) triples only —
    never the vectors — and verification joins vectors back by id for a
    vanishing fraction of all pairs at any realistic threshold.

    Recall: a pair at cosine c disagrees per plane with probability
    arccos(c)/π; with T tables of P planes a true pair is missed with
    probability (1 - (1-arccos(c)/π)^P)^T — at P=4/T=8 ~6e-7 for
    c = 0.99 and ~2e-2 for c = 0.9 (raise ``num_tables`` to push it
    down; exact duplicates are never missed). A Hamming prefilter over
    the full T·P sign-bit signature (see the inline bound) drops the
    random bucket collisions inside the candidate-join stage at an
    extra ~Φ(-6) ≈ 1e-9 true-pair miss — far below the banding miss —
    and exact duplicates (Hamming 0) are still never dropped.

    ``planes_per_table=None`` (the default) auto-sizes P ≈
    log2(N / target_bucket_rows), clamped to [4, 16]: bucket count is
    2^P per table and candidate verification is quadratic in bucket
    size, so a FIXED P makes candidates — and wall-clock — grow
    O(N²/2^P). Auto-sizing holds expected bucket occupancy constant,
    which keeps the candidate set (and the whole job) linear in N.
    The bucket/table trade is deliberate: verification cost is linear
    in candidates (each pays a full-dimension cosine) while recall loss
    shrinks EXPONENTIALLY in tables, so small buckets (target 8) + many
    tables (16) beat the converse — at sf1's 20k vectors this is ~5×
    fewer candidates than (64, 8 tables) AND a lower miss bound
    ((1-(1-arccos(c)/π)^P)^T ≈ 1e-6 at c=0.99, P=12, T=16; exact
    duplicates are never missed at any setting). Table count multiplies
    only the signature matmul and the (table, bucket, id) triple stream,
    both negligible. The all-pairs :func:`embedding_cosine_pairs` stays
    the correctness oracle.
    """
    import math

    import numpy as np

    # one driver action covers both probes (dimension + corpus size for
    # plane auto-sizing) — the former first() + count() pair paid two
    # blocking job round-trips per invocation. n stays None when both
    # parameters are caller-provided (the broadcast-vs-shuffle gate
    # below then takes the conservative shuffle-hash arm).
    n = None
    if dim is None or planes_per_table is None:
        row = df.agg(
            F.count(F.lit(1)).alias("_n"),
            F.first(F.col(vec_col), ignorenulls=True).alias("_v")).first()
        n = row["_n"]
        if dim is None:
            if row["_v"] is None:
                return df.sparkSession.createDataFrame(
                    [], "id1 long, id2 long, cosine double")
            dim = len(row["_v"])
        if planes_per_table is None:
            planes_per_table = min(16, max(4, math.ceil(
                math.log2(max(1.0, n / target_bucket_rows)))))

    planes = np.vstack([
        _hyperplane_matrix(dim, planes_per_table, f"{seed}:{t}")
        for t in range(num_tables)
    ])
    b_planes = df.sparkSession.sparkContext.broadcast(planes)
    bit_weights = (2 ** np.arange(planes_per_table)).astype(np.int64)

    base = df.select(F.col(id_col), F.col(vec_col))
    id_type = df.schema[id_col].dataType.simpleString()

    # Hamming prefilter bound over ALL B = T·P sign bits (already
    # computed by the bucketize matmul — repacked below at zero extra
    # flops): a pair at cosine >= t disagrees per plane with probability
    # θ/π (θ = arccos t), so its total disagreement is Binomial(B, θ/π);
    # κ = ceil(B·θ/π + 6σ) keeps a true pair with P(miss) ≈ Φ(-6) —
    # negligible against the banding miss itself — while a RANDOM pair
    # sits at B/2 ± √B/2, many σ above κ at near-dup thresholds. The
    # filter runs INSIDE the candidate-join stage as pure codegen
    # bit_count(xor) on a few longs, so the tens of millions of random
    # bucket collisions die before the distinct/verify shuffle ever
    # sees them (measured 38.5M -> ~20 candidate pairs at 400k vectors,
    # t=0.99). Disabled when κ approaches B/2 (low thresholds: no
    # separation, and banding itself is the wrong tool there).
    total_bits = num_tables * planes_per_table
    theta_frac = math.acos(min(1.0, max(-1.0, float(threshold)))) / math.pi
    mu = total_bits * theta_frac
    sd = math.sqrt(total_bits * theta_frac * (1.0 - theta_frac))
    kappa = math.ceil(mu + 6.0 * sd)
    use_hamming = kappa < 0.45 * total_bits
    n_sig_longs = (total_bits + 63) // 64 if use_hamming else 0

    def bucketize(batches):
        import pandas as pd

        m = b_planes.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(list(pdf[vec_col]), dtype=np.float64)
            bits = (x @ m.T) >= 0  # B × (T·P)
            packed = []
            for k in range(n_sig_longs):
                chunk = bits[:, 64 * k:64 * (k + 1)]
                w = (2 ** np.arange(chunk.shape[1], dtype=np.uint64))
                packed.append(
                    (chunk.astype(np.uint64) @ w).astype(np.int64))
            frames = []
            for t in range(num_tables):
                sig = bits[:, t * planes_per_table:(t + 1) * planes_per_table]
                cols = {
                    id_col: pdf[id_col].to_numpy(),
                    "tbl": np.full(len(pdf), t, dtype=np.int32),
                    "sig": sig.astype(np.int64) @ bit_weights,
                }
                for k, pk in enumerate(packed):
                    cols[f"_s{k}"] = pk
                frames.append(pd.DataFrame(cols))
            yield pd.concat(frames, ignore_index=True)

    sig_schema = "".join(f", _s{k} long" for k in range(n_sig_longs))
    # persist the slim signature rows (id + T bucket ids + a few packed
    # sign longs — never the vectors): BOTH self-join sides consume
    # them, and without the barrier each side re-runs the bucketize
    # matmul over the whole corpus (r10: the plan showed two full
    # ArrowEval passes; released by ops.sizing.release)
    stacked = persist_scoped(base.mapInPandas(
        bucketize,
        schema=f"`{id_col}` {id_type}, tbl int, sig long{sig_schema}"))

    left = stacked.select(
        F.col(id_col).alias("id1"), "tbl", "sig",
        *[F.col(f"_s{k}").alias(f"_a{k}") for k in range(n_sig_longs)])
    right = stacked.select(
        F.col(id_col).alias("id2"), "tbl", "sig",
        *[F.col(f"_s{k}").alias(f"_b{k}") for k in range(n_sig_longs)])
    cand = (
        left.join(right, ["tbl", "sig"])
        .filter(F.col("id1") < F.col("id2"))
    )
    if use_hamming:
        hamming = sum(
            (F.bit_count(F.col(f"_a{k}").bitwiseXOR(F.col(f"_b{k}")))
             for k in range(n_sig_longs)),
            start=F.lit(0),
        )
        cand = cand.filter(hamming <= F.lit(kappa))
    cand = (
        cand.select("id1", "id2")
        .distinct()
        # byte-tiny candidate pairs cost a full cosine each downstream;
        # don't let AQE serialize the verification onto one partition
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
    )

    # verification: candidates are ~bucket_occupancy × N pairs (tens of
    # millions at corpus scale even when almost none clear the
    # threshold), so the per-pair evaluator must be vectorized — the
    # former zip_with/aggregate fold is CodegenFallback, interpreted
    # per element (measured ~20 s over ~20M candidates at 400k
    # vectors). One Arrow-batched pandas UDF computes the whole batch's
    # cosines as a single einsum; the JVM-side round keeps the output
    # contract (digits) unchanged.
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _pair_cos(a, b):
        import pandas as pd

        if len(a) == 0:
            return pd.Series([], dtype="float64")
        x = np.array(list(a), dtype=np.float64)
        y = np.array(list(b), dtype=np.float64)
        nx = np.linalg.norm(x, axis=1)
        ny = np.linalg.norm(y, axis=1)
        nx[nx == 0] = 1.0  # zero vectors: cosine 0, never >= threshold
        ny[ny == 0] = 1.0
        return pd.Series(np.einsum("ij,ij->i", x, y) / (nx * ny))

    # the threshold filter references the UDF column, and the optimizer
    # duplicates a deterministic UDF it pushes a filter through — the
    # plan showed TWO ArrowEvalPython nodes (one under the filter, one
    # in the output projection), every surviving pair paying the einsum
    # twice. Non-deterministic stops the copy; one evaluation serves
    # filter and projection (values unchanged — the function is pure).
    _pair_cos = _pair_cos.asNondeterministic()

    # attaching vectors to pairs must not sort or shuffle the candidate
    # table by the VECTOR payload: the vector table is n·d·8 bytes —
    # broadcast it when that fits (n is known from the plane-sizing
    # count), else shuffle-hash on the id
    v1 = base.select(F.col(id_col).alias("id1"), F.col(vec_col).alias("_v1"))
    v2 = base.select(F.col(id_col).alias("id2"), F.col(vec_col).alias("_v2"))
    if n is not None and n * dim * 8 <= (768 << 20):
        v1, v2 = F.broadcast(v1), F.broadcast(v2)
    else:
        v1, v2 = v1.hint("shuffle_hash"), v2.hint("shuffle_hash")
    return (
        cand.join(v1, "id1").join(v2, "id2")
        .withColumn("cosine", F.round(_pair_cos("_v1", "_v2"), digits))
        .filter(F.col("cosine") >= threshold)
        .select("id1", "id2", "cosine")
    )


def _word_chunks(
    df: DataFrame, id_col: str, text_col: str, chunk_words: int
) -> DataFrame:
    """Split each document into non-overlapping ``chunk_words``-word spans:
    ``(id_col, chunk_idx, _nc, para)`` with ``_nc`` = the document's span
    count. Pure codegen (split + explode(sequence) + slice/concat_ws — no
    higher-order functions), shared by :func:`paragraph_dedup` and
    :func:`remove_frequent_spans`."""
    tokens = F.split(F.trim(F.col(text_col)), r"\s+")
    return (
        df.select(F.col(id_col), tokens.alias("_toks"))
        .select(
            id_col,
            "_toks",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("_toks") / F.lit(float(chunk_words))).cast("int") - 1,
                )
            ).alias("chunk_idx"),
            F.ceil(F.size("_toks") / F.lit(float(chunk_words))).cast("int").alias("_nc"),
        )
        .select(
            id_col,
            "chunk_idx",
            "_nc",
            F.concat_ws(
                " ",
                F.slice("_toks", F.col("chunk_idx") * chunk_words + 1, chunk_words),
            ).alias("para"),
        )
    )


def _reassemble_spans(keep: DataFrame, id_col: str) -> DataFrame:
    """Rebuild ``(id_col, text, n_kept, n_dropped)`` from surviving spans
    ``(id_col, chunk_idx, _nc, para)`` — spans re-joined in original order.
    The per-document ``transform`` runs over arrays bounded by the
    document's own span count, not the corpus."""
    return (
        keep.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_idx", "para"))),
                    lambda s: s["para"],
                ),
                " ",
            ).alias("text"),
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            (F.max("_nc") - F.count(F.lit(1))).cast("bigint").alias("n_dropped"),
        )
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 20,
) -> DataFrame:
    """Span-level (paragraph) dedup across the corpus, RefinedWeb /
    MassiveText style: split every document into non-overlapping
    ``chunk_words``-word spans, keep each distinct span's FIRST occurrence
    corpus-wide (ordered by ``(id, chunk_idx)``), and reassemble documents
    from their surviving spans. Documents whose every span was seen
    earlier disappear entirely — this subsumes exact document dedup and
    additionally strips boilerplate spans shared across documents.

    Returns ``(id_col, text, n_kept, n_dropped)`` where ``text`` is the
    surviving spans re-joined in original order.

    Scale (100 TB): one pass builds spans (explode of a position sequence
    + codegen'd ``slice``/``concat_ws`` — no higher-order functions in
    the corpus-wide stage), ONE shuffle keyed by the span text (bounded:
    ≤ ``chunk_words`` words ≈ 150 bytes) for the first-occurrence
    AGGREGATE, and one shuffle back on the id for reassembly — both
    linear in corpus size with map-side combine. First occurrence is
    ``min(struct(id, chunk_idx))`` per span — NOT a ``row_number``
    window: a boilerplate span duplicated millions of times ("all
    rights reserved…") would funnel every copy through the single
    reducer owning that span under a window, whereas the min-struct
    aggregate collapses each hot span to one row per map task before
    the exchange (partial_min), so skewed spans cost nothing. The
    per-document reassembly ``transform`` runs over arrays bounded by
    the document's own span count, not the corpus, so its
    CodegenFallback cost is immaterial.
    """
    chunks = _word_chunks(df, id_col, text_col, chunk_words)
    # first occurrence per span, skew-immune: lexicographic struct-min on
    # (id, chunk_idx) — the window orderBy's exact sort key, so the
    # winner is identical — with _nc riding along (constant per id, and
    # (id, chunk_idx) is unique per row, so it never influences the min)
    keep = (
        chunks.groupBy("para")
        .agg(
            F.min(
                F.struct(
                    F.col(id_col).alias("_i"),
                    F.col("chunk_idx").alias("_c"),
                    F.col("_nc").alias("_n"),
                )
            ).alias("_w")
        )
        .select(
            F.col("_w._i").alias(id_col),
            F.col("_w._c").alias("chunk_idx"),
            F.col("_w._n").alias("_nc"),
            "para",
        )
    )
    return _reassemble_spans(keep, id_col)


def remove_frequent_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 20,
    max_count: int = 2,
) -> DataFrame:
    """Corpus-level frequent-span removal, the CCNet / RefinedWeb line-dedup
    policy (Wenzek et al. 2020, arXiv:1911.00359 §3.1; Penedo et al. 2023,
    arXiv:2306.01116 §4.2): any span occurring MORE than ``max_count``
    times corpus-wide is boilerplate (headers, navigation, license
    blurbs) and is stripped from EVERY document — unlike
    :func:`paragraph_dedup`, no first occurrence survives. Documents are
    reassembled from their remaining spans; a document whose every span
    is boilerplate disappears. Our synthetic corpus has no newlines, so
    "line" is the same non-overlapping ``chunk_words``-word span unit the
    paragraph pass uses.

    Returns ``(id_col, text, n_kept, n_dropped)``.

    Scale (100 TB): identical data movement to :func:`paragraph_dedup` —
    one span-keyed shuffle (bounded key ≈ 150 bytes) for the frequency
    count, one id-keyed shuffle for reassembly. The count is a plain
    ``groupBy(span).count()`` so a span duplicated millions of times
    partial-aggregates map-side to one row per task before the exchange
    (skew-immune); the surviving-span filter is a window-free join of the
    chunk stream against the small frequent-span list, done as LEFT ANTI
    against ``HAVING count > max_count`` — the frequent side is the
    *small* side by construction (boilerplate diversity ≪ corpus size),
    so Spark broadcasts it and the chunk stream never reshuffles for the
    filter.
    """
    chunks = _word_chunks(df, id_col, text_col, chunk_words)
    frequent = (
        chunks.groupBy("para")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > max_count)
        .select("para")
    )
    keep = chunks.join(F.broadcast(frequent), on="para", how="left_anti")
    return _reassemble_spans(keep, id_col)


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_centroids: Optional[int] = None,
    target_cluster_rows: int = 256,
    iters: int = 2,
    digits: int = 6,
) -> DataFrame:
    """Semantic dedup in the SemDeDup style (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with the
    deterministic spherical k-means of
    :func:`feldman_spark.pipeline.similarity.ivf_build`, then within each
    cluster drop every item that has a LOWER-id neighbor at cosine ≥
    ``threshold`` — a greedy-by-id keep rule that is order- and
    partitioning-independent, so the survivor set is reproducible across
    runs and engines. Complements the hyperplane-LSH near-dup pass:
    k-means buckets adapt to the data's actual density (hyperplanes are
    data-oblivious), which is what lets SemDeDup prune *semantic*
    redundancy rather than only near-copies.

    Returns the surviving rows of ``df`` plus their ``cid`` cluster id.

    Scale: clustering is the one-pass-per-iteration IVF build (centroid
    matrix broadcasts); the prune is ONE ``applyInPandas`` group per
    cluster — a vectorized numpy gram matrix over the cluster's
    normalized vectors, quadratic in CLUSTER size by design (the
    published algorithm). ``num_centroids=None`` (default) auto-sizes
    with ivf_build's COST-BALANCED rule ``C* = √(N/iters)``, not the
    search index's capacity rule ``N/target``: semantic dedup pays both
    the assignment passes (iters·N·C·d) and the within-cluster
    quadratic prune (N²·d/C), so constant-occupancy sizing makes the
    assignment — hence the whole operator — quadratic in N (measured
    9× wall at 4× vectors before the change), while C* keeps both
    terms O(N^1.5). The prune's gram matrix is computed in
    ≤2048-row blocks against the strictly-lower rows, so a cluster of
    any size stays ≤ 2048×2048 doubles of peak memory — cluster sizes
    grow as √(N·iters) under balanced sizing and k-means occupancy is
    uneven anyway, so per-group memory must not scale with the
    cluster. The former relational self-join form evaluated
    ~N·target/2 cosines through ``aggregate``/``zip_with`` lambdas —
    CodegenFallback, interpreted per pair (8.1 s at sf5's 100k vectors
    vs ~1 s vectorized). Sizing is folded INTO the k-means seed pass
    (the KMV over-collect in
    :func:`~feldman_spark.pipeline.similarity.ivf_build`) — no separate
    ``count()`` action scans the corpus before work starts; the only
    shuffle is the cid-keyed group exchange of (row, vector) pairs.
    Cosines are rounded to ``digits`` before the threshold test, which
    also absorbs the BLAS-vs-fold summation-order ulp so survivors are
    bit-stable across both formulations.
    """
    import numpy as np
    import pandas as pd

    from feldman_spark.pipeline.similarity import ivf_build

    # the build reads the input three times (seed-KMV collect, the
    # iteration passes' materialization, the final assignment), so
    # mid-sized inputs persist ONCE and serve all three from the
    # column-pruned cache (released by ops.sizing.release;
    # measured: sf1 median 4.29 -> 3.69 s, sf5 4.78 -> 4.27 s,
    # identical output). Tiny inputs skip the persist overhead (the
    # scans are already sub-second) and HUGE inputs keep the
    # streaming 3-scan shape — at corpus scale the cache cannot hold
    # the embeddings and the structural design is scan-per-pass.
    est = plan_size_estimate(df)
    if (1 << 20) < est <= (8 << 30):
        df = persist_scoped(df)

    assigned, _cents = ivf_build(
        df, vec_col=vec_col, id_col=id_col,
        num_centroids=num_centroids, iters=iters,
        target_cluster_rows=target_cluster_rows, sizing="balanced")

    thr = float(threshold)
    dig = int(digits)
    block = 2048

    def prune(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf) <= 1:
            return pdf
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        x = np.array(list(pdf[vec_col]), dtype=np.float64)
        nrm = np.linalg.norm(x, axis=1)
        nrm[nrm == 0] = 1.0  # zero vectors: cosine defined as 0, never >= thr
        u = x / nrm[:, None]
        n = len(u)
        # drop row i iff ANY lower-id row j<i has cosine >= threshold —
        # the order-independent SemDeDup keep rule (strictly-lower
        # triangle, diagonal excluded). The rule compares against ALL
        # lower rows (kept or dropped), so each block's verdict needs
        # only gram blocks, never earlier verdicts: peak memory is one
        # block×block matrix regardless of cluster size.
        drop = np.zeros(n, dtype=bool)
        for lo in range(0, n, block):
            hi = min(lo + block, n)
            s = np.round(u[lo:hi] @ u[:hi].T, dig)
            # columns >= own row index (within [lo:hi]) are the
            # diagonal/upper triangle — mask them out of "lower-id"
            cols = np.arange(hi)
            rows_ = np.arange(lo, hi)[:, None]
            drop[lo:hi] = ((s >= thr) & (cols < rows_)).any(axis=1)
        return pdf[~drop]

    return assigned.groupBy("cid").applyInPandas(prune, schema=assigned.schema)


def exact_dedup_incremental(
    new_df: DataFrame,
    seen: Optional[DataFrame],
    text_col: str = "text",
    id_col: str = "doc_id",
    digest_col: str = "digest",
    broadcast_seen: bool = False,
):
    """Incremental exact dedup for a growing corpus: dedup the incoming
    batch within itself (smallest id per digest), then drop everything
    whose digest already exists in the historical fingerprint store
    ``seen`` — the re-crawl shape of a production pipeline, where every
    ingest run must be idempotent against all prior runs.

    Returns ``(kept, digests)``: the surviving batch rows, and their
    ``(digest_col)`` frame to append to the store (md5 — deterministic
    and engine-portable, so a store written by any prior run keys the
    same texts identically; see the module scale notes).

    Scale: the store holds one 32-byte digest per historical document —
    orders of magnitude smaller than the corpus. The anti-join shuffles
    digests only (or broadcasts them with ``broadcast_seen=True`` when
    the store fits the broadcast threshold); the batch's text never
    moves beyond its own within-batch digest shuffle. ``seen=None``
    degrades to plain :func:`exact_dedup` plus the digest output — the
    bootstrap run.
    """
    batch = exact_dedup(new_df, text_col=text_col, id_col=id_col)
    batchd = batch.withColumn(digest_col, F.md5(F.col(text_col)))
    if seen is not None:
        s = seen.select(digest_col)
        if broadcast_seen:
            s = F.broadcast(s)
        batchd = batchd.join(s, digest_col, "left_anti")
    return batchd.drop(digest_col), batchd.select(digest_col)


def minhash_band_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 9,
    rows_per_band: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """Per-document LSH band rows ``(id, band, bh)`` — the storable
    near-dup fingerprint: ``num_hashes/rows_per_band`` hashes per doc
    (≤ ~50 bytes/doc at the defaults), independent of text size. Two
    documents are near-dup *candidates* iff they share any (band, bh).
    The store format for :func:`minhash_dedup_incremental`."""
    ex = _shingle_stream(_widen_narrow_scan(df), text_col, id_col, k,
                         hashed=(hash_fn == "xxhash64"))
    return _band_stack(ex, id_col, num_hashes, rows_per_band, hash_fn)


def minhash_dedup_incremental(
    new_df: DataFrame,
    seen_bands: Optional[DataFrame],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 9,
    rows_per_band: int = 3,
    threshold: float = 0.2,
    hash_fn: str = "md5",
    broadcast_seen: bool = False,
):
    """Incremental NEAR-dup dedup for a growing corpus — the fuzzy twin
    of :func:`exact_dedup_incremental`: dedup the incoming batch within
    itself (MinHash-LSH pairs at ``threshold``, exact-verified, then
    min-id survivor per connected component), and drop every batch doc
    that shares ANY LSH band hash with the historical store
    ``seen_bands`` (the :func:`minhash_band_rows` of all prior
    survivors).

    Returns ``(kept, bands)``: the surviving batch rows, and their band
    rows to append to the store.

    The history check is approximate BY DESIGN: the store holds band
    hashes only (≤ ~50 bytes/doc — no text, no shingles), so a store
    hit cannot be verified; it inherits exactly the banding candidate
    step's false-positive rate (two docs sharing a full band of minhash
    values), which is what production re-crawl pipelines accept in
    exchange for a store 3-4 orders of magnitude smaller than the
    corpus. Identical and near-identical re-crawls collide with
    probability ~1. The within-batch side IS exact-verified (the batch
    still has its text).

    Scale: the store join shuffles (band, bh) pairs only (or broadcasts
    them with ``broadcast_seen=True``); batch text never moves beyond
    its own shingle shuffle; components run on the batch's pair graph
    (vanishing vs corpus). ``seen_bands=None`` is the bootstrap run.
    """
    from feldman_spark.pipeline.graph import dedup_survivors

    # ONE shingle stream + band stack serves all three consumers —
    # within-batch candidates, the store check, and the returned store
    # delta (the returned bands are the kept docs' slice of the same
    # persisted stack, not a recompute; the naive compose-of-operators
    # form ran the shingle+signature pipeline three times, ~2× wall)
    ex = _shingle_stream(_widen_narrow_scan(new_df), text_col, id_col, k,
                         hashed=(hash_fn == "xxhash64"))
    bands_all = persist_scoped(_band_stack(ex, id_col, num_hashes,
                                           rows_per_band, hash_fn))

    left = bands_all.select(F.col(id_col).alias("doc1"), "band", "bh")
    right = bands_all.select(F.col(id_col).alias("doc2"), "band", "bh")
    cand = (
        left.join(right, ["band", "bh"])
        .filter(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2")
        .distinct()
    )
    pairs = _relational_jaccard(cand, ex, id_col, threshold)
    # the components loop is many TINY stages (a handful of near-dup
    # edges, several joins+counts per round): run the corpus-wide pair
    # generation at full shuffle width, checkpoint, then scope the loop
    # to a few partitions — at 32-wide sessions the loop's pure
    # task-scheduling overhead otherwise dominates this operator (same
    # treatment as the dedup_clusters contract query)
    spark = new_df.sparkSession
    pairs = pairs.localCheckpoint()  # full-width pair generation runs here
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        # the label-propagation rounds execute EAGERLY inside this call
        # (per-round convergence counts), so the scope covers the loop;
        # the returned anti-join itself is lazy and runs at full width
        batch_kept = dedup_survivors(new_df, pairs, id_col=id_col)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    if seen_bands is not None:
        s = seen_bands.select("band", "bh")
        if broadcast_seen:
            s = F.broadcast(s)
        hit_ids = bands_all.join(s, ["band", "bh"], "left_semi") \
            .select(id_col).distinct()
        batch_kept = batch_kept.join(hit_ids, id_col, "left_anti")

    out_bands = bands_all.join(
        batch_kept.select(id_col), id_col, "left_semi")
    return batch_kept, out_bands


def corpus_overlap(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    normalized: bool = True,
) -> DataFrame:
    """Exact content overlap between two corpora (snapshots, crawls,
    train vs. eval shards): ONE row ``(n_a, n_b, n_common, jaccard,
    containment_a)`` over distinct document digests —
    ``jaccard = |A∩B| / |A∪B|``, ``containment_a = |A∩B| / |A|``
    (both rounded to 6; 0 when the denominator is empty). The
    dataset-level companion to row-level :func:`decontaminate`:
    "how much of snapshot A is already in B" decides whether an
    incremental crawl is worth ingesting at all.

    ``normalized=True`` digests via :func:`feldman_spark.pipeline.
    text.fingerprint` (case/punct/whitespace-invariant — re-crawl
    noise doesn't break the match); ``False`` uses the raw md5.

    Scale (100 TB each side): texts reduce to 16-byte digests inside
    their own scans; each side's distinct is one digest-keyed shuffle
    with map-side combine, and the intersection is a digest equi-join —
    nothing document-sized ever moves, and the output is one row.
    """
    from feldman_spark.pipeline.text import fingerprint

    def digests(df: DataFrame) -> DataFrame:
        t = F.col(f"`{text_col}`")
        d = fingerprint(t) if normalized else F.md5(t)
        return df.select(d.alias("_dg")).filter(
            F.col("_dg").isNotNull()).distinct()

    da, db = digests(df_a), digests(df_b)
    n_a = da.agg(F.count("*").alias("n_a"))
    n_b = db.agg(F.count("*").alias("n_b"))
    n_c = da.join(db, "_dg", "left_semi").agg(
        F.count("*").alias("n_common"))
    return (
        n_a.crossJoin(F.broadcast(n_b)).crossJoin(F.broadcast(n_c))
        .select(
            "n_a", "n_b", "n_common",
            F.round(
                F.when(F.col("n_a") + F.col("n_b") - F.col("n_common") > 0,
                       F.col("n_common") /
                       (F.col("n_a") + F.col("n_b") - F.col("n_common")))
                .otherwise(F.lit(0.0)), 6).alias("jaccard"),
            F.round(
                F.when(F.col("n_a") > 0,
                       F.col("n_common") / F.col("n_a"))
                .otherwise(F.lit(0.0)), 6).alias("containment_a"),
        )
    )


def corpus_near_overlap(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 2,
    num_hashes: int = 9,
    rows_per_band: int = 3,
    threshold: float = 0.2,
    digits: int = 6,
) -> DataFrame:
    """NEAR-duplicate content overlap between two corpora — the fuzzy
    companion to :func:`corpus_overlap` (which only sees byte-identical
    content): "how much of snapshot A already has a near-match in B"
    where re-crawls arrive reworded, trimmed or boilerplate-shifted.
    One summary row ``(n_a, n_b, n_a_matched, n_b_matched,
    frac_a_matched, frac_b_matched)``: a doc is matched when a
    cross-corpus minhash band collision (same md5 family as
    :func:`minhash_lsh_pairs`) survives exact-Jaccard verification at
    ``threshold`` over its distinct k-word shingles.

    Scale (100 TB each side): the two corpora union into ONE
    side-tagged stream, so the per-doc minhash minima of BOTH sides
    partial-aggregate in a single band pass (one exchange keyed
    (side, id) instead of one per side — r10 optimization: the
    two-sided form paid two band passes, two candidate-restricted gram
    passes and four count branches, ~75 scheduler stages at sf0.1; the
    tagged union halves the corpus passes and fuses the count
    aggregates). The cross-corpus join is band-keyed on
    ~num_hashes/rows_per_band slim rows per doc and both of its inputs
    are filters of the SAME band table, so the exchange is computed
    once and reused; Jaccard verification restricts the single tagged
    shingle stream to candidate (side, id) pairs first (AQE broadcasts
    the id set), so the gram co-count join is candidate-sized, not
    corpus-sized. Output is one row."""
    u = (df_a.select(F.lit("a").alias("_s"), F.col(id_col).alias("_id"),
                     F.col(text_col).alias("_txt"))
         .unionByName(
             df_b.select(F.lit("b").alias("_s"),
                         F.col(id_col).alias("_id"),
                         F.col(text_col).alias("_txt"))))
    # persist the slim band rows: without the barrier Catalyst pushes
    # the side filters below the aggregate and splits the single band
    # pass back into one pass per side (~40 B/doc·band — the same
    # footprint the incremental band STORE persists by design)
    bands = persist_scoped(_band_stack(
        _shingle_stream(u, "_txt", "_id", k, carry=["_s"]),
        ["_s", "_id"], num_hashes, rows_per_band, "md5"))
    cand = persist_scoped(
        bands.filter(F.col("_s") == "a")
        .select(F.col("_id").alias("_ida"), "band", "bh")
        .join(bands.filter(F.col("_s") == "b")
              .select(F.col("_id").alias("_idb"), "band", "bh"),
              ["band", "bh"])
        .select("_ida", "_idb").distinct()
    )
    # candidate-pair cache consumed by the id restriction and the
    # co-count join; it outlives this call because the returned
    # one-row plan is lazy — ops.sizing.release() frees it (the
    # bench/sweep harnesses clearCache() between queries)
    # restrict to candidate docs BEFORE distinct (the _relational_jaccard
    # shape): the id restriction is a broadcast join, so the distinct's
    # shuffle carries candidate-doc grams only. In the production
    # re-crawl regime (candidates ≪ corpus — most of a new snapshot is
    # genuinely new) that is the difference between a candidate-sized
    # and a corpus-sized gram shuffle.
    ids = (cand.select(F.lit("a").alias("_s"), F.col("_ida").alias("_id"))
           .unionByName(cand.select(F.lit("b").alias("_s"),
                                    F.col("_idb").alias("_id")))
           .distinct())
    # candidate-restricted distinct grams, persisted for the same
    # reason (three consumers; side filters would re-split the pass)
    gu = persist_scoped(_shingle_stream(u, "_txt", "_id", k, carry=["_s"])
                        .join(ids, ["_s", "_id"]).distinct())
    sizes = gu.groupBy("_s", "_id").agg(F.count("*").alias("_sz"))
    ga = gu.filter(F.col("_s") == "a").select(
        F.col("_id").alias("_ida"), "_g")
    gb = gu.filter(F.col("_s") == "b").select(
        F.col("_id").alias("_idb"), "_g")
    # cand joins FIRST (mirroring _relational_jaccard's shape): the
    # gram co-count is then bounded by candidate pairs x grams-per-doc.
    inter = (
        cand.join(ga, "_ida").join(gb, ["_idb", "_g"])
        .groupBy("_ida", "_idb").agg(F.count("*").alias("_i"))
    )
    sa = sizes.filter(F.col("_s") == "a").select(
        F.col("_id").alias("_ida"), F.col("_sz").alias("_sa"))
    sb = sizes.filter(F.col("_s") == "b").select(
        F.col("_id").alias("_idb"), F.col("_sz").alias("_sb"))
    verified = (
        inter.join(sa, "_ida").join(sb, "_idb")
        .filter(F.col("_i")
                / (F.col("_sa") + F.col("_sb") - F.col("_i")) >= threshold)
    )
    # both totals in ONE aggregate over the tagged union, both matched
    # counts in ONE multi-distinct aggregate (fused count branches)
    n = u.agg(
        F.coalesce(F.sum(F.when(F.col("_s") == "a", 1)), F.lit(0))
        .cast("bigint").alias("n_a"),
        F.coalesce(F.sum(F.when(F.col("_s") == "b", 1)), F.lit(0))
        .cast("bigint").alias("n_b"))
    m = verified.agg(
        F.countDistinct("_ida").alias("n_a_matched"),
        F.countDistinct("_idb").alias("n_b_matched"))
    return (
        n.crossJoin(F.broadcast(m))
        .select(
            "n_a", "n_b", "n_a_matched", "n_b_matched",
            F.round(F.when(F.col("n_a") > 0,
                           F.col("n_a_matched") / F.col("n_a"))
                    .otherwise(F.lit(0.0)), digits).alias("frac_a_matched"),
            F.round(F.when(F.col("n_b") > 0,
                           F.col("n_b_matched") / F.col("n_b"))
                    .otherwise(F.lit(0.0)), digits).alias("frac_b_matched"),
        )
    )


def containment_pairs(
    probe: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.8,
    max_df: Optional[int] = None,
    digits: int = 4,
) -> DataFrame:
    """ASYMMETRIC near-duplicate detection: probe docs whose k-word
    shingle set is ``threshold``-contained in some corpus doc,
    ``C(A→B) = |grams(A) ∩ grams(B)| / |grams(A)|`` over DISTINCT
    shingles. Containment is what symmetric Jaccard structurally
    misses: a 50-word quote pasted into a 5,000-word page has
    ``C ≈ 1.0`` but Jaccard ≈ 0.01 — the short-doc-inside-long-doc
    regime (extracted quotes, syndicated ledes, licence blocks,
    benchmark questions embedded in crawl pages; cf. the containment
    side of Broder's resemblance/containment pair, and LSH-ensemble-
    style dataset-discovery joins). Returns
    ``(probe_doc, corpus_doc, containment)`` pairs at or above
    ``threshold``; probe docs shorter than k words emit no grams and
    therefore no pairs.

    Plan shape (100 TB): both sides reduce to distinct ``(id, _g)``
    shingle rows inside their own scans (stream form —
    :func:`_shingle_stream` — keeps extraction in whole-stage codegen);
    grams travel as ``xxhash64`` longs, never strings — containment
    only needs gram EQUALITY, so hashed counts are value-identical to
    string counts (a collision needs two shingles of one doc pair to
    collide in 64 bits, ~n²/2⁶⁴ — the repetition_metrics precedent;
    measured ~1.2× end-to-end at sf1, and the exchanged bytes for the
    corpus-side distinct roughly halve — the lever that matters when
    the shuffle spills at corpus scale) and the string twin verifies
    them as-is. The only corpus-sized shuffle is the
    inverted-index equi-join on ``_g``, whose output is bounded by
    Σ_g df_probe(g)·df_corpus(g).
    With word-k-grams that product is near-linear on real text (k=5
    grams are almost always unique within a corpus); the ``max_df``
    cap bounds it adversarially by dropping corpus-side stop-grams
    (boilerplate shingles shared by >max_df corpus docs) from the
    join. Probe sizes |grams(A)| are always computed over the FULL
    distinct gram set, so a capped run reports a LOWER BOUND on
    containment: the cap can only lose pairs whose evidence is pure
    boilerplate, never inflate a score. No candidate pre-pass is
    needed — unlike Jaccard, containment has no symmetric size filter,
    and the df cap plays the pruning role prefix-filtering plays in
    :func:`ngram_jaccard_pairs`.
    """
    ga = (_shingle_stream(probe, text_col, id_col, k, hashed=True)
          .withColumnRenamed(id_col, "probe_doc").distinct())
    gb = (_shingle_stream(corpus, text_col, id_col, k, hashed=True)
          .withColumnRenamed(id_col, "corpus_doc").distinct())
    sizes = ga.groupBy("probe_doc").agg(F.count("*").alias("_sz"))
    if max_df is not None:
        keep = (gb.groupBy("_g").agg(F.count("*").alias("_df"))
                .filter(F.col("_df") <= max_df).select("_g"))
        gb = gb.join(keep, "_g")
    inter = (ga.join(gb, "_g")
             .groupBy("probe_doc", "corpus_doc")
             .agg(F.count("*").alias("_i")))
    return (
        inter.join(sizes, "probe_doc")
        .withColumn("containment",
                    F.round(F.col("_i").cast("double") / F.col("_sz"),
                            digits))
        .filter(F.col("containment") >= threshold)
        .select("probe_doc", "corpus_doc", "containment")
    )
