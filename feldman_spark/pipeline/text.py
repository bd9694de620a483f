"""Text-analysis operators for training-data pipelines.

Beyond-reference capability: token counting, quality scoring, n-gram
language identification and document fingerprinting — all pure column
expressions (JVM-side, whole-stage-codegen friendly), no UDFs, so they
cost one pass over the corpus.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from feldman_spark.ops.sizing import persist_scoped, plan_size_estimate

__all__ = [
    "token_count",
    "bpe_token_count",
    "quality_features",
    "quality_score",
    "repetition_features",
    "repetition_metrics",
    "gopher_rules",
    "gopher_quality",
    "c4_stats",
    "fix_mojibake",
    "mojibake_chars",
    "MOJIBAKE_TABLE",
    "script_profile",
    "script_counts",
    "with_script_profile",
    "SCRIPT_RANGES",
    "scrub_pii",
    "strip_html",
    "lang_scores",
    "lang_id",
    "fingerprint",
    "bpe_pair_counts",
    "bpe_train_merges",
    "bpe_apply_merges",
    "bpe_apply_merges_udf",
    "lm_score",
    "ppl_buckets",
    "readability",
    "top_ngrams",
    "char_entropy",
    "hashing_features",
    "winnow_fingerprints",
    "winnow_shared_pairs",
    "STOPWORDS",
]

# tiny per-language stopword lists (function-word n-gram heuristic)
STOPWORDS: Dict[str, List[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une"],
    "es": ["el", "la", "los", "y", "es", "un", "una"],
    "zh": ["的", "是", "了", "在", "和", "有", "我"],
}


def token_count(text: Column) -> Column:
    """Whitespace tokenization count (empty text → 0)."""
    trimmed = F.trim(text)
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    ).cast("bigint")


# GPT-2-style pre-tokenization classes: a run of letters, a run of digits,
# or a run of other non-space symbols — each optionally preceded by one
# space. Kept to constructs whose semantics are identical in Java regex
# (Spark) and RE2/PCRE (DuckDB/Python) so the count is engine-portable.
BPE_SPLIT_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_token_count(text: Column) -> Column:
    """BPE-ish token count: number of ``BPE_SPLIT_PATTERN`` matches —
    the pre-merge piece count a byte-pair tokenizer would start from
    (an upper bound on, and in practice a close proxy for, the merged
    token count). Pure column expression, one pass, no UDF —
    ``regexp_count`` rather than ``size(regexp_extract_all(...))``,
    which materialized an array holding a copy of every token substring
    just to take its length (~2× the whole pipeline_dedup_stats wall at
    sf5's corpus)."""
    return F.regexp_count(text, F.lit(BPE_SPLIT_PATTERN)).cast("bigint")


def _word_hit_count(lowered_text: Column, words: Sequence[str]) -> Column:
    """Occurrences of any of ``words`` as whole whitespace-delimited
    tokens of ``lowered_text`` — exactly ``size(filter(split(text, '\\s+'),
    t -> t IN words))``, but as ONE codegen'd ``regexp_count`` instead of a
    higher-order function. HOF lambdas are CodegenFallback in Spark and
    disable whole-stage codegen for the stage around them (~10× interpreted
    penalty measured at sf1 — see docs/SCALING.md); the consumed leading
    boundary ``(?:^|\\s)`` plus trailing lookahead ``(?=\\s|$)`` is
    equivalent to token equality and cannot self-overlap."""
    pat = "(?:^|\\s)(?:" + "|".join(words) + ")(?=\\s|$)"
    return F.regexp_count(lowered_text, F.lit(pat))


def quality_features(text: Column) -> Dict[str, Column]:
    """Deterministic quality signals: length, token stats, alpha/space/
    punct character ratios, stopword ratio."""
    n_chars = F.length(text).cast("bigint")
    n_tokens = token_count(text)
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    spaces = F.length(F.regexp_replace(text, r"[^ ]", ""))
    nonspace = (n_chars - spaces).cast("double")
    stop_hits = _word_hit_count(F.lower(F.trim(text)), STOPWORDS["en"])
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "avg_token_len": F.round(nonspace / F.greatest(n_tokens, F.lit(1)).cast("double"), 4),
        "alpha_ratio": F.round(alpha / F.greatest(n_chars, F.lit(1)).cast("double"), 4),
        "stopword_ratio": F.round(
            stop_hits.cast("double") / F.greatest(n_tokens, F.lit(1)).cast("double"), 4),
    }


def quality_score(text: Column) -> Column:
    """Single [0,1] quality score combining the features: rewards
    reasonable token lengths, alphabetic content, and function-word
    presence; penalizes degenerate docs. Deterministic linear blend."""
    f_ = quality_features(text)
    len_ok = F.when((f_["n_tokens"] >= 5) & (f_["n_tokens"] <= 100000), 1.0).otherwise(0.0)
    tok_ok = F.when((f_["avg_token_len"] >= 2.0) & (f_["avg_token_len"] <= 12.0), 1.0).otherwise(0.0)
    return F.round(
        0.3 * len_ok + 0.3 * tok_ok + 0.2 * f_["alpha_ratio"]
        + 0.2 * F.least(f_["stopword_ratio"] * 5, F.lit(1.0)),
        4,
    )


def repetition_features(text: Column, ngram: int = 3) -> Dict[str, Column]:
    """Intra-document repetition signals in the style of the Gopher data
    rules (Rae et al. 2021 §A1.1): duplicate-line fraction, duplicate
    word-n-gram fraction, and the fraction of tokens covered by the most
    frequent token. All row-local array expressions — one pass, no UDF,
    no shuffle.

    * ``dup_line_frac`` — 1 - distinct(lines)/lines; boilerplate pages
      and chat logs repeat whole lines.
    * ``dup_ngram_frac`` — 1 - distinct(n-grams)/n-grams over word
      ``ngram``-grams; machine-generated spam repeats phrases.
    * ``top_token_frac`` — occurrences of the modal token / tokens; a
      degenerate doc ("buy buy buy …") concentrates on one token.
    """
    lines = F.split(text, "\n")
    n_lines = F.size(lines)
    dup_line_frac = F.round(
        F.when(n_lines <= 0, 0.0).otherwise(
            1.0 - F.size(F.array_distinct(lines)).cast("double") / n_lines),
        4)

    tokens = F.split(F.trim(text), r"\s+")
    n_tokens = token_count(text)
    grams = F.when(F.size(tokens) < ngram, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(tokens) - ngram),
            lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, ngram)),
        )
    )
    n_grams = F.size(grams)
    dup_ngram_frac = F.round(
        F.when(n_grams <= 0, 0.0).otherwise(
            1.0 - F.size(F.array_distinct(grams)).cast("double") / n_grams),
        4)

    # modal-token count: sort, then one aggregate pass tracking the
    # longest equal-run — O(n log n) row-local (a transform-over-distinct
    # count would be O(distinct · n), quadratic on long documents)
    run_state = F.aggregate(
        F.array_sort(tokens),
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                 F.lit(0).alias("best")),
        lambda acc, t: F.struct(
            t.alias("prev"),
            F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    top_count = run_state["best"]
    top_token_frac = F.round(
        F.when(n_tokens <= 0, 0.0).otherwise(
            top_count.cast("double") / n_tokens),
        4)
    return {
        "dup_line_frac": dup_line_frac,
        "dup_ngram_frac": dup_ngram_frac,
        "top_token_frac": top_token_frac,
    }


def _gopher_verdict(
    q: Dict[str, Column],
    r: Dict[str, Column],
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    max_dup_line_frac: float = 0.30,
    max_dup_ngram_frac: float = 0.50,
    max_top_token_frac: float = 0.20,
    min_avg_token_len: float = 3.0,
    max_avg_token_len: float = 10.0,
    min_alpha_ratio: float = 0.60,
) -> Column:
    """The Gopher keep/drop boolean from already-computed quality (``q``)
    and repetition (``r``) columns — shared by the row-local
    :func:`gopher_rules` and the relational :func:`gopher_quality`."""
    return (
        (q["n_tokens"] >= min_tokens) & (q["n_tokens"] <= max_tokens)
        & (r["dup_line_frac"] <= max_dup_line_frac)
        & (r["dup_ngram_frac"] <= max_dup_ngram_frac)
        & (r["top_token_frac"] <= max_top_token_frac)
        & (q["avg_token_len"] >= min_avg_token_len)
        & (q["avg_token_len"] <= max_avg_token_len)
        & (q["alpha_ratio"] >= min_alpha_ratio)
    )


def gopher_rules(text: Column, **thresholds) -> Column:
    """Boolean keep/drop in the style of the Gopher quality rules: length
    window, repetition caps (:func:`repetition_features`), mean-word-
    length window and alphabetic-ratio floor. Thresholds are the
    published defaults adapted to whitespace tokens; tune per corpus.

    Row-local Column form — the repetition signals run as higher-order
    array expressions, which are CodegenFallback and ~40× slower than the
    relational form at corpus scale (measured at sf1). Use
    :func:`gopher_quality` for corpus-wide gating; this form remains the
    readable single-row definition and the pytest/differential twin."""
    return _gopher_verdict(quality_features(text), repetition_features(text),
                           **thresholds)


def repetition_metrics(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    mode: str = "auto",
) -> DataFrame:
    """Relational (stream-aggregate) form of :func:`repetition_features`:
    returns ``(id_col, dup_line_frac, dup_ngram_frac, top_token_frac)``
    with values identical to the row-local HOF form (pytest asserts the
    twin equality; the sf0.01 driver oracle checks values).

    ``mode``: ``"subtrees"`` runs the three exploded streams as
    independent aggregate subtrees (below); ``"union"`` fuses them into
    ONE tagged ``(id, kind, hash)`` stream with a two-level aggregate —
    one text scan instead of four, no ``countDistinct`` Expand (distinct
    counts fall out as level-1 group counts), ~3 exchanges instead of
    ~6. ``"auto"`` (default) routes by Catalyst's size estimate: small
    inputs keep the subtree form (independent subtree stages overlap and
    hide the fixed costs that serialize the single fused scan stage —
    measured at sf0.1: subtrees ~1.9 s vs union ~2.8 s), large inputs
    take the union (measured: sf1 3.95 → 3.56 s, sf5 steady ~6.1 →
    ~4.8 s, values identical at every scale; at 100 TB one scan of the
    text column instead of four is the dominant term).

    Why not the row-local form at scale: ``transform``/``aggregate``
    lambdas are CodegenFallback — the per-document gram build + modal-run
    scan measured ~115 s at sf1 (50k docs) vs ~3 s relational. Here every
    signal is an exploded stream into a codegen hash-aggregate:

    * lines    → ``explode(split(text,'\\n'))``          → count / distinct
    * tokens   → ``posexplode``                          → per-token counts → max
    * n-grams  → position sequence + ``element_at`` chain → count / distinct

    A document's exploded rows stay in its input partition, so partial
    aggregation collapses them map-side and the three shuffles move ~one
    slim row per document — linear at 100 TB, no text is shuffled (tokens,
    lines and grams travel as xxhash64 longs; a distinct-count collision
    needs two strings of one document to collide in 64 bits, ~n²/2⁶⁴).
    """
    text = F.col(text_col)
    idc = F.col(id_col)

    mode = _repetition_mode(df, mode)
    if mode == "union":
        return _repetition_metrics_union(df, id_col, text_col, ngram)

    lines = df.select(idc, F.explode(F.split(text, "\n")).alias("_l"))
    l_agg = lines.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_nl"),
        F.countDistinct(F.xxhash64("_l")).alias("_dl"))

    toks = df.select(
        idc, F.posexplode(F.split(F.trim(text), r"\s+")).alias("_i", "_tok"))
    t_agg = (
        toks.groupBy(id_col, F.xxhash64("_tok").alias("_h"))
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy(id_col).agg(F.max("_c").alias("_top"),
                             F.sum("_c").alias("_ntok"))
    )

    # n-grams as arrays_zip of ngram shifted slices, zipped BEFORE the
    # explode: the generate then carries only (id, one gram struct) per
    # output row. The former position-sequence explode carried the full
    # token ARRAY through every generated row (GenerateExec copies the
    # non-generator columns per output — ~400 bytes × one copy per
    # token, tens of GB of row traffic at 1M docs) and then built a
    # concat string per gram; hashing the struct of tokens directly
    # skips the string materialization and is equality-equivalent
    # (tokens are \\s+-split, so no token contains the joiner).
    # Measured 9.2 s → 3.9 s on the gram aggregate at 1M docs.
    words = F.split(F.trim(text), r"\s+")
    base = df.select(idc, words.alias("_w"))
    # clamped at 0 so short documents yield an empty zip (explode then
    # emits nothing, as before) instead of a negative-length slice error
    n_grams_col = F.greatest(F.size("_w") - (ngram - 1), F.lit(0))
    zipped = F.arrays_zip(*[
        F.slice("_w", j + 1, n_grams_col).alias(f"_t{j}")
        for j in range(ngram)
    ])
    grams = base.select(idc, F.explode(zipped).alias("_z")).select(
        idc, F.xxhash64("_z").alias("_g"))
    g_agg = grams.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_ng"),
        F.countDistinct("_g").alias("_dg"))

    # token_count() (0 for whitespace-only text) drives the top-token
    # denominator exactly as the row-local form does; the exploded count
    # (_ntok) counts the single empty token such a text yields
    met = (
        df.select(idc, token_count(text).alias("_nt"))
        .join(l_agg, id_col, "left")
        .join(t_agg, id_col, "left")
        .join(g_agg, id_col, "left")
    )
    return met.select(
        idc,
        F.round(
            F.when(F.coalesce(F.col("_nl"), F.lit(0)) <= 0, 0.0)
            .otherwise(1.0 - F.col("_dl").cast("double") / F.col("_nl")),
            4).alias("dup_line_frac"),
        F.round(
            F.when(F.coalesce(F.col("_ng"), F.lit(0)) <= 0, 0.0)
            .otherwise(1.0 - F.col("_dg").cast("double") / F.col("_ng")),
            4).alias("dup_ngram_frac"),
        F.round(
            F.when(F.col("_nt") <= 0, 0.0)
            .otherwise(F.col("_top").cast("double") / F.col("_nt")),
            4).alias("top_token_frac"),
    )


def _repetition_mode(df: DataFrame, mode: str) -> str:
    """Resolve the repetition-metrics plan shape: ``"auto"`` routes by
    Catalyst's size estimate (small → independent ``subtrees`` whose
    stages overlap; large → the single-scan ``union`` stream), explicit
    modes validate. Shared by :func:`repetition_metrics` and
    :func:`gopher_quality` so both route identically."""
    if mode == "auto":
        mode = "union" if plan_size_estimate(df) > (4 << 20) else "subtrees"
    if mode not in ("union", "subtrees"):
        raise ValueError(f"unknown repetition_metrics mode: {mode!r}")
    return mode


def _repetition_union_agg(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int,
) -> DataFrame:
    """The union form's tagged-stream two-level aggregate:
    ``(id_col, _nl, _dl, _top, _ng, _dg)`` per document that yields any
    stream element (null-text documents fall out; consumers left-join).
    See :func:`_repetition_metrics_union` for the full derivation."""
    text = F.col(text_col)
    idc = F.col(id_col)
    toks = F.split(F.trim(text), r"\s+")
    n_grams_col = F.greatest(F.size(toks) - (ngram - 1), F.lit(0))
    zipped = F.arrays_zip(*[
        F.slice(toks, j + 1, n_grams_col).alias(f"_t{j}")
        for j in range(ngram)
    ])

    def _tag(kind):
        return lambda x: F.struct(
            F.lit(kind).cast("tinyint").alias("k"),
            F.xxhash64(x).alias("h"))

    stream = df.select(
        idc,
        F.explode(F.concat(
            F.transform(F.split(text, "\n"), _tag(0)),
            F.transform(toks, _tag(1)),
            F.transform(zipped, _tag(2)),
        )).alias("_s"),
    ).select(idc, F.col("_s.k").alias("_k"), F.col("_s.h").alias("_h"))
    lvl1 = stream.groupBy(id_col, "_k", "_h").agg(
        F.count(F.lit(1)).alias("_c"))
    return lvl1.groupBy(id_col).agg(
        F.sum(F.when(F.col("_k") == 0, F.col("_c"))).alias("_nl"),
        F.count(F.when(F.col("_k") == 0, F.lit(1))).alias("_dl"),
        F.max(F.when(F.col("_k") == 1, F.col("_c"))).alias("_top"),
        F.sum(F.when(F.col("_k") == 2, F.col("_c"))).alias("_ng"),
        F.count(F.when(F.col("_k") == 2, F.lit(1))).alias("_dg"),
    )


def _rep_frac_cols(nt: Column) -> list:
    """The three repetition fractions over the level-2 aggregate columns
    (``_nl/_dl/_ng/_dg/_top``) with ``nt`` as the token-count
    denominator — the exact expressions both relational forms emit."""
    return [
        F.round(
            F.when(F.coalesce(F.col("_nl"), F.lit(0)) <= 0, 0.0)
            .otherwise(1.0 - F.col("_dl").cast("double") / F.col("_nl")),
            4).alias("dup_line_frac"),
        F.round(
            F.when(F.coalesce(F.col("_ng"), F.lit(0)) <= 0, 0.0)
            .otherwise(1.0 - F.col("_dg").cast("double") / F.col("_ng")),
            4).alias("dup_ngram_frac"),
        F.round(
            F.when(nt <= 0, 0.0)
            .otherwise(F.col("_top").cast("double") / nt),
            4).alias("top_token_frac"),
    ]


def _repetition_metrics_union(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
) -> DataFrame:
    """Single-scan form of :func:`repetition_metrics`: every signal rides
    ONE tagged ``(id, kind, xxhash64)`` stream — kind 0 = line, 1 =
    token, 2 = word-``ngram`` struct — built by per-kind ``transform``
    over the same split arrays the subtree form uses and exploded once
    (the generate carries only the 9-byte struct per output row, never
    the token array). Level 1 groups ``(id, kind, hash)`` to occurrence
    counts (map-side partials collapse a document's repeats in its scan
    partition); level 2 folds the six per-document aggregates in one
    pass: totals are conditional SUMs of the counts, distinct counts
    are conditional COUNTs of the level-1 groups (no countDistinct —
    and so no Expand doubling the gram stream through the exchange),
    and the modal-token count is the conditional MAX.

    Value-identical to the subtree form by construction: the same hash
    function over the same per-kind values, kind in the grouping key, so
    equality classes — and every downstream count — are unchanged; a
    document whose stream is empty (null text) falls out of the
    aggregate and takes the same left-join-null arm. Verified by
    ``exceptAll`` symdiff 0 at sf0.1/sf1/sf5 and the mode-equivalence
    pytest over the degenerate docs.

    Note the standalone form still scans the text twice (the stream and
    the ``token_count`` denominator); :func:`gopher_quality` fuses the
    denominator into its quality-features scan instead — one fewer pass.
    """
    text = F.col(text_col)
    idc = F.col(id_col)
    agg = _repetition_union_agg(df, id_col, text_col, ngram)
    # level-2 COUNT yields 0 (not null) where the subtree form's left
    # join yields null _dl/_dg — unobservable: the consuming whens guard
    # on _nl/_ng first, and those are null/0 in exactly the same rows
    met = (df.select(idc, token_count(text).alias("_nt"))
           .join(agg, id_col, "left"))
    return met.select(idc, *_rep_frac_cols(F.col("_nt")))


def gopher_quality(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    keep_col: str = "keep",
    mode: str = "auto",
    **thresholds,
) -> DataFrame:
    """Corpus-scale Gopher gating: per-document verdict frame
    ``(id_col, dup_line_frac, dup_ngram_frac, top_token_frac, keep_col)``.
    Quality signals are row-local codegen expressions projected into a
    slim ``(id, numbers)`` frame BEFORE the join with
    :func:`repetition_metrics`, so the document text itself never
    shuffles — every joined row is a handful of doubles per document.
    Gate a corpus with a semi-join on the kept ids:

        gq = gopher_quality(docs)
        gated = docs.join(gq.filter('keep').select('doc_id'),
                          'doc_id', 'left_semi')

    Routes by the same size gate as :func:`repetition_metrics`. On the
    large-input (union) path the repetition stream's token-count
    denominator is FUSED into the quality-features scan — the base
    projection already computes the identical ``token_count`` expression
    as ``n_tokens`` — so the text is scanned twice (quality + tagged
    stream), not three times (standalone :func:`repetition_metrics`
    would add its own denominator pass). Value-identical: same
    expression, same rows, same left join against the stream aggregate.
    """
    q = quality_features(F.col(text_col))
    base = df.select(
        F.col(id_col),
        q["n_tokens"].alias("_q_nt"),
        q["avg_token_len"].alias("_q_atl"),
        q["alpha_ratio"].alias("_q_ar"),
    )
    if _repetition_mode(df, mode) == "union":
        agg = _repetition_union_agg(df, id_col, text_col, ngram)
        joined = (base.join(agg, id_col, "left")
                  .select(F.col(id_col), F.col("_q_nt"), F.col("_q_atl"),
                          F.col("_q_ar"), *_rep_frac_cols(F.col("_q_nt"))))
    else:
        r = repetition_metrics(df, id_col=id_col, text_col=text_col,
                               ngram=ngram, mode="subtrees")
        joined = base.join(r, id_col, "left")
    qcols = {"n_tokens": F.col("_q_nt"), "avg_token_len": F.col("_q_atl"),
             "alpha_ratio": F.col("_q_ar")}
    rcols = {k: F.col(k) for k in
             ("dup_line_frac", "dup_ngram_frac", "top_token_frac")}
    return joined.withColumn(
        keep_col, _gopher_verdict(qcols, rcols, **thresholds)
    ).drop("_q_nt", "_q_atl", "_q_ar")


def c4_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words_per_line: int = 5,
    min_sentences: int = 3,
    keep_col: str = "keep",
) -> DataFrame:
    """C4-style quality gating (Raffel et al. 2020 §2.2): line-level and
    document-level heuristics as one relational pass. Returns
    ``(id_col, n_lines, n_kept_lines, kept_char_frac, n_sentences,
    keep_col)``.

    Line rule (C4): a line survives iff it ends in terminal punctuation
    (``. ! ? "``) and has at least ``min_words_per_line`` words. Document
    rule: keep iff at least ``min_sentences`` sentence terminators, no
    curly brace (code), no "lorem ipsum" (placeholder), and at least one
    surviving line. ``kept_char_frac`` is the fraction of the document's
    characters living on surviving lines — the downstream yield of
    line-level filtering.

    Scale shape mirrors :func:`repetition_metrics`: the doc-level flags
    are row-local codegen regex/``instr`` expressions on a slim
    ``(id, numbers)`` projection; the line stats are one
    ``explode(split(text, '\\n'))`` stream into a hash aggregate whose
    partials collapse map-side, so the shuffle moves one counts row per
    document and the text itself never moves. No higher-order functions
    (CodegenFallback) anywhere in the plan.
    """
    text = F.col(text_col)
    idc = F.col(id_col)
    # sentence terminators via nested replace (identical semantics on
    # Spark and DuckDB; regexp_count has no DuckDB twin)
    stripped = F.replace(F.replace(F.replace(
        text, F.lit("."), F.lit("")), F.lit("!"), F.lit("")),
        F.lit("?"), F.lit(""))
    base = df.select(
        idc,
        F.length(text).alias("_nc"),
        (F.length(text) - F.length(stripped)).alias("_nsent"),
        (F.instr(text, "{") > 0).alias("_brace"),
        (F.instr(F.lower(text), "lorem ipsum") > 0).alias("_lorem"),
    )
    lines = df.select(idc, F.explode(F.split(text, "\n")).alias("_l"))
    kept = (
        F.rtrim(F.col("_l")).rlike('[.!?"]$')
        & (F.size(F.split(F.trim(F.col("_l")), r"\s+"))
           >= min_words_per_line)
    )
    l_agg = lines.select(idc, F.col("_l"), kept.alias("_k")).groupBy(
        id_col).agg(
        F.count(F.lit(1)).alias("_nl"),
        F.sum(F.col("_k").cast("long")).alias("_nk"),
        F.sum(F.when(F.col("_k"), F.length("_l")).otherwise(0)
              ).alias("_kc"),
    )
    j = base.join(l_agg, id_col, "left")
    n_kept = F.coalesce(F.col("_nk"), F.lit(0)).cast("bigint")
    return j.select(
        idc,
        F.coalesce(F.col("_nl"), F.lit(0)).cast("bigint").alias("n_lines"),
        n_kept.alias("n_kept_lines"),
        F.round(
            F.coalesce(F.col("_kc"), F.lit(0)).cast("double")
            / F.greatest(F.col("_nc"), F.lit(1)).cast("double"),
            6).alias("kept_char_frac"),
        F.col("_nsent").cast("bigint").alias("n_sentences"),
        ((F.col("_nsent") >= min_sentences) & ~F.col("_brace")
         & ~F.col("_lorem") & (n_kept >= 1)).alias(keep_col),
    )


# explicit code-point ranges (NOT \p{Script} classes — Java regex spells
# them \p{IsCyrillic}, RE2 \p{Cyrillic}; literal ranges mean the Spark
# expression and its DuckDB oracle twin share one semantics)
SCRIPT_RANGES: Dict[str, str] = {
    # À-Ö Ø-ö ø-ɏ: Latin-1 letters minus × (U+00D7) and ÷ (U+00F7),
    # which are math signs — the denominator is letters-only
    "latin": "A-Za-zÀ-ÖØ-öø-ɏ",
    "cyrillic": "Ѐ-ӿ",
    "greek": "Ͱ-Ͽ",
    "arabic": "؀-ۿ",
    "devanagari": "ऀ-ॿ",
    # Han + kana + hangul folded into one CJK bucket: the routing
    # decision downstream is "CJK tokenizer or not"
    "cjk": "一-鿿぀-ヿ가-힯",
}


def _profile_from_counts(
    counts: Dict[str, Column], digits: int = 4
) -> Dict[str, Column]:
    """Shared derivation for both script-profile paths: per-script
    letter fractions over the letters-only denominator plus
    ``dominant_script`` (argmax; ``'other'`` when no known script
    appears; first-in-table order breaks exact ties). Pure JVM column
    math, so the two count sources (regex lengths / the single-pass
    UDF) produce bit-identical profiles."""
    total = sum(counts.values())
    denom = F.greatest(total, F.lit(1)).cast("double")
    out: Dict[str, Column] = {
        f"{name}_frac": F.round(c.cast("double") / denom, digits)
        for name, c in counts.items()
    }
    best = None
    for name, c in counts.items():
        best = c if best is None else F.greatest(best, c)
    dominant = F.lit("other")
    for name in reversed(list(counts)):  # first-in-table wins exact ties
        dominant = F.when(
            (counts[name] > 0) & (counts[name] == best), F.lit(name)
        ).otherwise(dominant)
    out["dominant_script"] = dominant
    return out


def script_profile(text: Column, digits: int = 4) -> Dict[str, Column]:
    """Unicode-script composition of a document — the routing signal for
    multilingual corpora (which tokenizer, which quality model, which
    language bucket): per-script character fractions over the LETTER
    characters (whitespace/digits/punctuation excluded from the
    denominator) plus ``dominant_script`` (argmax, ``'other'`` when no
    known script appears; first-in-table order breaks exact ties).
    One ``length(regexp_replace(...))`` pass per script — row-local
    codegen, zero UDFs, literal ranges portable to the oracle. Fine
    per-column; for corpus-scale scans prefer
    :func:`with_script_profile`, which replaces the six regex passes
    with ONE vectorized codepoint-histogram pass (same output,
    measured ~4x cheaper per byte)."""
    counts = {
        name: F.length(F.regexp_replace(text, f"[^{rng}]", ""))
        for name, rng in SCRIPT_RANGES.items()
    }
    return _profile_from_counts(counts, digits)


def _script_bounds():
    """Parse :data:`SCRIPT_RANGES` (regex literal ``lo-hi`` triplets —
    the single source the DuckDB oracle twin shares) into numpy
    ``searchsorted`` tables: interleaved codepoint boundaries plus the
    bucket index each gap maps to (-1 = no script)."""
    import numpy as np

    items = []
    for b, (_name, rng) in enumerate(SCRIPT_RANGES.items()):
        if len(rng) % 3:
            raise ValueError(f"SCRIPT_RANGES[{_name}]: not lo-hi triplets")
        for i in range(0, len(rng), 3):
            lo, dash, hi = rng[i], rng[i + 1], rng[i + 2]
            if dash != "-":
                raise ValueError(f"SCRIPT_RANGES[{_name}]: bad triplet")
            items.append((ord(lo), ord(hi), b))
    items.sort()
    for (_, hi_prev, _b1), (lo, _, _b2) in zip(items, items[1:]):
        if lo <= hi_prev:  # overlap would double-count a codepoint
            raise ValueError("SCRIPT_RANGES overlap")
    bounds, bucket = [], [-1]  # idx 0: below the first range
    for lo, hi, b in items:
        bounds.extend([lo, hi + 1])
        bucket.extend([b, -1])
    return (np.asarray(bounds, dtype=np.uint32),
            np.asarray(bucket, dtype=np.int64))


def script_counts(text: Column) -> Column:
    """Per-script letter counts of :data:`SCRIPT_RANGES` as ONE struct
    column computed in a single vectorized pass (Arrow batch → one
    utf-32 codepoint array → ``searchsorted`` bucket lookup → one
    ``bincount``) — the corpus-scale replacement for six per-script
    ``regexp_replace`` scans of every row. Null text yields null
    counts, matching the regex path's null semantics."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType, StructField, StructType

    names = list(SCRIPT_RANGES)
    nb = len(names)
    bounds, bucket = _script_bounds()
    out_type = StructType(
        [StructField(n, LongType(), True) for n in names])

    @pandas_udf(out_type)
    def _counts(s: pd.Series) -> pd.DataFrame:
        nrow = len(s)
        if nrow == 0:
            return pd.DataFrame(
                {n: pd.Series([], dtype="Int64") for n in names})
        nulls = s.isna().to_numpy()
        texts = s.fillna("")
        # one codepoint array for the whole batch: utf-32 units ==
        # Python codepoints == what Java regex counts for BMP ranges
        joined = "".join(texts)
        cps = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32)
        lens = np.fromiter((len(t) for t in texts), dtype=np.int64,
                           count=nrow)
        rows = np.repeat(np.arange(nrow, dtype=np.int64), lens)
        buck = bucket[np.searchsorted(bounds, cps, side="right")]
        m = buck >= 0
        counts = np.bincount(rows[m] * nb + buck[m],
                             minlength=nrow * nb).reshape(nrow, nb)
        out = pd.DataFrame(
            {n: pd.array(counts[:, j], dtype="Int64")
             for j, n in enumerate(names)})
        if nulls.any():
            out[nulls] = pd.NA
        return out

    return _counts(text)


def with_script_profile(
    df: DataFrame, text: Column, digits: int = 4
) -> DataFrame:
    """Single-pass script profile over a corpus: adds the
    ``<script>_frac`` columns and ``dominant_script`` to ``df``.
    The counts come from :func:`script_counts` (one vectorized
    codepoint pass per row instead of six regex scans); fractions,
    rounding and the argmax stay JVM column expressions via
    :func:`_profile_from_counts`, so the output is bit-identical to
    :func:`script_profile` and the same DuckDB oracle twin verifies
    both. The UDF lands in its own projection (Catalyst does not
    collapse projects that would duplicate non-cheap expressions), so
    the struct is computed once per row."""
    tmp = "_script_counts"
    staged = df.withColumn(tmp, script_counts(text))
    counts = {n: F.col(tmp)[n] for n in SCRIPT_RANGES}
    prof = _profile_from_counts(counts, digits)
    return staged.select(
        *[F.col(c) for c in df.columns],
        *[v.alias(k) for k, v in prof.items()],
    )


def _mojibake_table():
    """(artifact, repaired) pairs for the classic crawl corruption:
    UTF-8 bytes re-decoded as Windows-1252 (latin-1 for the five bytes
    cp1252 leaves undefined) — 'don’t' arriving as 'donâ€™t'. Derived
    from the encodings themselves, not hand-typed; longest artifacts
    first so a 3-byte sequence never half-repairs through its 2-byte
    suffix."""
    chars = "’‘“”„—–…•€™ «»°éèêëàâäôöûüùîïçñíóúáãõß"
    table = []
    for ch in chars:
        raw = ch.encode("utf-8")
        try:
            bad = raw.decode("cp1252")
        except UnicodeDecodeError:
            bad = raw.decode("latin-1")
        if bad != ch:
            table.append((bad, ch))
    table.sort(key=lambda p: (-len(p[0]), p[0]))
    return table


MOJIBAKE_TABLE = _mojibake_table()


def fix_mojibake(text: Column) -> Column:
    """Repair UTF-8-decoded-as-cp1252 mojibake ('â€™' → '’', 'Ã©' → 'é',
    …) with one literal ``replace`` chain — row-local codegen, zero
    UDFs, and (literal replaces being engine-identical) directly
    oracle-able against DuckDB's ``replace``. Covers the smart-quote/
    dash/ellipsis family and the common Western accented letters; a
    general confidence-ranked repairer (ftfy) plugs in at the same
    column position for long-tail encodings."""
    out = text
    for bad, good in MOJIBAKE_TABLE:
        out = F.replace(out, F.lit(bad), F.lit(good))
    return out


def mojibake_chars(text: Column) -> Column:
    """How corrupted is this document: the number of characters removed
    by :func:`fix_mojibake` (each repaired artifact collapses 2-3
    chars to 1). 0 = clean; use as a filter signal or to route docs
    to a heavyweight repairer."""
    return (F.length(text) - F.length(fix_mojibake(text))).cast("bigint")


# Redaction patterns kept to constructs with identical semantics in Java
# regex (Spark) and RE2/PCRE (DuckDB) so scrub results are engine-portable.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "digit_run": r"[0-9][0-9 ()\.-]{7,}[0-9]",  # phone/account-shaped runs
}


def scrub_pii(text: Column, replacement: str = "<PII>") -> Dict[str, Column]:
    """PII / pattern scrubbing for training corpora: redact emails, URLs
    and long digit runs (phone/account shapes) with ``replacement``, and
    count each hit type. Pure ``regexp_replace`` / ``regexp_count``
    column expressions — one pass, no UDF. A production deployment adds
    locale-specific patterns and NER; the operator shape (ordered
    redaction cascade + per-type counts) is the same."""
    out: Dict[str, Column] = {}
    scrubbed = text
    for name, pat in PII_PATTERNS.items():
        out[f"n_{name}"] = F.regexp_count(text, F.lit(pat)).cast("bigint")
        scrubbed = F.regexp_replace(scrubbed, pat, replacement)
    out["scrubbed"] = scrubbed
    return out


# Entity map applied after tag stripping; &amp; last so freshly produced
# ampersands are not double-decoded differently across engines.
_HTML_ENTITIES = [
    ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&"),
]


def strip_html(html: Column) -> Column:
    """Crude HTML → text for crawl ingestion: drop ``<script>``/``<style>``
    blocks, strip every remaining tag, decode the common entities, and
    collapse whitespace. Pure ``regexp_replace``/``replace`` column
    expressions — one codegen pass, no UDF, no parser library. Patterns
    are kept to constructs with identical semantics in Java regex
    (Spark) and RE2 (DuckDB) — no backreferences — so the result is
    engine-portable and oracle-checkable. A production extractor adds
    DOM-aware boilerplate removal (readability/trafilatura class); the
    operator shape — binary/raw payload in, clean text column out, all
    row-local — is the same."""
    out = F.regexp_replace(html, r"(?is)<script[^>]*>.*?</script>", " ")
    out = F.regexp_replace(out, r"(?is)<style[^>]*>.*?</style>", " ")
    out = F.regexp_replace(out, r"(?s)<[^>]+>", " ")
    for ent, rep in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def lang_scores(text: Column) -> Dict[str, Column]:
    """Per-language stopword hit counts over the token stream — one
    codegen'd ``regexp_count`` per language (see :func:`_word_hit_count`
    for why not a higher-order ``filter``)."""
    lowered = F.lower(F.trim(text))
    return {
        lang: _word_hit_count(lowered, words)
        for lang, words in STOPWORDS.items()
    }


def lang_id(text: Column, default: str = "en") -> Column:
    """Predicted language = argmax of stopword hits (ties and zero hits →
    ``default``, ties broken by STOPWORDS declaration order). A real
    deployment swaps in larger n-gram tables; the operator shape — argmax
    over per-class scores, one pass — is the same.

    The argmax is ``array_max`` over ``(score, -declaration_rank, lang)``
    structs so each language's score expression appears exactly ONCE in the
    plan — the natural nested-CASE chain re-embeds every earlier score in
    each later branch (O(langs²) regexp evaluations; measured 5× slower
    at sf1)."""
    scores = lang_scores(text)
    entries = [
        F.struct(score.alias("s"), F.lit(-i).alias("r"), F.lit(lang).alias("l"))
        for i, (lang, score) in enumerate(scores.items())
    ]
    best = F.array_max(F.array(*entries))
    return F.when(best["s"] > 0, best["l"]).otherwise(F.lit(default))


def fingerprint(text: Column) -> Column:
    """Normalized content fingerprint: lowercase, every non-alphanumeric
    run becomes one space (so punctuation is a token boundary, not
    deletion — "don't" and "dont" stay distinct), trim, md5. Stable
    under case/punctuation/whitespace noise — the key for exact dedup
    across re-crawls.

    Normalization is split + array_join, NOT regexp_replace: Java's
    regex replace rebuilds the string through a StringBuffer per match
    and measured 20× slower than the split form over the sf5 corpus
    (8.6 s vs 0.4 s for the same scan; it was the entire
    pipeline_dedup_stats budget)."""
    norm = F.trim(F.array_join(F.split(F.lower(text), "[^a-z0-9]+"), " "))
    return F.md5(norm)


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    k: int = 20,
) -> DataFrame:
    """One iteration of byte-pair-encoding tokenizer training: the
    ``k`` most frequent ADJACENT character pairs over the corpus,
    weighted by word frequency (Sennrich et al. 2016 — each BPE merge
    step picks exactly this argmax, re-counts, repeats). Returns
    ``(pair, n)`` ordered by ``n`` desc, ``pair`` asc.

    The scale trick is the order of operations: the corpus first
    collapses to its **vocabulary** (word → count, one shuffle keyed by
    word with map-side combine — a 100 TB corpus has a few tens of
    millions of distinct words, i.e. ~0.01% of its tokens), and only
    then does each *distinct* word explode into its adjacent pairs,
    pre-weighted by its count. Pair counting therefore costs
    O(vocabulary · word-length), not O(corpus); the final pair
    aggregate and TakeOrdered(k) move a few million short strings.
    Everything is codegen column expressions — no Python in the plan.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    words = (
        df.select(F.explode(
            F.split(F.trim(F.lower(F.col(f"`{text_col}`"))), r"\s+")
        ).alias("w"))
        .filter(F.col("w") != "")
    )
    wc = words.groupBy("w").agg(F.count("*").alias("_n"))
    pairs = (
        wc.filter(F.length("w") >= 2)
        .select(
            F.explode(F.expr(
                "transform(sequence(1, char_length(w) - 1), "
                "i -> substring(w, i, 2))")).alias("pair"),
            "_n",
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("_n").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(k)
    )


def _bpe_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus → (word, count) vocabulary — the one corpus-sized shuffle
    every BPE step shares (see :func:`bpe_pair_counts` for why training
    runs over the vocabulary, never the token stream)."""
    return (
        df.select(F.explode(
            F.split(F.trim(F.lower(F.col(f"`{text_col}`"))), r"\s+")
        ).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w").agg(F.count("*").alias("_n"))
    )


def _spaced_chars(word: Column) -> Column:
    """A word as its space-joined character symbols — BPE's initial
    segmentation state ('hello' → 'h e l l o')."""
    return F.trim(F.regexp_replace(word, "(.)", "$1 "))


def bpe_train_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 6,
    vocab: Optional[DataFrame] = None,
) -> List[str]:
    """Learn the first ``n_merges`` BPE merges over the corpus (Sennrich
    et al. 2016): repeatedly pick the most frequent adjacent symbol pair
    (count desc, pair asc on ties), merge it everywhere, re-count.
    Returns the merge list, each merge as ``"a b"`` (the pair joined by
    one space; the merged symbol is the pair with the space removed) —
    the input :func:`bpe_apply_merges` replays on any word column.

    Scale: the corpus collapses to its vocabulary once (persisted for
    the loop — a few tens of millions of rows at 100 TB); each iteration
    is then ONE vocabulary-sized aggregate plus a 1-row collect for the
    argmax. The driver loop is over ``n_merges`` (a constant), never
    over data."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    # callers that ALSO consume the vocabulary (the encode query's
    # top-k segmentation) pass their own persisted (w, _n) frame so the
    # corpus collapses exactly once; ownership follows construction —
    # a vocab built here is unpersisted here, a passed one is not
    own_vocab = vocab is None
    if own_vocab:
        vocab = _bpe_vocab(df, text_col).persist()
    state = vocab.select("w", "_n", _spaced_chars(F.col("w")).alias("_s"))
    merges: List[str] = []
    # each iteration's state is persisted and the previous one released:
    # without the barrier, iteration i re-executes all i-1 earlier merge
    # folds over the vocabulary (quadratic total fold work, and the
    # nested-HOF expression tree deepens every round); with it each fold
    # runs exactly once against the previous materialized state
    _state_caches: List[DataFrame] = []
    try:
        for _ in range(n_merges):
            pairs = (
                state.select(F.split("_s", " ").alias("_a"), "_n")
                # guard: sequence(1, 0) is DESCENDING [1, 0] in Spark, so
                # single-symbol words must be filtered, not transformed
                .filter(F.size("_a") >= 2)
                .select(
                    F.explode(F.expr(
                        "transform(sequence(1, size(_a) - 1), "
                        "i -> concat(_a[i-1], ' ', _a[i]))")).alias("pair"),
                    "_n",
                )
            )
            best = (
                pairs.groupBy("pair").agg(F.sum("_n").alias("n"))
                .orderBy(F.col("n").desc(), F.col("pair").asc())
                .limit(1).collect()
            )
            if not best:
                break
            p = best[0]["pair"]
            merges.append(p)
            state = state.withColumn(
                "_s", _apply_one_merge(F.col("_s"), p)).persist()
            _state_caches.append(state)
            if len(_state_caches) > 1:
                # the new state is still lazy; only the grandparent is
                # certainly materialized past (the next collect reads
                # the parent) — release states two generations back
                _state_caches.pop(0).unpersist()
    finally:
        for s in _state_caches:
            s.unpersist()
        if own_vocab:
            vocab.unpersist()
    return merges


def _apply_one_merge(state: Column, pair: str) -> Column:
    """Merge every leftmost non-overlapping occurrence of the symbol
    pair in a space-separated state string — a left FOLD over the
    symbols (``aggregate`` HOF, still whole-stage codegen): when the
    accumulator's last token is ``a`` and the next symbol is ``b``,
    append ``b`` with no separator (forming the merged token), else
    append with a space. The fold is exactly Sennrich's
    ``re.sub(r'(?<!\\S)a b(?!\\S)')`` semantics — zero-width
    boundaries, so a run like 'l l l l' merges to 'll ll', which a
    space-PADDED literal replace gets wrong ('ll l l': the consumed
    trailing space breaks the next adjacent match). Tokens are
    space-free by construction, so "ends with ' '+a" ⇔ "last token is
    exactly a"; a freshly merged token is strictly longer than ``a``
    and can never re-merge inside the same pass (non-overlap)."""
    a, b = pair.split(" ")
    return F.aggregate(
        F.split(state, " "),
        F.lit(""),
        lambda acc, x: F.when(
            (x == F.lit(b)) & ((acc == F.lit(a)) | acc.endswith(" " + a)),
            F.concat(acc, x),
        ).when(acc == "", x).otherwise(F.concat(acc, F.lit(" "), x)),
    )


def bpe_apply_merges(word: Column, merges: Sequence[str]) -> Column:
    """Encode a word column with a learned merge list: start from
    space-joined characters, apply each merge in training order (one
    symbol fold per merge — see :func:`_apply_one_merge`). Returns the
    space-separated BPE segmentation. Pure codegen column expressions —
    the merge list is a compiled-in constant, so encoding a 100 TB
    corpus is one row-local pass, no join, no UDF.

    Plan-size bound: the pass is row-local but the PLAN grows linearly
    in the merge count (one fold expression per merge) — right for
    demo/ablation vocabularies (tens of merges), wrong for a production
    32k-merge list, where Catalyst/Janino costs explode. At vocabulary
    scale use :func:`bpe_apply_merges_udf` — identical semantics
    (twin-equality pytest-pinned), flat single-node plan, merge list in
    the UDF's broadcast closure."""
    s = _spaced_chars(word)
    for p in merges:
        s = _apply_one_merge(s, p)
    return s


def bpe_apply_merges_udf(merges: Sequence[str]):
    """Vocabulary-scale twin of :func:`bpe_apply_merges`: identical
    in-training-order leftmost-non-overlapping merge semantics (twin
    equality is pytest-pinned at small n), but the merge list lives in
    the Arrow-batched UDF's broadcast closure instead of the plan —
    :func:`bpe_apply_merges` compiles ONE fold expression PER merge, so
    its plan grows linearly and a production 32k-merge vocabulary
    explodes Catalyst/Janino, while this form is one flat vectorized
    node at any merge count. Returns a callable to apply to the word
    column. Per-batch memoization encodes each DISTINCT word once
    (Zipf makes that the dominant win on real corpora); per-merge
    token-set skip makes untouched merges O(1)."""
    from pyspark.sql.functions import pandas_udf

    pairs = [tuple(m.split(" ")) for m in merges]

    @pandas_udf("string")
    def enc(words: pd.Series) -> pd.Series:
        cache: dict = {}

        def one(w):
            if w is None:
                return None
            hit = cache.get(w)
            if hit is not None:
                return hit
            toks = list(w)
            present = set(toks)
            for a, b in pairs:
                if a not in present or b not in present:
                    continue
                out, i, n = [], 0, len(toks)
                merged = False
                while i < n:
                    if i + 1 < n and toks[i] == a and toks[i + 1] == b:
                        out.append(a + b)
                        merged = True
                        i += 2
                    else:
                        out.append(toks[i])
                        i += 1
                if merged:
                    toks = out
                    present = set(toks)
            r = " ".join(toks)
            cache[w] = r
            return r

        return words.map(one)

    return enc


def lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.1,
    digits: int = 6,
) -> DataFrame:
    """Corpus-bigram language-model score per document: the mean
    Laplace-smoothed log-probability of the document's word bigrams
    under a model fit on the WHOLE corpus — the CCNet-style
    "perplexity filter" signal (Wenzek et al. 2020 score against a
    KenLM model; here the model is the corpus itself, so the score
    flags documents whose word sequences are atypical for the corpus:
    gibberish, boilerplate soups, wrong-language fragments score low).
    Higher = more typical. Returns ``(id_col, n_bigrams, lm_logprob)``
    (mean log-prob rounded to ``digits``); documents with fewer than 2
    tokens have no bigrams and are omitted.

    ``P(w2|w1) = (C(w1,w2) + α) / (C(w1) + α·V)`` with ``V`` the
    corpus vocabulary size — additive smoothing keeps unseen-in-context
    pairs finite without a backoff table.

    Scale (100 TB): the corpus scans once into a codegen bigram stream
    (explode over zipped token slices — two words per row, the text
    never moves). The model IS that stream aggregated: bigram counts
    (one gram-keyed shuffle, map-side combine), context counts and V
    derived from it (reusing the reduced table). Scoring joins the
    per-doc bigram multiplicities against the bigram model on the gram
    key — co-partitioned with the model build — then one doc-keyed
    mean. Nothing document-sized shuffles.

    Caching contract: the reduced gram tables are ``persist()``-ed
    (MEMORY_AND_DISK) because two consumers each would otherwise
    re-derive the explode+aggregate lineage (measured 2× the operator
    at sf5). They stay cached for the session so repeated scoring runs
    reuse the model; release them with
    :func:`feldman_spark.ops.sizing.release` once
    scoring is done (long-lived sessions interleaving MANY heavy
    operators), or ``spark.catalog.clearCache()`` which the bench/sweep
    harnesses call between queries.
    """
    toks = F.split(F.trim(F.lower(F.col(f"`{text_col}`"))), r"\s+")
    base = df.select(F.col(f"`{id_col}`"), toks.alias("_t")).filter(
        (F.size("_t") >= 2) & (F.element_at("_t", 1) != ""))
    bigrams = base.select(
        F.col(f"`{id_col}`"),
        F.explode(F.expr(
            "transform(sequence(1, size(_t) - 1), "
            "i -> struct(_t[i-1] AS w1, _t[i] AS w2))")).alias("_b"),
    ).select(F.col(f"`{id_col}`"), F.col("_b.w1").alias("_w1"),
             F.col("_b.w2").alias("_w2"))

    # per-doc multiplicities: the scoring join moves one row per
    # DISTINCT (doc, bigram), not one per token. PERSISTED: this
    # reduced table feeds both the model build and the scoring join,
    # and the model feeds context counts and the vocabulary — without
    # the persists Catalyst re-derives the explode+aggregate lineage
    # once per consumer (measured 2× the whole operator at the sf5
    # corpus). MEMORY_AND_DISK by default; the persisted rows are the
    # post-aggregation gram tables, never raw text.
    doc_bg = persist_scoped(bigrams.groupBy(id_col, "_w1", "_w2").agg(
        F.count("*").alias("_k")))
    model = persist_scoped(doc_bg.groupBy("_w1", "_w2").agg(
        F.sum("_k").alias("_c12")))
    ctx = model.groupBy("_w1").agg(F.sum("_c12").alias("_c1"))
    vocab = (
        model.select(F.col("_w1").alias("_w"))
        .unionByName(model.select(F.col("_w2").alias("_w")))
        .distinct().agg(F.count("*").alias("_v"))
    )
    logp = F.log(
        (F.col("_c12") + F.lit(alpha))
        / (F.col("_c1") + F.lit(alpha) * F.col("_v")))
    return (
        doc_bg.join(model, ["_w1", "_w2"])
        .join(ctx, "_w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.sum("_k").cast("bigint").alias("n_bigrams"),
            F.round(
                F.sum(F.col("_k") * logp) / F.sum("_k"), digits
            ).alias("lm_logprob"),
        )
    )


def ppl_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.1,
    digits: int = 6,
    cuts: Sequence[float] = (1 / 3, 2 / 3),
    exact: bool = True,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3): score
    every document against the corpus bigram LM (:func:`lm_score`), cut
    the corpus at the ``cuts`` quantiles of the score, and label each
    document ``head`` / ``middle`` / ``tail`` — head = highest mean
    log-probability = lowest perplexity = most fluent-for-this-corpus.
    CCNet trains on head+middle and drops or down-weights tail; the
    bucket column is the knob. Returns ``(id_col, n_bigrams,
    lm_logprob, bucket)``; documents with fewer than 2 tokens have no
    bigrams and are omitted (as in :func:`lm_score`).

    Scale: the LM and scoring are :func:`lm_score`'s shuffle-slim
    shapes; the thresholds are ONE aggregate over the score column
    broadcast back as a single row, and the bucket label is a row-local
    comparison — no rank/ntile global sort (an ntile over 1e9 docs
    funnels the corpus through one reducer; two threshold comparisons
    don't). ``exact=True`` uses the exact ``percentile`` aggregate —
    engine-portable for the value-oracle gate but it buffers the score
    column per partition; at true corpus scale pass ``exact=False`` for
    the mergeable ``approx_percentile`` sketch at the same call site
    (a11's documented exact/sketch pairing).
    """
    if len(cuts) != 2:
        raise ValueError(
            f"ppl_buckets: cuts must be exactly 2 quantiles (got {len(cuts)})")
    lo, hi = float(cuts[0]), float(cuts[1])
    if not (0.0 < lo < hi < 1.0):
        raise ValueError(
            f"ppl_buckets: cuts must satisfy 0 < lo < hi < 1 (got {cuts})")
    # persist the doc-keyed scores: the threshold aggregate AND the
    # final labeling both consume them, and without the barrier each
    # re-runs the scoring joins over the gram tables (r10: measured
    # ~20% of the operator at sf0.1). Same persist_scoped lifecycle
    # as the gram tables it derives from.
    scored = persist_scoped(lm_score(df, id_col, text_col, alpha, digits))
    fn = "percentile" if exact else "approx_percentile"
    th = scored.agg(
        F.expr(f"{fn}(lm_logprob, array({lo!r}, {hi!r}))").alias("_th"))
    return (
        scored.crossJoin(F.broadcast(th))
        .select(
            id_col, "n_bigrams", "lm_logprob",
            F.when(F.col("lm_logprob") >= F.element_at("_th", 2),
                   F.lit("head"))
            .when(F.col("lm_logprob") >= F.element_at("_th", 1),
                  F.lit("middle"))
            .otherwise(F.lit("tail")).alias("bucket"),
        )
    )


def readability(text: Column, digits: int = 4) -> Dict[str, Column]:
    """Flesch-reading-ease-style readability features as pure column
    expressions (beyond reference — the classic prose-complexity quality
    signal used alongside Gopher/C4 gates when curating educational
    corpora). Returns ``n_words``, ``n_sentences``, ``n_syllables``
    (vowel-group proxy: maximal ``[aeiouy]+`` runs, the standard
    dictionary-free approximation) and ``flesch`` =
    ``206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)``.
    Sentence boundaries are maximal ``[.!?]+`` runs; text without any
    terminator counts as one sentence, an empty text scores NULL. All
    whole-stage codegen: one ``split`` + two ``regexp_count`` per row,
    no UDF, no shuffle.
    """
    t = F.trim(text)
    words = F.when(t == "", F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))).cast("bigint")
    sentences = F.greatest(
        F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1)).cast("bigint")
    syllables = F.regexp_count(F.lower(t), F.lit("[aeiouy]+")).cast("bigint")
    flesch = F.when(
        words > 0,
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * (words.cast("double") / sentences)
            - F.lit(84.6) * (syllables.cast("double") / words),
            digits))
    return {
        "n_words": words,
        "n_sentences": sentences,
        "n_syllables": syllables,
        "flesch": flesch,
    }


def top_ngrams(
    df: DataFrame,
    text_col: str = "text",
    n: int = 2,
    k: int = 25,
    per_doc_distinct: bool = False,
) -> DataFrame:
    """EXACT corpus-level top-``k`` word n-grams — ``(ngram, n_docs,
    total_count)`` ordered by total count descending, n-gram ascending
    on ties (beyond reference — corpus boilerplate discovery: the most
    frequent n-grams ARE the site chrome / licence blurbs / prompt
    templates that repetition filters need as input, and the exact
    counterpart to the sketched ``a12_heavy_hitters``). With
    ``per_doc_distinct`` the total counts each document at most once
    (document frequency as the ranking key).

    Plan shape (100 TB): the gram stream is the codegen explode form
    (see :func:`~feldman_spark.pipeline.dedup._shingle_stream` for why
    stream beats HOF arrays); the count is ONE ``groupBy(gram)``, which
    partial-aggregates map-side — the shuffle carries distinct grams
    per partition with counts, not occurrences. The final top-k is a
    ``TakeOrderedAndProject`` over gram counts (per-partition heaps +
    a driver-side merge of k·partitions rows), never a full sort.
    """
    if n < 1 or k < 1:
        raise ValueError(f"top_ngrams: n and k must be >= 1 (n={n}, k={k})")
    words = F.split(F.col(text_col), " ")
    base = df.select(F.monotonically_increasing_id().alias("_id"),
                     words.alias("_w"))
    idx = F.explode(
        F.when(F.size("_w") >= n, F.sequence(F.lit(0), F.size("_w") - n))
        .otherwise(F.array().cast("array<int>"))).alias("_i")
    parts: List[Column] = []
    for j in range(n):
        if j:
            parts.append(F.lit(" "))
        parts.append(F.element_at("_w", F.col("_i") + j + 1))
    stream = base.select("_id", idx, "_w").select(
        "_id", F.concat(*parts).alias("ngram"))
    if per_doc_distinct:
        stream = stream.distinct()
    counts = stream.groupBy("ngram").agg(
        F.count_distinct("_id").alias("n_docs"),
        F.count("*").alias("total_count"))
    return (counts
            .orderBy(F.col("total_count").desc(), F.col("ngram").asc())
            .limit(k))


def char_entropy(text: Column, digits: int = 4) -> Column:
    """Shannon entropy (bits) of each row's CHARACTER distribution —
    the cheap gibberish/junk detector that catches what word-level
    quality features miss: binary blobs decoded as text, keyboard
    mashing, single-character padding (→ near 0 bits), base64/hex
    spew (→ ~4-6 bits, suspiciously uniform), where natural prose in
    alphabetic scripts sits ~4-4.5 bits. NULL for null or empty text
    (no distribution to measure).

    One vectorized pass per Arrow batch (the ``script_counts``
    machinery): a single utf-32 codepoint array for the whole batch,
    per-row unique counting via one ``np.unique`` over
    row-offset-packed keys — no per-row Python, no character explode
    into the engine. The final rounding is a JVM expression.

    Scale (100 TB): row-local (embarrassingly parallel, no shuffle);
    cost is one O(batch chars) sort inside numpy per Arrow batch.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def _ent(s: pd.Series) -> pd.Series:
        nrow = len(s)
        if nrow == 0:
            return pd.Series([], dtype="Float64")
        nulls = s.isna().to_numpy()
        texts = s.fillna("")
        joined = "".join(texts)
        cps = np.frombuffer(
            joined.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
        lens = np.fromiter((len(t) for t in texts), dtype=np.int64,
                           count=nrow)
        rows = np.repeat(np.arange(nrow, dtype=np.int64), lens)
        # pack (row, codepoint) into one sortable key: cp < 0x110000
        keys = rows * 0x110000 + cps
        uk, cnt = np.unique(keys, return_counts=True)
        urows = uk // 0x110000
        p = cnt / lens[urows]
        ent = np.zeros(nrow, dtype=np.float64)
        np.add.at(ent, urows, -p * np.log2(p))
        out = pd.array(ent, dtype="Float64")
        out[nulls | (lens == 0)] = pd.NA
        return pd.Series(out, dtype="Float64")

    return F.bround(_ent(text), digits)


def hashing_features(
    df: DataFrame,
    id_col: str,
    text: Column,
    n_buckets: int = 64,
) -> DataFrame:
    """Hashing-trick featurization (Weinberger et al. 2009): tokens
    hash into a FIXED bucket space, so the featurizer needs no
    vocabulary pass, no fitted state, and no driver-side dictionary —
    the streaming-friendly vectorizer feeding the learned quality
    classifier and any linear probe at corpus scale. Output: one row
    per (doc, bucket) with the token count that landed there —
    the sparse CSR triplet form.

    The hash is the first 8 hex digits of ``md5(token)`` mod
    ``n_buckets`` — deterministic, engine-portable (the md5-variate
    convention used throughout this package), and independent of
    partitioning. Tokens are lowercased whitespace splits; empty
    tokens drop.

    Scale (100 TB): one codegen token-stream scan (explode stays in
    the same stage as the scan), one partial-aggregating exchange
    carrying (doc, bucket) pairs — bounded by docs × n_buckets, not
    by token count. No UDFs, no fitted state, no second pass.
    """
    if n_buckets < 2:
        raise ValueError(
            f"hashing_features: n_buckets must be >= 2, got {n_buckets}")
    toks = F.explode(
        F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != ""))
    d = df.select(F.col(f"`{id_col}`"), toks.alias("_tok"))
    bucket = (F.conv(F.substring(F.md5(F.col("_tok")), 1, 8), 16, 10)
              .cast("long") % F.lit(int(n_buckets))).alias("bucket")
    return (d.groupBy(F.col(f"`{id_col}`"), bucket)
            .agg(F.count("*").alias("n"))
            .select(F.col(f"`{id_col}`"), "bucket", "n"))


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text: Column,
    k: int = 12,
    w: int = 4,
    cache: bool = False,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm): hash every ``k``-character gram, slide
    a ``w``-hash window, keep each window's minimum (leftmost on ties)
    — a position-aware fingerprint set with the winnowing GUARANTEE
    that any shared substring of length ≥ ``k + w - 1`` produces at
    least one shared fingerprint, at ~2/(w+1) the density of the full
    gram stream. The local-similarity primitive behind plagiarism/
    clone/boilerplate detection that whole-document minhash can't do:
    minhash says HOW similar, winnowing says WHERE.

    Returns distinct ``(id, fp_pos, fp_hash)`` rows (1-based character
    position). Documents shorter than ``k`` produce no fingerprints;
    documents with fewer than ``w`` grams produce the single overall
    minimum (one clipped window — the standard short-input case).

    Selection is ONE integer expression: each window start takes
    ``min(hash · 2³¹ + pos)`` over its forward frame — the packed key
    makes "min hash, leftmost tie" a plain frame MIN, exact in int64
    (hash < 2³², pos < 2³¹), portable to any engine with the same
    arithmetic, no argmin struct tricks. The hash is the md5-variate
    convention (first 8 hex digits), position counting is by
    CHARACTER, so cross-engine parity holds for BMP-safe text.

    Scale (100 TB): the whole selection runs INSIDE the scan stage —
    the packed gram keys build as one ``transform`` array per document
    and each window minimum is an ``array_min(slice(...))`` over it
    (w comparisons per start, pure codegen), so no gram row ever
    leaves its scan task: the ONLY exchange is the partial-aggregating
    distinct over the ~2/(w+1)-thinned fingerprint rows.
    ``array_distinct`` pre-thins consecutive windows that share a
    minimum before the explode, so the distinct's map side sees
    fingerprint-density rows, not gram-density rows. (The previous
    form shuffled and sorted the FULL gram stream — one row per
    character — through a doc-keyed Window; at sf1 that exchange
    carried ~72M rows that this form never materializes.)

    ``cache=True`` persists the fingerprint table (released by
    :func:`feldman_spark.ops.sizing.release`) — for callers that fan the
    fingerprints into several consumers (profile + sharing joins):
    without the barrier each consumer re-runs the md5-per-character
    gram stream, the densest compute in the package.
    """
    if k < 2:
        raise ValueError(f"winnow_fingerprints: k must be >= 2, got {k}")
    if w < 2:
        raise ValueError(f"winnow_fingerprints: w must be >= 2, got {w}")

    idc = F.col(f"`{id_col}`")
    n_grams = F.length(text) - F.lit(k) + 1
    d = (df.select(idc, text.alias("_t"), n_grams.alias("_ng"))
         .filter(F.col("_ng") >= 1))
    # packed key per gram position: hash * 2^31 + pos (exact in int64)
    keys = F.expr(
        f"transform(sequence(1, _ng), p -> "
        f"cast(conv(substring(md5(substring(_t, p, {k})), 1, 8), 16, 10) "
        f"as bigint) * {2 ** 31}L + p)")
    # one window min per start position 1..max(ng-w+1, 1); slice clips
    # at the array end exactly like the old frame clipped at the
    # partition end (short docs: the single overall minimum)
    mins = F.expr(
        f"array_distinct(transform(sequence(1, greatest(size(_keys) - "
        f"{w - 1}, 1)), s -> array_min(slice(_keys, s, {w}))))")
    out = (d.select(idc, keys.alias("_keys"))
           .select(idc, F.explode(mins).alias("_mkey"))
           .select(idc,
                   (F.col("_mkey") % F.lit(2 ** 31).cast("long"))
                   .alias("fp_pos"),
                   # integer div, NOT '/': double division cannot
                   # represent int64-scale keys exactly
                   F.expr(f"_mkey div {2 ** 31}").alias("fp_hash"))
           .distinct())
    if cache:
        out = persist_scoped(out)
    return out


def normalize_keys(text: Column) -> Column:
    """Canonical dedup-key normalization for multilingual crawl text:
    NFC-normalize, casefold (full Unicode folding — 'ß' → 'ss', 'İ' →
    'i̇'), strip accents (NFD → drop combining marks → NFC), collapse
    every Unicode-whitespace run (including NBSP/ideographic space) to
    one ASCII space, trim. Two documents that differ only in composed
    vs decomposed encoding, case convention, diacritic stripping, or
    whitespace style produce the SAME key — the visually-identical
    re-crawl dupes byte hashes structurally miss. NULL stays NULL.

    The four steps run in ONE vectorized Arrow pass (pandas str ops +
    unicodedata, no per-row Python beyond the normalize calls, which
    are C-implemented). Row-local — no shuffle; chain with
    ``sha2``/``md5`` + exact dedup downstream.

    The fixed-point caveat is part of the contract: casefold can
    re-introduce combining marks (İ → i + U+0307), which the accent
    strip then removes — the step ORDER (fold, then strip) is what
    pins 'İ' → 'i', and the pinned-fixture oracle re-proves the whole
    table every round.
    """
    import re
    import unicodedata
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    ws = re.compile(r"\s+", re.UNICODE)

    @pandas_udf(StringType())
    def _norm(s: pd.Series) -> pd.Series:
        def one(t):
            if t is None:
                return None
            t = unicodedata.normalize("NFC", t).casefold()
            t = unicodedata.normalize("NFD", t)
            t = "".join(c for c in t if unicodedata.category(c) != "Mn")
            t = unicodedata.normalize("NFC", t)
            return ws.sub(" ", t).strip()
        return s.map(one)

    return _norm(text)


# the pinned normalization fixture: (id, raw, expected-normalized) —
# expected values generated from normalize_keys' own spec and verified
# by pytest against hand-derived unicode semantics; the driver oracle
# replays expected as literals so any behavior drift turns a row red
NORMALIZE_FIXTURE = [
    (1, "Café du Monde", "cafe du monde"),            # precomposed é
    (2, "Café du Monde", "cafe du monde"),           # decomposed é
    (3, "CAFÉ DU MONDE", "cafe du monde"),  # NBSP + upper
    (4, "straße", "strasse"),                          # ß casefold
    (5, "İstanbul", "istanbul"),                       # Turkish İ
    (6, "  weird\t\nspacing　here  ", "weird spacing here"),
    (7, "naïve résumé", "naive resume"),
    (8, "ﬁle", "file"),      # casefold (full folding) expands ﬁ
    (9, "ZAŽOŁC", "zazołc"),  # stroke Ł is not a combining mark: kept
    (10, "", ""),
]


def winnow_shared_pairs(
    fp: DataFrame,
    id_col: str = "doc_id",
    df_cap: int = 50,
    min_shared: int = 2,
) -> DataFrame:
    """Document pairs EXPLAINED by shared winnowing fingerprints — the
    localization step after :func:`winnow_fingerprints`: which pairs
    share copied/boilerplate runs, how many fingerprints deep, and
    where the overlap starts in each document. Returns
    ``(id_a, id_b, n_shared, a_first, b_first)`` for pairs sharing at
    least ``min_shared`` fingerprint hashes (``id_a < id_b``;
    ``*_first`` = earliest shared fingerprint position per side).

    ``df_cap`` drops fingerprint hashes appearing in more than that
    many documents BEFORE the pair join — a hash shared by q docs
    yields C(q,2) pairs, so universal boilerplate (headers, license
    blurbs) would otherwise quadratically dominate; capping bounds any
    hash's contribution and can only LOWER n_shared, never invent a
    pair. The inverted-index discipline every SSJoin in this package
    follows.

    Scale (100 TB): fingerprint rows are already ~2/(w+1) of gram
    volume; the hash df-filter is one partial-aggregating pass; the
    pair join is hash-keyed (never all-pairs), and the final pair
    aggregate carries (id_a, id_b) rows bounded by df_cap²-per-hash.

    The fingerprints collapse FIRST to one ``(fp_hash, id, min pos)``
    row per document-hash, and that slim table is persisted (released
    by :func:`feldman_spark.ops.sizing.release`) before fanning into the
    df-filter and both self-join sides — only the per-hash minima
    matter to every downstream aggregate (n_shared counts hashes,
    ``*_first`` are mins over per-hash minima), and without the
    barrier each of the three consumers re-ran the whole
    md5-per-character fingerprint computation (r10: the plan showed
    FOUR full document scans; 6.0 s -> ~1 s at sf0.1).

    The pair stream itself — sum over hashes of C(df, 2) rows, the
    dominant bytes at scale (543 M rows at sf20) — flows through the
    final exchange as a PACKED single-long pair key ``(id_a << 32) |
    id_b`` plus two int positions whenever the ids are integral,
    non-negative and < 2³¹ (checked by one columnar aggregate over the
    already-persisted slim table, which materializes the cache the
    pair join needs anyway; positions are < 2³¹ by the
    winnow_fingerprints packing invariant but checked too). Packing
    halves the aggregate's key bytes and hashes/compares ONE long
    instead of two; ids unpack losslessly after the aggregate and are
    cast back to their input types, so the output frame is identical
    (row-set xxhash64 checksums equal at sf5 and sf20). Out-of-range
    or non-integral ids take the original two-column path.
    """
    if df_cap < 2:
        raise ValueError(
            f"winnow_shared_pairs: df_cap must be >= 2, got {df_cap}")
    from pyspark.sql.types import (ByteType, IntegerType, LongType,
                                   ShortType)

    idc = F.col(f"`{id_col}`")
    g = persist_scoped(fp.select(idc.alias("_id"), "fp_pos", "fp_hash")
                       .groupBy("fp_hash", "_id")
                       .agg(F.min("fp_pos").alias("_p")))
    # rows of g are unique per (fp_hash, _id), so count(*) == the
    # distinct-document frequency of the hash
    hdf = (g.groupBy("fp_hash").agg(F.count("*").alias("_df"))
           .filter((F.col("_df") >= 2) & (F.col("_df") <= df_cap)))
    slim = g.join(hdf.select("fp_hash"), "fp_hash")

    id_type = fp.schema[id_col].dataType
    pos_type = fp.schema["fp_pos"].dataType
    pack = False
    if isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        lo = g.agg(F.min("_id"), F.max("_id"),
                   F.min("_p"), F.max("_p")).first()
        pack = (lo[0] is not None and lo[0] >= 0 and lo[1] < (1 << 31)
                and lo[2] >= 0 and lo[3] < (1 << 31))
    if pack:
        a = slim.select(F.col("fp_hash"), F.col("_id").alias("id_a"),
                        F.col("_p").cast("int").alias("_pa"))
        b = slim.select(F.col("fp_hash"), F.col("_id").alias("id_b"),
                        F.col("_p").cast("int").alias("_pb"))
        pairs = (a.join(b, "fp_hash")
                 .filter(F.col("id_a") < F.col("id_b"))
                 .select((F.shiftleft(F.col("id_a").cast("long"), 32)
                          .bitwiseOR(F.col("id_b").cast("long")))
                         .alias("_k"), "_pa", "_pb"))
        return (pairs.groupBy("_k")
                .agg(F.count("*").alias("n_shared"),
                     F.min("_pa").alias("a_first"),
                     F.min("_pb").alias("b_first"))
                .filter(F.col("n_shared") >= min_shared)
                .select(F.shiftright(F.col("_k"), 32).cast(id_type)
                        .alias("id_a"),
                        F.col("_k").bitwiseAND(F.lit(0xFFFFFFFF))
                        .cast(id_type).alias("id_b"),
                        F.col("n_shared"),
                        F.col("a_first").cast(pos_type).alias("a_first"),
                        F.col("b_first").cast(pos_type).alias("b_first")))
    a = slim.select(F.col("fp_hash"), F.col("_id").alias("id_a"),
                    F.col("_p").alias("_pa"))
    b = slim.select(F.col("fp_hash"), F.col("_id").alias("id_b"),
                    F.col("_p").alias("_pb"))
    # one joined row per (shared hash, pair): count(*) == distinct
    # shared hashes, and min over per-hash minima == global min
    return (a.join(b, "fp_hash")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_shared"),
                 F.min("_pa").alias("a_first"),
                 F.min("_pb").alias("b_first"))
            .filter(F.col("n_shared") >= min_shared))
