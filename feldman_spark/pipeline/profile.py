"""One-pass table profiling: per-column null counts, cardinality, and
value range — the data-quality "analyze" step of a pipeline.

Beyond-reference capability. The whole profile is ONE aggregation pass
regardless of column count (every statistic is an aggregate expression in
the same `agg`), then a row-per-column unpivot of the single result row —
so profiling a 100 TB table costs one scan, and approximate cardinality
(HyperLogLog++ via ``approx_count_distinct``) keeps the state per column
constant. ``exact=True`` switches to exact distinct counts (one expanding
aggregate per column — fine at oracle scale, expensive at corpus scale).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from feldman_spark.ops.sizing import persist_scoped, plan_size_estimate

__all__ = ["profile_table", "profile_histogram", "profile_skew", "calibration_bins",
           "join_cardinality", "psi_drift", "bootstrap_ci", "grouped_trend",
           "mutual_info", "k_anonymity", "benford_digits", "grouped_gini", "equidepth_histogram", "null_patterns", "spearman_corr",
           "POISSON_CDF_HEX"]


def profile_table(
    df: DataFrame,
    columns: Optional[Sequence[str]] = None,
    exact: bool = False,
) -> DataFrame:
    """Profile ``columns`` (default: all) into a long-format DataFrame
    ``(column, n_rows, n_nulls, n_distinct, min_value, max_value)`` —
    min/max rendered as strings so one schema serves every column type."""
    cols = list(columns) if columns is not None else df.columns
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        col = F.col(f"`{c}`")
        aggs.append(F.count(F.when(col.isNull(), 1)).alias(f"_nulls_{c}"))
        distinct = F.count_distinct(col) if exact else F.approx_count_distinct(col)
        aggs.append(distinct.alias(f"_dist_{c}"))
        aggs.append(F.min(col).cast("string").alias(f"_min_{c}"))
        aggs.append(F.max(col).cast("string").alias(f"_max_{c}"))
    wide = df.agg(*aggs)

    per_col = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("_n").alias("n_rows"),
            F.col(f"`_nulls_{c}`").alias("n_nulls"),
            F.col(f"`_dist_{c}`").alias("n_distinct"),
            F.col(f"`_min_{c}`").alias("min_value"),
            F.col(f"`_max_{c}`").alias("max_value"),
        )
        for c in cols
    ]
    return wide.select(F.explode(F.array(*per_col)).alias("s")).select("s.*")


def profile_histogram(
    df: DataFrame, column: str, buckets: int = 16,
) -> DataFrame:
    """Equi-width histogram of a numeric column:
    ``(bucket, lo, hi, n)`` — the distribution profile behind skew
    diagnosis, bucket-size planning, and drift monitors.

    Two passes, both partial-aggregating: one (min, max) aggregate
    (broadcast back as a one-row cross join — dimension-sized by
    construction), then one group-by on the row-local bucket id. NULLs
    are excluded; the max value lands in the last bucket (half-open
    bins, closed on top); a constant column degenerates to one bucket.
    ``lo``/``hi`` round to 4 digits for cross-engine hash stability.
    """
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    src = df.select(F.col(column).cast("double").alias("_x")).filter(
        F.col("_x").isNotNull())
    bounds = src.agg(F.min("_x").alias("_lo"), F.max("_x").alias("_hi"))
    joined = src.crossJoin(F.broadcast(bounds))
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(buckets))
    bucket = F.when(F.col("_hi") == F.col("_lo"), F.lit(0).cast("bigint")).otherwise(
        F.least(
            F.floor((F.col("_x") - F.col("_lo")) / width),
            F.lit(buckets - 1).cast("bigint"),
        )
    )
    return (
        joined.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.round(F.min(F.col("_lo") + F.col("bucket") * width), 4).alias("lo"),
            F.round(F.min(F.col("_lo") + (F.col("bucket") + 1) * width), 4).alias("hi"),
            F.count("*").alias("n"),
        )
    )


def profile_skew(
    df: DataFrame,
    key_cols: Sequence[str],
    digits: int = 4,
) -> DataFrame:
    """Key-skew diagnosis for a prospective shuffle key: ONE row
    ``(n_keys, n_rows, max_n, avg_n, p50_n, p99_n, skew_ratio,
    top_key)`` where ``skew_ratio = max_n / avg_n`` (the straggler
    multiplier a groupBy/join on this key would suffer) and ``top_key``
    is the hottest key rendered as a string (ties: lexicographically
    smallest rendering). The "should I salt this join?" question as an
    operator — feed its output to :mod:`feldman_spark.ops.skew`.

    Scale (100 TB): the fact table reduces to a (key, count) table in
    one partial-aggregating pass — ironically itself skew-immune, since
    count partials combine map-side before the exchange. The statistics
    (exact interpolated percentiles over per-key counts, max, argmax)
    run over that key-sized table, and the result is one row.
    """
    gks = [F.col(f"`{c}`") for c in key_cols]
    counts = df.groupBy(*gks).agg(F.count("*").alias("_n")).select(
        F.concat_ws("|", *[g.cast("string") for g in gks]).alias("_key"),
        "_n",
    )
    stats = counts.agg(
        F.count("*").alias("n_keys"),
        F.sum("_n").cast("bigint").alias("n_rows"),
        F.max("_n").cast("bigint").alias("max_n"),
        F.round(F.avg("_n"), digits).alias("avg_n"),
        F.round(F.expr("percentile(_n, 0.5)"), digits).alias("p50_n"),
        F.round(F.expr("percentile(_n, 0.99)"), digits).alias("p99_n"),
        F.round(F.max("_n") / F.avg("_n"), digits).alias("skew_ratio"),
        # argmax with a deterministic tie-break: min (−count, key) struct
        F.min(F.struct((-F.col("_n")).alias("neg"),
                       F.col("_key").alias("k")))["k"].alias("top_key"),
    )
    return stats


def join_cardinality(
    left: DataFrame,
    right: DataFrame,
    l_key: str,
    r_key: str,
) -> DataFrame:
    """EXACT inner-equi-join output size — without running the join.
    ONE row: ``(n_left, n_right, n_left_keys, n_right_keys,
    n_common_keys, join_rows, max_key_rows)`` where ``join_rows =
    Σ_{k∈common} cl(k)·cr(k)`` (what ``left JOIN right`` would emit)
    and ``max_key_rows = max_k cl(k)·cr(k)`` — the single hottest key's
    contribution, i.e. the straggler a shuffled hash join would
    serialize on (feed :mod:`feldman_spark.ops.skew` when it
    dominates). The "will this join explode?" pre-flight every
    large-scale pipeline should run before an unfamiliar key.

    Scale (100 TB per side): each side reduces to its (key, count)
    table in one partial-aggregating pass; those key-sized tables meet
    in one equi-join, and the result is one row. The fact tables are
    scanned once each (key column only — columnar pruning) and never
    shuffled in full.
    """
    lc = (
        left.select(F.col(f"`{l_key}`").alias("_k"))
        .groupBy("_k").agg(F.count("*").alias("_cl"))
    )
    rc = (
        right.select(F.col(f"`{r_key}`").alias("_k"))
        .groupBy("_k").agg(F.count("*").alias("_cr"))
    )
    tl = lc.agg(F.sum("_cl").cast("bigint").alias("n_left"),
                F.count("*").alias("n_left_keys"))
    tr = rc.agg(F.sum("_cr").cast("bigint").alias("n_right"),
                F.count("*").alias("n_right_keys"))
    common = lc.join(rc, "_k").agg(
        F.count("*").alias("n_common_keys"),
        F.coalesce(F.sum(F.col("_cl") * F.col("_cr")), F.lit(0))
        .cast("bigint").alias("join_rows"),
        F.coalesce(F.max(F.col("_cl") * F.col("_cr")), F.lit(0))
        .cast("bigint").alias("max_key_rows"),
    )
    return (
        tl.crossJoin(F.broadcast(tr)).crossJoin(F.broadcast(common))
        .select("n_left", "n_right", "n_left_keys", "n_right_keys",
                "n_common_keys", "join_rows", "max_key_rows")
    )


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    buckets: int = 10,
    digits: int = 6,
) -> DataFrame:
    """Population Stability Index between a reference and a current
    distribution of ``value_col`` — the standard drift alarm on model
    inputs/scores (PSI < 0.1 stable, 0.1-0.25 moderate, > 0.25 shifted).
    Returns one row per bucket: ``(bucket, n_ref, n_cur, p_ref, p_cur,
    contrib)`` with ``contrib = (p_cur - p_ref) · ln(p_cur / p_ref)``;
    ``sum(contrib)`` is the PSI.

    Buckets are equi-width over the REFERENCE min/max (the industry
    convention: the monitor is fixed by the baseline); current values
    outside that range clamp into the edge buckets, so a shifted tail
    shows up as edge-bucket mass rather than silently vanishing.
    Proportions are Laplace-smoothed — ``p = (n + 0.5) / (N + 0.5·B)``
    — so an empty bucket cannot produce ±inf, deterministically (no
    epsilon guesswork), and every bucket 0..B-1 is emitted even when
    both sides are empty there.

    Scale (100 TB): one (min, max) aggregate over the reference,
    broadcast to both sides; each side then partial-aggregates its
    row-local bucket id. Only two B-row count tables ever shuffle.
    NULLs are excluded on both sides.
    """
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    spark = ref.sparkSession

    def vals(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(f"`{value_col}`").cast("double").alias("_x")
        ).filter(F.col("_x").isNotNull())

    rv, cv = vals(ref), vals(cur)
    bounds = rv.agg(F.min("_x").alias("_lo"), F.max("_x").alias("_hi"))

    def counts(df: DataFrame, name: str) -> DataFrame:
        width = (F.col("_hi") - F.col("_lo")) / F.lit(float(buckets))
        bucket = F.when(
            F.col("_hi") == F.col("_lo"), F.lit(0).cast("bigint")
        ).otherwise(
            F.least(
                F.greatest(
                    F.floor((F.col("_x") - F.col("_lo")) / width),
                    F.lit(0).cast("bigint")),
                F.lit(buckets - 1).cast("bigint"),
            )
        )
        return (
            df.crossJoin(F.broadcast(bounds))
            .select(bucket.alias("bucket"))
            .groupBy("bucket").agg(F.count("*").alias(name))
        )

    grid = spark.range(buckets).select(F.col("id").alias("bucket"))
    both = (
        grid.join(counts(rv, "_nr"), "bucket", "left")
        .join(counts(cv, "_nc"), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("_nr", F.lit(0)).cast("bigint").alias("n_ref"),
            F.coalesce("_nc", F.lit(0)).cast("bigint").alias("n_cur"),
        )
    )
    tot = both.agg(F.sum("n_ref").alias("_tr"), F.sum("n_cur").alias("_tc"))
    smooth_denom = 0.5 * buckets
    p_ref = (F.col("n_ref") + 0.5) / (F.col("_tr") + F.lit(smooth_denom))
    p_cur = (F.col("n_cur") + 0.5) / (F.col("_tc") + F.lit(smooth_denom))
    return (
        both.crossJoin(F.broadcast(tot))
        .select(
            "bucket", "n_ref", "n_cur",
            F.round(p_ref, digits).alias("p_ref"),
            F.round(p_cur, digits).alias("p_cur"),
            F.round((p_cur - p_ref) * F.log(p_cur / p_ref), digits)
            .alias("contrib"),
        )
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    buckets: int = 10,
    digits: int = 6,
) -> DataFrame:
    """Reliability diagram + expected calibration error (ECE) inputs for
    a [0,1] classifier score against a boolean label — the standard
    audit before a quality/toxicity classifier's scores gate a corpus
    (Guo et al. 2017's binned ECE): equal-WIDTH score bins, per bin the
    count, mean score (confidence) and positive rate (accuracy), plus
    each bin's ECE contribution ``n_b/N · |acc_b − conf_b|`` — their sum
    IS the ECE, kept per-bin so the diagram and the scalar come from one
    pass.

    Scale: bucket ids are row-local (``score=1.0`` clamps into the top
    bin), per-bin stats partial-aggregate map-side into ``buckets``
    rows, and the total joins back as one broadcast row — the corpus
    scans once, nothing document-sized shuffles. NULL scores/labels are
    excluded (count them upstream via :func:`profile_table`).
    """
    if buckets < 1:
        raise ValueError(f"calibration_bins: buckets must be >= 1 (got {buckets})")
    s = F.col(f"`{score_col}`").cast("double")
    y = F.col(f"`{label_col}`").cast("int")
    binned = (
        df.filter(s.isNotNull() & y.isNotNull())
        .select(
            F.least(F.floor(s * buckets), F.lit(buckets - 1))
            .cast("int").alias("bucket"),
            s.alias("_s"), y.alias("_y"),
        )
    )
    per = binned.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n"),
        F.avg("_s").alias("_conf"),
        F.avg("_y").alias("_acc"),
    )
    tot = per.agg(F.sum("n").alias("_tot"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "bucket", "n",
            F.round("_conf", digits).alias("confidence"),
            F.round("_acc", digits).alias("accuracy"),
            F.round(
                F.col("n") / F.col("_tot")
                * F.abs(F.col("_acc") - F.col("_conf")), digits)
            .alias("ece_contrib"),
        )
    )


# Poisson(1) inverse-CDF thresholds at 32-bit hex resolution: replicate
# weight k is assigned when the first 8 md5 hex chars (uniform over
# [0, 2^32)) sort below POISSON_CDF_HEX[k] — computed once as
# hex(floor(cdf_k * 2^32)) and shared LITERALLY with the SQL twin, so
# weights are engine-portable by string comparison (the sample_fraction
# md5-threshold precedent). P(weight > 8) < 1.2e-6 truncates to 8.
POISSON_CDF_HEX = [
    "5e2d58d8", "bc5ab1b1", "eb715e1d", "fb239797",
    "ff1025f5", "ffd90f3b", "fffa8b71", "ffff540c",
]


def bootstrap_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    b: int = 32,
    seed: str = "boot",
    quantiles: Sequence[float] = (0.025, 0.975),
    digits: int = 4,
) -> DataFrame:
    """Distributed bootstrap confidence interval for the MEAN of
    ``value_col`` (beyond reference — the error bar on any corpus-scale
    metric: mean quality score, mean basket value; a point estimate
    over billions of rows without a CI hides pipeline drift). One
    summary row ``(n_rows, mean, boot_lo, boot_hi)`` at the given
    ``quantiles`` of ``b`` bootstrap-replicate means.

    The classic bootstrap resamples n rows WITH replacement — a
    nonstarter distributed. The standard large-n equivalence replaces
    each replicate's multinomial row counts with independent
    Poisson(1) weights (Chamandy et al., "Estimating uncertainty for
    massive data streams", Google 2012; Owen's Poisson bootstrap):
    replicate b's weight for a row is a DETERMINISTIC Poisson draw
    from ``md5(id:b:seed)`` via the precomputed inverse-CDF hex
    thresholds above — reproducible across engines, runs, and
    partitionings, so the SQL twin replays it literally. ``id_col``
    must uniquely identify a row for the row-level bootstrap; passing
    a GROUP key instead deliberately gives the cluster bootstrap
    (whole groups resample together — correct when rows within a
    group are dependent).

    Plan shape: ``explode(sequence(0, b-1))`` multiplies ROWS b-fold
    but map-locally — the per-replicate (Σwx, Σw) partials collapse in
    the same stage's hash aggregate, so the ONLY exchange carries
    ``b × partitions`` slim partial rows, never the fact table.
    Replicate means round to 6 digits before the exact ``percentile``
    so the interpolation input is bit-identical cross-engine. One md5
    digest serves FOUR replicates (its 32 hex chars are four
    independent 8-hex uniforms: replicate b reads chars
    ``[8·(b mod 4), 8·(b mod 4)+8)`` of ``md5(id:(b div 4):seed)``,
    computed once per digest group by a two-level fan-out because a
    flat b-fold explode re-evaluates the hash per replicate row) —
    4× less hash work for identical draws; at sf0.1 the measured win
    is ~25% because fixed stage costs dominate the 100k-row fixture,
    and it grows with rows × b as hashing becomes the scan's hot loop.
    """
    if b < 2:
        raise ValueError(f"bootstrap_ci: b must be >= 2, got {b}")
    if len(quantiles) != 2 or not (0.0 < quantiles[0] < quantiles[1] < 1.0):
        raise ValueError(
            f"bootstrap_ci: quantiles must be (lo, hi) in (0,1), got "
            f"{list(quantiles)}")
    v = F.col(value_col)
    src = df.filter(v.isNotNull()).select(
        F.col(id_col).alias("_id"), v.cast("double").alias("_x"))
    # the b-fold explode multiplies WORK after the scan, so input-byte
    # based split sizing under-parallelizes it (one small parquet split
    # would hash b x rows single-threaded); spreading the slim (id, x)
    # rows across the cluster first costs one cheap shuffle and lets
    # every core share the md5 work — measured 7.5 s -> 0.8 s at sf0.1
    # on local[32]
    par = df.sparkSession.sparkContext.defaultParallelism
    n_dig = (b + 3) // 4
    # two-level fan-out so each digest is COMPUTED once: the first
    # explode emits one row per (row, digest-group) and hashes there;
    # the second fans each digest into its four 8-hex draws. A single
    # b-fold explode re-evaluates the md5 expression per replicate row
    # (Spark has no cross-row common-subexpression reuse) — measured
    # 4x the hash work for identical draws.
    dig = src.repartition(par).select(
        "_x",
        F.explode(F.sequence(F.lit(0), F.lit(n_dig - 1))).alias("_g"),
        F.col("_id"),
    ).select(
        "_x", "_g",
        F.md5(F.concat_ws(":", F.col("_id").cast("string"),
                          F.col("_g").cast("string"),
                          F.lit(seed))).alias("_h"))
    rep = dig.select(
        "_x", "_g",
        F.posexplode(F.array(*[
            F.substring("_h", 1 + 8 * s, 8) for s in range(4)
        ])).alias("_s", "_u"),
    ).withColumn("_b", F.col("_g") * 4 + F.col("_s")).filter(
        F.col("_b") < b)
    u = F.col("_u")
    w = F.lit(len(POISSON_CDF_HEX))
    for k in range(len(POISSON_CDF_HEX) - 1, -1, -1):
        w = F.when(u < F.lit(POISSON_CDF_HEX[k]), F.lit(k)).otherwise(w)
    per_rep = (
        rep.select("_b", (w.cast("double") * F.col("_x")).alias("_wx"),
                   w.cast("double").alias("_w"))
        .groupBy("_b")
        .agg(F.sum("_wx").alias("_swx"), F.sum("_w").alias("_sw"))
        .select(F.round(
            F.col("_swx") / F.when(F.col("_sw") > 0, F.col("_sw")),
            6).alias("_m"))
    )
    lo, hi = float(quantiles[0]), float(quantiles[1])
    stats = src.agg(F.count("*").alias("n_rows"),
                    F.avg("_x").alias("_mean"))
    ci = per_rep.agg(
        F.expr(f"percentile(_m, array({lo!r}, {hi!r}))").alias("_q"))
    return (
        stats.crossJoin(F.broadcast(ci))
        .select(
            "n_rows",
            F.round("_mean", digits).alias("mean"),
            F.round(F.element_at("_q", 1), digits).alias("boot_lo"),
            F.round(F.element_at("_q", 2), digits).alias("boot_hi"),
        )
    )


def grouped_trend(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
    min_points: int = 3,
    digits: int = 4,
) -> DataFrame:
    """Per-group OLS trend fit — slope, intercept, and R² of ``y`` on
    ``x`` for every group in one aggregation pass: the drift profiler
    ("which entities/metrics are trending, and how hard?") that turns
    a million raw series into a ranked, thresholdable table. The
    grouped sibling of the expanding per-row slope
    (:func:`feldman_spark.ops.windows.expanding_slope`): one summary
    row per group, not one fit per prefix.

    Output: group keys, ``n_points``, ``slope``, ``intercept``, ``r2``
    (all rounded to ``digits``). Groups with fewer than ``min_points``
    pairs are dropped; R² is NULL for a constant-``y`` group (zero
    variance — no fit quality to speak of), slope/intercept still
    report.

    Scale (100 TB): ``regr_slope/regr_intercept/regr_r2`` are
    decomposable JVM aggregates — partial (Σx, Σy, Σxy, Σx², Σy², n)
    moments combine map-side, so the exchange carries one moment tuple
    per group and the fact table is scanned exactly once. No windows,
    no sort, no Python.
    """
    if min_points < 2:
        raise ValueError(
            f"grouped_trend: min_points must be >= 2, got {min_points}")
    x, y = F.col(f"`{x_col}`"), F.col(f"`{y_col}`")
    agg = (df.filter(x.isNotNull() & y.isNotNull())
           .groupBy(*[F.col(f"`{c}`") for c in group_cols])
           .agg(F.count("*").alias("n_points"),
                F.regr_slope(y, x).alias("_s"),
                F.regr_intercept(y, x).alias("_i"),
                F.regr_r2(y, x).alias("_r"),
                F.var_samp(y).alias("_vy")))
    # constant-y r2 is engine-defined (Spark says 1.0); make the
    # zero-variance contract explicit so every engine agrees: NULL
    r2 = F.when(F.col("_vy") > 0, F.bround("_r", digits))
    return (agg.filter(F.col("n_points") >= min_points)
            .select(*[F.col(c) for c in group_cols],
                    "n_points",
                    F.bround("_s", digits).alias("slope"),
                    F.bround("_i", digits).alias("intercept"),
                    r2.alias("r2")))


def mutual_info(
    df: DataFrame,
    col_a: str,
    col_b: str,
    digits: int = 4,
) -> DataFrame:
    """Mutual information (bits) between two categorical columns, plus
    the entropies and the sqrt-normalized NMI in [0, 1] — the
    dependence profiler behind feature-relevance triage ("does source
    predict language?"), leakage checks (a feature that nails the
    label too well), and stratification design. Rows where either
    side is NULL are excluded (MI is over the joint distribution of
    observed pairs).

    Output: ONE row — ``n`` (pairs observed), ``h_a``, ``h_b``
    (marginal entropies, bits), ``mi_bits``, and ``nmi`` =
    MI/sqrt(H(A)·H(B)) (NULL when either entropy is 0 — a constant
    column carries no information to normalize by).

    Scale (100 TB): the corpus collapses to the JOINT (a, b) count
    table in one partial-aggregating pass — the only fact-table
    exchange carries distinct pairs, not rows. Marginals re-aggregate
    the PAIR table (cardinality |A|·|B| at worst), the MI sum joins
    pairs to two broadcast marginal tables, and everything after the
    first aggregate is pair-sized.

    Large inputs persist the joint count table in-process so all four
    consumers share one pass; in a long-lived session call
    :func:`feldman_spark.ops.sizing.release` when done (each call on a
    large input pins another table until released — ``clearCache()``
    between queries, as the bench harness does, also works).
    """
    a, b = F.col(f"`{col_a}`"), F.col(f"`{col_b}`")
    # the joint count table feeds FOUR consumers (total, both marginals,
    # the MI sum) — uncached, each re-ran the corpus-wide (a, b)
    # aggregate, four full fact-table passes for one result row.
    # Persist the pair-sized table once (|A|·|B| rows at worst) and
    # every downstream aggregate is pair-sized (through persist_scoped
    # — the returned plan is lazy, so an in-function
    # unpersist would kill the cache before the caller's action).
    # Size-gated like repetition_metrics' auto mode: on a small input
    # the four passes run as concurrent branches of one job and the
    # cache's materialization barrier only serializes them. Measured
    # minima (alternating A/B, this host): sf0.1 ~1.2 s uncached vs
    # ~2.4 s cached; sf1 1.45 vs 2.76; sf5 (33 MB input estimate) a
    # wash (1.44 vs 1.45) — the map-side partial collapses each pass to
    # a tiny pair stream, so the redundant scans stay page-cache-cheap
    # locally. They grow linearly with input while the cache cost is
    # pair-sized-constant, so the gate sits one rung above the last
    # measured wash (engages ~sf20, where a fact pass stops fitting the
    # page cache on real storage).
    pairs = (df.filter(a.isNotNull() & b.isNotNull())
             .groupBy(a.alias("_a"), b.alias("_b"))
             .agg(F.count("*").alias("_nab")))
    if plan_size_estimate(df) > (64 << 20):
        pairs = persist_scoped(pairs)
    tot = pairs.agg(F.sum("_nab").alias("_n"))
    ma = pairs.groupBy("_a").agg(F.sum("_nab").alias("_na"))
    mb = pairs.groupBy("_b").agg(F.sum("_nab").alias("_nb"))
    j = (pairs.join(F.broadcast(ma), "_a").join(F.broadcast(mb), "_b")
         .crossJoin(F.broadcast(tot)))
    nab = F.col("_nab").cast("double")
    na, nb = F.col("_na").cast("double"), F.col("_nb").cast("double")
    n = F.col("_n").cast("double")
    stats = j.agg(
        F.max("_n").alias("n"),
        F.sum((nab / n) * F.log2((nab * n) / (na * nb))).alias("_mi"),
    )
    # marginal entropies from the marginal tables (pair-sized inputs)
    ha = (ma.crossJoin(F.broadcast(tot))
          .agg((-F.sum((F.col("_na").cast("double") / F.col("_n"))
                       * F.log2(F.col("_na").cast("double")
                                / F.col("_n")))).alias("h_a")))
    hb = (mb.crossJoin(F.broadcast(tot))
          .agg((-F.sum((F.col("_nb").cast("double") / F.col("_n"))
                       * F.log2(F.col("_nb").cast("double")
                                / F.col("_n")))).alias("h_b")))
    out = stats.crossJoin(F.broadcast(ha)).crossJoin(F.broadcast(hb))
    nmi = F.when(
        (F.col("h_a") > 0) & (F.col("h_b") > 0),
        F.bround(F.col("_mi") / F.sqrt(F.col("h_a") * F.col("h_b")),
                 digits))
    return out.select(
        F.col("n").cast("long").alias("n"),
        F.bround("h_a", digits).alias("h_a"),
        F.bround("h_b", digits).alias("h_b"),
        F.bround("_mi", digits).alias("mi_bits"),
        nmi.alias("nmi"))


def k_anonymity(
    df: DataFrame,
    quasi_cols: Sequence[str],
    k: int = 5,
    digits: int = 4,
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier combination — before a
    dataset ships, how re-identifiable is it? Every row whose
    (quasi-identifier…) group has fewer than ``k`` members is
    linkable-in-principle (Sweeney 2002); this reports the one-row
    risk summary governance actually asks for: ``n_rows``,
    ``n_groups``, ``min_k`` (worst group), ``n_singletons`` (unique
    fingerprints — the immediately re-identifiable rows),
    ``n_below_k`` (rows in groups smaller than ``k``) and its
    fraction.

    NULL quasi-identifier values are treated as a VALUE (two rows both
    missing ZIP still match each other — the linkage model), which is
    groupBy's native NULL semantics on both engines.

    Scale (100 TB): the fact table collapses to (quasi-id…, count) in
    one partial-aggregating pass; everything after is
    fingerprint-sized re-aggregation — one number per statistic. No
    row ever leaves the first aggregate.
    """
    if k < 2:
        raise ValueError(f"k_anonymity: k must be >= 2, got {k}")
    gks = [F.col(f"`{c}`") for c in quasi_cols]
    sizes = df.groupBy(*gks).agg(F.count("*").alias("_n"))
    n = F.col("_n")
    return sizes.agg(
        F.sum(n).cast("long").alias("n_rows"),
        F.count("*").alias("n_groups"),
        F.min(n).alias("min_k"),
        F.sum(F.when(n == 1, 1).otherwise(0)).cast("long")
        .alias("n_singletons"),
        F.sum(F.when(n < k, n).otherwise(0)).cast("long")
        .alias("n_below_k"),
        F.bround(F.sum(F.when(n < k, n).otherwise(0)).cast("double")
                 / F.sum(n).cast("double"), digits).alias("frac_below_k"),
    )


# Benford expected first-digit probabilities log10(1 + 1/d), written as
# the same expression on both engines (folded from identical literals)
def benford_digits(
    df: DataFrame,
    value_col: str,
    digits: int = 4,
) -> DataFrame:
    """Benford's-law first-digit audit — naturally-grown multi-scale
    quantities (transaction amounts, populations, file sizes) put
    ~30.1% of first significant digits at 1; fabricated, capped,
    assigned, or unit-uniform data does not. The forensic screen:
    per digit 1-9, observed count, observed vs expected fraction, and
    the digit's chi-square contribution (sum them for the statistic;
    > ~15.5 ⇒ reject Benford at 0.05 with 8 df).

    First-digit extraction is STRING-based — the first [1-9] of
    ``format_string('%.4f', value)`` — because the arithmetic form
    ``floor(x / 10^floor(log10 x))`` puts values at exact powers of 10
    on a libm precision knife-edge (log10(100) = 1.9999…8 on some
    libms ⇒ digit 10); fixed-decimal formatting has no such edge and
    is engine-portable. Contract: values with |x| < 1e-4 have no
    first digit at %.4f and are excluded with the nulls/zeros.

    Scale (100 TB): one partial-aggregating pass to 9 digit counts;
    the Benford expectations fold as literals; the comparison is a
    9-row select.
    """
    v = F.col(f"`{value_col}`")
    digit = F.regexp_extract(
        F.format_string("%.4f", F.abs(v)), "[1-9]", 0)
    counts = (df.filter(v.isNotNull() & (F.abs(v) >= 1e-4))
              .select(digit.alias("_d"))
              .filter(F.col("_d") != "")
              .groupBy(F.col("_d").cast("int").alias("digit"))
              .agg(F.count("*").alias("n")))
    tot = counts.agg(F.sum("n").alias("_t"))
    exp_frac = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")
                       .cast("double"))
    j = counts.crossJoin(F.broadcast(tot))
    obs = F.col("n").cast("double") / F.col("_t").cast("double")
    e = exp_frac * F.col("_t").cast("double")
    chi = (F.col("n").cast("double") - e) * (F.col("n").cast("double") - e) / e
    return j.select(
        "digit", "n",
        F.bround(obs, digits).alias("obs_frac"),
        F.bround(exp_frac, digits).alias("benford_frac"),
        F.bround(chi, digits).alias("chi2_contrib"))


def grouped_gini(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    min_points: int = 2,
    digits: int = 4,
) -> DataFrame:
    """Gini concentration coefficient per group over a non-negative
    metric — "is this source's token mass spread across documents or
    concentrated in a few?", the inequality profiler behind dedup
    prioritization, host-level crawl balance, and spend concentration.
    0 = perfectly even, → 1 = one row holds everything. Uses the
    sorted-rank identity ``G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n`` (x
    ascending, i = 1-based rank); equal values are interchangeable
    under the identity, so ties cannot perturb it. Groups below
    ``min_points`` rows or with zero total are dropped (no
    distribution to measure). Negative values are rejected by filter —
    Gini over signed data is undefined.

    Scale (100 TB): one exchange on the group key, one sort;
    ``row_number`` and the two sums ride the same sort, the final
    combine is a group-sized aggregate.
    """
    if min_points < 2:
        raise ValueError(
            f"grouped_gini: min_points must be >= 2, got {min_points}")
    gks = [F.col(f"`{c}`") for c in group_cols]
    v = F.col(f"`{value_col}`").cast("double")
    w = Window.partitionBy(*gks).orderBy(F.col("_x").asc())
    ranked = (df.filter(v.isNotNull() & (v >= 0))
              .select(*gks, v.alias("_x"))
              .withColumn("_i", F.row_number().over(w)))
    agg = ranked.groupBy(*[F.col(c) for c in group_cols]).agg(
        F.count("*").alias("n_points"),
        F.sum("_x").alias("_sx"),
        F.sum(F.col("_i").cast("double") * F.col("_x")).alias("_six"))
    n = F.col("n_points").cast("double")
    gini = (F.lit(2.0) * F.col("_six") / (n * F.col("_sx"))
            - (n + F.lit(1.0)) / n)
    return (agg.filter((F.col("n_points") >= min_points)
                       & (F.col("_sx") > 0))
            .select(*[F.col(c) for c in group_cols], "n_points",
                    F.bround(gini, digits).alias("gini")))


def equidepth_histogram(
    df: DataFrame,
    value_col: str,
    buckets: int = 10,
    digits: int = 4,
) -> DataFrame:
    """Equi-DEPTH histogram — bucket boundaries at exact quantiles so
    every bucket holds ~the same row count; the selectivity-estimation
    and skew-reading companion to the equi-WIDTH ``profile_histogram``
    (equi-width shows WHERE mass sits, equi-depth shows how stretched
    the tails are — bucket 10 spanning 100× bucket 1's width IS the
    skew). Output: one row per non-empty bucket — ``bucket`` (1-based),
    ``lo``/``hi`` boundary (exact interpolated percentiles, rounded),
    ``n``.

    Heavy ties can starve buckets (a value spanning several quantile
    cuts leaves inner buckets empty — they are simply absent); the
    assignment rule is ``1 + count(inner boundaries < x)``, identical
    on both engines.

    Scale (100 TB): ONE exact-percentile aggregate produces the
    (buckets−1)-element boundary array, broadcast to every row; the
    assignment is a row-local fold over that tiny literal-sized array,
    and the counts partial-aggregate into ≤ ``buckets`` rows. For
    standing jobs swap ``percentile`` for ``approx_percentile`` —
    identical shape.
    """
    if buckets < 2:
        raise ValueError(
            f"equidepth_histogram: buckets must be >= 2, got {buckets}")
    v = F.col(f"`{value_col}`")
    fracs = ", ".join(str(i / buckets) for i in range(1, buckets))
    bounds = df.filter(v.isNotNull()).agg(
        F.expr(f"percentile(`{value_col}`, array({fracs}))")
        .alias("_bs"))
    assigned = (df.filter(v.isNotNull())
                .crossJoin(F.broadcast(bounds))
                .select(
                    (F.lit(1) + F.aggregate(
                        "_bs", F.lit(0),
                        lambda acc, b: acc
                        + F.when(v > b, 1).otherwise(0)))
                    .alias("bucket"),
                    v.alias("_v")))
    per = assigned.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.min("_v").alias("_lo"), F.max("_v").alias("_hi"))
    return per.select(
        "bucket",
        F.bround(F.col("_lo").cast("double"), digits).alias("lo"),
        F.bround(F.col("_hi").cast("double"), digits).alias("hi"),
        "n")


def null_patterns(
    df: DataFrame,
    columns: Sequence[str],
    top_k: int = 20,
) -> DataFrame:
    """Missing-data PATTERN profiler — per-column null fractions say
    how much is missing; the pattern table says how missingness
    CO-OCCURS (all-or-nothing enrichment failures, "lat null iff lon
    null" pairings, the row segments an imputation or drop policy has
    to handle separately). Each row maps to a pattern string over
    ``columns`` ('-' = present, 'N' = null, in the given column
    order); output is the top-``top_k`` patterns by count
    (deterministic count-desc, pattern-asc order) with per-pattern
    row counts.

    Scale (100 TB): the pattern string is a row-local concat of
    is-null flags; counts partial-aggregate into ≤ 2^|columns|
    distinct patterns (bounded by the data, not the corpus); top-k is
    TakeOrdered.
    """
    if not columns:
        raise ValueError("null_patterns: need at least one column")
    if top_k < 1:
        raise ValueError(
            f"null_patterns: top_k must be >= 1, got {top_k}")
    flags = [F.when(F.col(f"`{c}`").isNull(), F.lit("N"))
             .otherwise(F.lit("-")) for c in columns]
    return (df.select(F.concat(*flags).alias("pattern"))
            .groupBy("pattern").agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc(), F.col("pattern").asc())
            .limit(int(top_k)))


def spearman_corr(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
    min_points: int = 3,
    digits: int = 4,
) -> DataFrame:
    """Spearman rank correlation per group — the MONOTONIC-association
    profiler: Pearson (and OLS R²) sees only linear dependence and is
    dragged by outliers; Spearman asks "does y go up when x goes up,
    in rank terms", robust to any monotone transform and to heavy
    tails. The drift question for score-vs-time, size-vs-quality,
    position-vs-clickthrough.

    Exact average-rank (fractional) tie handling: a tie group of size
    c at rank r gets rank ``r + (c−1)/2`` — the textbook definition,
    reproduced identically on both engines — then ρ = Pearson
    correlation of the rank pairs. One row per group: ``n_points``,
    ``rho`` (NULL when either variable is constant — no ranking to
    correlate). Groups under ``min_points`` drop.

    Scale (100 TB): two rank passes (each one sort over the group
    exchange; the tie-count rides a second partitioning) and one
    decomposable corr aggregate. For extreme groups swap exact ranks
    for approx-quantile bucket ranks — same downstream shape.
    """
    if min_points < 2:
        raise ValueError(
            f"spearman_corr: min_points must be >= 2, got {min_points}")
    gks = [F.col(f"`{c}`") for c in group_cols]
    x, y = F.col(f"`{x_col}`"), F.col(f"`{y_col}`")
    base = (df.filter(x.isNotNull() & y.isNotNull())
            .select(*gks, x.alias("_x"), y.alias("_y")))
    wx = Window.partitionBy(*[F.col(c) for c in group_cols]) \
        .orderBy(F.col("_x").asc())
    wy = Window.partitionBy(*[F.col(c) for c in group_cols]) \
        .orderBy(F.col("_y").asc())
    # tie count = the current row's PEER count under the rank's own
    # window spec (RANGE CURRENT ROW..CURRENT ROW — peers are exactly
    # the equal-_x rows, any orderable type). The former
    # partitionBy(group, _x) count windows each required their own
    # clustering: the planner kept one group exchange (a subset
    # partitioning satisfies ClusteredDistribution) but paid a separate
    # full sort and Window pass per count — plan 4 Sorts / 4 Windows;
    # sharing the rank's spec halves both (2 / 2), and values are
    # bit-identical by the peer-frame definition
    peers_x = wx.rangeBetween(Window.currentRow, Window.currentRow)
    peers_y = wy.rangeBetween(Window.currentRow, Window.currentRow)
    ranked = base.select(
        *[F.col(c) for c in group_cols],
        (F.rank().over(wx)
         + (F.count("*").over(peers_x) - 1) / 2.0).alias("_rx"),
        (F.rank().over(wy)
         + (F.count("*").over(peers_y) - 1) / 2.0).alias("_ry"))
    # corr() under ANSI mode throws DIVIDE_BY_ZERO for a constant
    # side; the covariance form with try_divide yields NULL instead —
    # the documented constant-variable contract
    agg = ranked.groupBy(*[F.col(c) for c in group_cols]).agg(
        F.count("*").alias("n_points"),
        F.expr("try_divide(covar_samp(_rx, _ry), "
               "stddev_samp(_rx) * stddev_samp(_ry))").alias("_rho"))
    return (agg.filter(F.col("n_points") >= min_points)
            .select(*[F.col(c) for c in group_cols], "n_points",
                    F.bround("_rho", digits).alias("rho")))
