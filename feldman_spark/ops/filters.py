"""Filter/predicate operators (SURVEY §2.3 F1-F7).

The reference implements these as pandas boolean-mask scans
(``coring/sectionSummary.py:158-177``, ``coring/measurement.py:32-56``);
here they are declarative Column predicates so Catalyst pushes them into
the scan (parquet ``PushedFilters``) and prunes partitions.
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..formats.columns import quote_ident

__all__ = [
    "eq_filter",
    "conjunctive_filter",
    "range_filter",
    "in_filter",
    "point_in_interval",
    "invalid_section_sql",
    "valid_section_column",
    "winsorize",
    "with_group_zscore",
    "zscore_outliers",
    "mad_outliers",
    "with_quantile_rank",
]


def eq_filter(**eq: object) -> Optional[Column]:
    """F1: conjunctive equality predicate over identity columns, e.g.
    ``eq_filter(Site='1', Hole='A', Core='25')``
    (``coring/sectionSummary.py:158-170``)."""
    pred: Optional[Column] = None
    for name, value in eq.items():
        clause = F.col(f"`{name}`") == F.lit(value)
        pred = clause if pred is None else (pred & clause)
    return pred


def conjunctive_filter(df: DataFrame, **eq: object) -> DataFrame:
    pred = eq_filter(**eq)
    return df if pred is None else df.filter(pred)


def range_filter(df: DataFrame, column: str, lo: float, hi: float) -> DataFrame:
    """F2: inclusive-both-ends depth range (``coring/measurement.py:32-33``)."""
    return df.filter(F.col(f"`{column}`").between(F.lit(lo), F.lit(hi)))


def in_filter(df: DataFrame, column: str, values: Sequence[object]) -> DataFrame:
    """F3: IN-list membership (``coring/measurement.py:43-50``)."""
    return df.filter(F.col(f"`{column}`").isin(list(values)))


def point_in_interval(
    df: DataFrame, depth: float, top_col: str = "TopDepth", bot_col: str = "BottomDepth",
    **eq: object,
) -> DataFrame:
    """F4: rows whose [top, bot] interval contains ``depth``
    (``coring/sectionSummary.py:172-177``)."""
    pred = (F.lit(depth) >= F.col(f"`{top_col}`")) & (F.lit(depth) <= F.col(f"`{bot_col}`"))
    extra = eq_filter(**eq)
    if extra is not None:
        pred = extra & pred
    return df.filter(pred)


def invalid_section_sql(colname: str) -> str:
    """F7 as a SQL predicate: true for a ``colname`` value that is neither
    an integer string nor the ``'CC'`` sentinel (``feldman.py:78-89``),
    null for a null value."""
    q = quote_ident(colname)
    return f"NOT ({q} RLIKE '^-?[0-9]+$' OR {q} = 'CC')"


def valid_section_column(df: DataFrame, colname: str) -> bool:
    """F7: True iff every value in ``colname`` is an integer string or the
    ``'CC'`` sentinel (``feldman.py:78-89``). One distributed count, no
    collect of the data."""
    return df.filter(invalid_section_sql(colname)).limit(1).count() == 0


def winsorize(
    df: DataFrame,
    column: str,
    lower: float = 0.01,
    upper: float = 0.99,
    out: "str | None" = None,
    digits: int = 4,
) -> DataFrame:
    """F8 (beyond reference): clamp ``column`` to its [``lower``,
    ``upper``] exact interpolated percentiles — the outlier-winsorization
    step quality pipelines apply to heavy-tailed signals (document
    length, token counts, scores) before thresholding or normalizing,
    so a handful of pathological rows can't drag a cutoff.

    Adds ``out`` (default ``{column}_w``) with the clamped value rounded
    to ``digits``; rows are never dropped (clamping, not filtering).

    Scale (100 TB): one exact-percentile aggregate over the corpus (a
    single partial-aggregating pass; ``percentile()`` and DuckDB
    ``quantile_cont`` share the linear-interpolation definition, which
    is what makes the value oracle exact), broadcast back as a
    one-row bound pair; the clamp itself is a row-local expression. For
    standing jobs at extreme cardinality swap the exact percentile for
    ``approx_percentile`` — same shape, sketch-sized state.
    """
    if not (0.0 <= lower < upper <= 1.0):
        raise ValueError(
            f"winsorize: need 0 <= lower < upper <= 1, got ({lower}, {upper})")
    c = F.col(f"`{column}`")
    bounds = df.agg(
        F.expr(f"percentile(`{column}`, {float(lower)})").alias("_w_lo"),
        F.expr(f"percentile(`{column}`, {float(upper)})").alias("_w_hi"),
    )
    out_col = out or f"{column}_w"
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(
            out_col,
            F.bround(F.least(F.greatest(c, F.col("_w_lo")), F.col("_w_hi")),
                     digits),
        )
        .drop("_w_lo", "_w_hi")
    )


def with_group_zscore(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    out: str = "z",
    digits: int = 4,
) -> DataFrame:
    """F9 (beyond reference): annotate every row with its z-score
    *within its group* — ``(x - mean_g) / stddev_pop_g``, rounded to
    ``digits``. NULL where the value is NULL or the group's deviation
    is 0 (a constant group has no meaningful z). The standardization
    step behind per-source outlier triage, drift alerts, and
    cross-group score comparability.

    Uses the POPULATION standard deviation (``stddev_pop``), which is
    also what the DuckDB oracle computes — the sample/population choice
    changes every z, so it is part of the contract, not a detail.

    Scale (100 TB): one partial-aggregating group pass produces the
    (group, mean, std) table — dimension-sized by construction (one row
    per group) — broadcast back onto the fact table; the z itself is a
    row-local expression. No fact-table shuffle anywhere.
    """
    gks = [f"`{c}`" for c in group_cols]
    v = F.col(f"`{value_col}`").cast("double")
    stats = df.groupBy(*[F.col(g) for g in gks]).agg(
        F.avg(v).alias("_mu"), F.stddev_pop(v).alias("_sd"))
    return (
        df.join(F.broadcast(stats), list(group_cols), "left")
        .withColumn(
            out,
            F.when(F.col("_sd") > 0,
                   F.round((v - F.col("_mu")) / F.col("_sd"), digits)),
        )
        .drop("_mu", "_sd")
    )


def zscore_outliers(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    threshold: float = 3.0,
    out: str = "z",
) -> DataFrame:
    """Rows whose within-group |z| exceeds ``threshold`` — the
    filter form of :func:`with_group_zscore` (same annotation, then a
    row-local predicate Catalyst can evaluate in the joined stage)."""
    return with_group_zscore(df, group_cols, value_col, out=out).filter(
        F.abs(F.col(out)) > F.lit(threshold))


def mad_outliers(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    threshold: float = 3.5,
    out: str = "robust_z",
    digits: int = 4,
) -> DataFrame:
    """F10 (beyond reference): MAD-based robust outlier detection per
    group — rows whose modified z-score ``0.6745 * (x - median) / MAD``
    exceeds ``threshold`` in magnitude (Iglewicz & Hoaglin's 3.5
    convention). The robust sibling of :func:`zscore_outliers`: mean
    and stddev are themselves dragged by the outliers they're supposed
    to flag, so on heavy-tailed signals (latencies, document lengths,
    spend) the plain z-score under-reports; median and MAD have a 50%
    breakdown point and don't.

    Returns the outlier rows with ``out`` added (signed, rounded to
    ``digits``). Groups whose MAD is 0 (a majority-constant group)
    contribute no rows — every deviation there is "infinitely" unusual
    and the caller should inspect such groups by other means.

    Scale (100 TB): two exact-percentile group aggregates (medians of
    the value, then of the absolute deviation — ``percentile()`` and
    DuckDB ``quantile_cont`` share the linear-interpolation definition,
    the winsorize precedent), each producing a group-sized table that
    broadcasts back; the filter itself is row-local. Two fact scans is
    the price of the exact two-level median — for standing jobs swap
    ``percentile`` for ``approx_percentile`` and fuse nothing else.
    """
    gks = [F.col(f"`{c}`") for c in group_cols]
    v = F.col(f"`{value_col}`")
    med = (df.filter(v.isNotNull())
           .groupBy(*gks)
           .agg(F.expr(f"percentile(`{value_col}`, 0.5)").alias("_med")))
    dev = (df.filter(v.isNotNull())
           .join(F.broadcast(med), list(group_cols))
           .groupBy(*gks)
           .agg(F.expr(f"percentile(abs(`{value_col}` - _med), 0.5)")
                .alias("_mad")))
    z = F.lit(0.6745) * (v - F.col("_med")) / F.col("_mad")
    return (df.filter(v.isNotNull())
            .join(F.broadcast(med), list(group_cols))
            .join(F.broadcast(dev), list(group_cols))
            .filter((F.col("_mad") > 0)
                    & (F.abs(z) > F.lit(float(threshold))))
            .withColumn(out, F.bround(z, digits))
            .drop("_med", "_mad"))


def with_quantile_rank(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    out: str = "q",
    digits: int = 4,
) -> DataFrame:
    """F11 (beyond reference): quantile-transform annotation — each
    row's value becomes its percentile position within its group
    (``percent_rank``: 0 at the group min, 1 at the max, ties share a
    rank). The cross-source score calibrator: a "0.8 quality score"
    from source A and one from source B aren't comparable, their
    within-source quantiles are — rank-normalize, THEN threshold or
    mix. NULL values keep a NULL rank and don't consume rank mass;
    single-row groups rank 0 by the percent_rank convention.

    Scale (100 TB): one exchange on the group key, one sort —
    ``percent_rank`` is a built-in window on both engines, so the twin
    is definition-for-definition. A group's cost is its own sort; for
    standing jobs at extreme group sizes swap for the two-aggregate
    approximate form (broadcast approx-quantile cuts + row-local
    bucket lookup, the ppl_buckets shape).
    """
    gks = [F.col(f"`{c}`") for c in group_cols]
    v = F.col(f"`{value_col}`")
    w = Window.partitionBy(*gks).orderBy(v.asc())
    rank = F.when(v.isNotNull(),
                  F.bround(F.percent_rank().over(w), digits))
    nn = df.filter(v.isNotNull()).withColumn(out, rank)
    nulls = df.filter(v.isNull()).withColumn(
        out, F.lit(None).cast("double"))
    return nn.unionByName(nulls)
