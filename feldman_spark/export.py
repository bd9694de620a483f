"""E2: splice (export) measurement data — the scalability centerpiece.

The reference loops over SIT intervals, full-scanning the measurement table
per interval, then loops over affine rows full-scanning again for off-splice
rows (``feldman.py:298-382`` — O(intervals × md_rows) + O(cores × md_rows)).

Here the whole export is ONE broadcast left join over ONE distributed pass
of the measurement table:

* measurement ⟕ section-exploded SIT on (Site, Hole, Core, Section) equi
  keys + the depth-range residual (J1/J2), SIT side broadcast;
* matched rows → on-splice (a row matching k overlapping intervals is
  exported k times — reference semantics, ``feldman.py:337-342``);
* unmatched rows → broadcast-joined to the affine table (J4): matched →
  off-splice with the core's cumulative offset, unmatched → the
  "unwritten" side output (S7, ``feldman.py:370-376``).

No anti-join, no row-id bookkeeping, no shuffle of the measurement side —
an earlier formulation anti-joined on a row id, which degenerates to a
sort-merge shuffle of the full fact table once the on-splice id set
outgrows the broadcast threshold (caught by ``tools/scale_smoke.py`` at
10M rows). At 100 TB the fact table must only ever stream through
broadcast hash joins.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .formats.columns import find_all_starts_with, quote_ident
from .ops.windows import section_range

__all__ = ["SpliceExport", "export_columns", "splice_export"]


@dataclass
class SpliceExport:
    """Result of :func:`splice_export`."""

    spliced: DataFrame            # on-splice (+ off-splice when requested)
    unwritten: Optional[DataFrame]  # off-splice rows matching no affine core


def export_columns(md_columns: List[str]) -> List[str]:
    """Final export column order: measurement columns with
    ``Splice Depth``, ``Offset``, ``On-Splice`` inserted after the last
    column whose name starts with "Sediment Depth" (las-normalized), or at
    the front if none (``feldman.py:385-393``, P4)."""
    matches = find_all_starts_with("Sediment Depth", md_columns)
    idx = max(md_columns.index(m) for m in matches) + 1 if matches else 0
    return (md_columns[:idx] + ["Splice Depth", "Offset", "On-Splice"]
            + md_columns[idx:])


def _expand_sit_sections(sit: DataFrame) -> DataFrame:
    """W5: one row per (interval, section). Single-section intervals keep
    their section verbatim; multi-section intervals expand the inclusive
    integer range (``feldman.py:323-327``)."""
    single = F.col("TopSection") == F.col("BottomSection")
    sections = F.when(single, F.array(F.col("TopSection"))).otherwise(
        section_range("TopSection", "BottomSection"))
    return sit.select(
        F.col("Site").alias("__site"),
        F.col("Hole").alias("__hole"),
        F.col("Core").alias("__core"),
        F.explode(sections).alias("__section"),
        F.col("TopDepthCSF").alias("__top_csf"),
        F.col("BottomDepthCSF").alias("__bot_csf"),
        (F.col("TopDepthCCSF") - F.col("TopDepthCSF")).alias("__offset"),
    )


def splice_export(
    md: DataFrame,
    affine: DataFrame,
    sit: DataFrame,
    depth_column: str,
    include_off_splice: bool = True,
    whole_splice_section: bool = False,
) -> SpliceExport:
    """Export measurement rows with composite depth and on-/off-splice flag.
    One broadcast left join per stage; the measurement side never shuffles.
    """
    depth = F.col(quote_ident(depth_column))
    md_columns = md.columns
    out_cols = export_columns(md_columns)
    sit_exp = _expand_sit_sections(sit)

    cond = (
        (F.col("Site") == F.col("__site"))
        & (F.col("Hole") == F.col("__hole"))
        & (F.col("Core") == F.col("__core"))
        & (F.col("Section") == F.col("__section"))
    )
    if not whole_splice_section:
        cond = cond & depth.between(F.col("__top_csf"), F.col("__bot_csf"))

    def finalize(df: DataFrame, offset: str, flag: str) -> DataFrame:
        # one selectExpr: a Column per output column would cost several
        # py4j round trips each
        added = {
            "Splice Depth": f"{quote_ident(depth_column)} + {offset}",
            "Offset": offset,
            "On-Splice": flag,
        }
        return df.selectExpr(*[
            f"{added[c]} AS {quote_ident(c)}" if c in added else quote_ident(c)
            for c in out_cols])

    if not include_off_splice:
        joined = md.join(F.broadcast(sit_exp), cond, "inner")
        return SpliceExport(
            spliced=finalize(joined, "__offset", "'splice'"), unwritten=None)

    joined = md.join(F.broadcast(sit_exp), cond, "left")

    # The left join emits one row per interval match, and exactly one
    # null-extended row per measurement row matching no interval. The
    # affine lookup applies only to those unmatched rows — the
    # `__offset IS NULL` term in the join condition keeps matched rows at
    # multiplicity 1 — so the whole classification is one streamed pass.
    aff = affine.select(
        F.col("Site").alias("__asite"), F.col("Hole").alias("__ahole"),
        F.col("Core").alias("__acore"), F.col("Offset").alias("__aoffset"))
    acond = (
        F.col("__offset").isNull()
        & (F.col("Site") == F.col("__asite"))
        & (F.col("Hole") == F.col("__ahole"))
        & (F.col("Core") == F.col("__acore"))
    )
    joined = joined.join(F.broadcast(aff), acond, "left")

    is_on = F.col("__offset").isNotNull()
    is_off = F.col("__offset").isNull() & F.col("__aoffset").isNotNull()
    spliced = finalize(
        joined.filter(is_on | is_off),
        "coalesce(__offset, __aoffset)",
        "CASE WHEN __offset IS NOT NULL THEN 'splice' ELSE 'off-splice' END",
    )
    unwritten = joined.filter(F.col("__offset").isNull() & F.col("__aoffset").isNull()) \
        .selectExpr(*[quote_ident(c) for c in md_columns])
    return SpliceExport(spliced=spliced, unwritten=unwritten)
