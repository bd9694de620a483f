"""E1: Sparse Splice → Affine table + Splice Interval Table (SIT).

Pipeline (re-expressing ``feldman.py:96-142,155-291,404-529``):

1. :func:`with_offset_depths` — every per-row ``getOffsetDepth`` point
   lookup of the reference (``feldman.py:181,187``, two per splice row,
   each an O(n) pandas mask scan, ``coring/sectionSummary.py:158-181``)
   becomes ONE broadcast equi-join of the splice against the section
   summary, computing all four needed depths (top/bottom × unscaled/scaled)
   distributively with higher-order-function gap arithmetic.

2. :func:`splice_scan` — the genuinely recursive part (W1): each
   interval's affine shift depends on the previous interval's *shifted*
   bottom (``prevBotCCSF = shiftBot + affine``), so it cannot be a
   fixed-frame window function. The enriched splice table is tiny (≤
   hundreds of rows, ``BASELINE.md``), so the scan runs in a single
   ``applyInPandas`` group; everything expensive stays distributed.

3. :func:`on_splice_affines` / :func:`off_splice_affines` — one affine
   row per core, both anchored at :func:`core_tops` and ending in one
   shared projection. On-splice cores take the scan's offset; off-splice
   cores (those absent from the SIT) take a manual-correlation TIE (J6), a
   manual SET offset, or the SIT offset of the on-splice core with the
   nearest top (J7: a broadcast cross join reduced by ``min_by`` per core),
   replacing the reference's per-core linear search
   (``coring/sectionSummary.py:88-100``).

4. :func:`fill_affine` — differential offset (lag, W2) and expanding
   regression slope (``regr_slope``, W3/A6) per hole.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType, DoubleType, LongType, StringType, StructField, StructType,
)

from .ops.gaps import gap_above, parse_gaps
from .ops.joins import broadcast_equi_join
from .ops.windows import expanding_slope, first_seen, lag_diff

__all__ = [
    "IDX",
    "section_lookup",
    "core_tops",
    "with_offset_depths",
    "splice_scan",
    "sit_from_scan",
    "on_splice_affines",
    "off_splice_affines",
    "fill_affine",
    "AFFINE_OUT_COLUMNS",
]

IDX = "_idx"  # stable input-order column carried by loaders
KEYS = ["Site", "Hole", "Core"]  # a core's identity

AFFINE_OUT_COLUMNS = [
    "Site", "Hole", "Core", "Tool", "DepthCSF", "DepthCCSF", "Offset",
    "DifferentialOffset", "GrowthRate", "ShiftType", "FixedCore",
    "FixedTieCSF", "ShiftedTieCSF", "DataUsed", "Comment",
]


def _core_int() -> Column:
    return F.col("Core").cast("int")


def section_lookup(secsumm: DataFrame) -> DataFrame:
    """Per-(Site,Hole,Core,Section) lookup table with depths pre-rounded to
    3 places — the reference rounds at every lookup
    (``coring/sectionSummary.py:105-123``) — and gaps pre-parsed."""
    return secsumm.select(
        "Site", "Hole", "Core", "Section",
        F.bround("TopDepth", 3).alias("SecTop"),
        F.bround("BottomDepth", 3).alias("SecBot"),
        F.bround("TopDepthScaled", 3).alias("SecTopScaled"),
        F.bround("BottomDepthScaled", 3).alias("SecBotScaled"),
        F.bround("CuratedLength", 3).alias("Curated"),
        parse_gaps(F.col("Gaps")).alias("GapsParsed")
        if "Gaps" in secsumm.columns
        else F.array().cast("array<struct<top:double,bot:double>>").alias("GapsParsed"),
    )


def _offset_depth(offset_cm: Column, scaled: bool) -> Column:
    """``getOffsetDepth`` as a column expression (``feldman.py:52-74``,
    ``coring/sectionSummary.py:53-75``): section top + offset (cm→m) −
    total gap length above the offset; in scaled mode, depths whose curated
    length exceeds the drilled length are compressed to the drilled
    interval (the curated/drilled comparison keeps the reference's mixed
    m-vs-cm units for exact parity, ``coring/sectionSummary.py:67-73``)."""
    top = F.col("SecTopScaled") if scaled else F.col("SecTop")
    bot = F.col("SecBotScaled") if scaled else F.col("SecBot")
    depth = top + offset_cm / 100.0 - gap_above(F.col("GapsParsed"), offset_cm) / 100.0
    if scaled:
        drilled_cm = (bot - top) * 100.0
        compressed = top + (offset_cm / 100.0) * (drilled_cm / F.col("Curated"))
        depth = F.when(F.col("Curated") > drilled_cm, compressed).otherwise(depth)
    return depth


def with_offset_depths(sparse: DataFrame, lookup: DataFrame) -> DataFrame:
    """J8 batched: attach ShiftTop/ShiftBot (unscaled and scaled) to every
    splice row with two broadcast equi-joins — replacing 4 point lookups ×
    N splice rows of the reference (``feldman.py:181-187,211-213``)."""
    out = sparse
    for role, sec_col, off_col in (
        ("Top", "TopSection", "TopOffset"),
        ("Bot", "BottomSection", "BottomOffset"),
    ):
        look = lookup.withColumnRenamed("Section", sec_col)
        joined = broadcast_equi_join(
            out, look, on=["Site", "Hole", "Core", sec_col], how="left")
        off = F.col(off_col)
        out = joined.withColumns({
            f"Shift{role}": _offset_depth(off, scaled=False),
            f"Shift{role}Scaled": _offset_depth(off, scaled=True),
        }).drop("SecTop", "SecBot", "SecTopScaled", "SecBotScaled", "Curated", "GapsParsed")
    return out


def _scan_schema(enriched: DataFrame) -> StructType:
    fields = list(enriched.schema.fields)
    extra = [
        StructField("TopDepthCSF", DoubleType()),
        StructField("TopDepthCCSF", DoubleType()),
        StructField("BottomDepthCSF", DoubleType()),
        StructField("BottomDepthCCSF", DoubleType()),
        StructField("_affine", DoubleType()),
        StructField("_newCore", BooleanType()),
        StructField("_shiftType", StringType()),
        StructField("_fixedCore", StringType()),
        StructField("_fixedTieCsf", DoubleType()),
        StructField("_shiftedTieCsf", DoubleType()),
    ]
    return StructType(fields + extra)


def _splice_shift_to_affine(sptype: Optional[str], gap: Optional[float]) -> str:
    # feldman.py:284-291: TIE→TIE, APPEND-with-user-gap→SET, else REL.
    if sptype == "TIE":
        return "TIE"
    if sptype == "APPEND" and gap is not None:
        return "SET"
    return "REL"


def _scan_group(
    pdf: pd.DataFrame,
    use_scaled_depths: bool,
    lazy_append: bool,
    splice_start_depth: Optional[float],
) -> pd.DataFrame:
    """The recursive interval scan (``feldman.py:155-269``), on the tiny
    pre-enriched splice table. State carried row to row: previous affine,
    previous shifted bottom (CCSF), previous row's splice type and gap."""
    pdf = pdf.sort_values(IDX).reset_index(drop=True)
    n = len(pdf)
    top_csf = np.empty(n); top_ccsf = np.empty(n)
    bot_csf = np.empty(n); bot_ccsf = np.empty(n)
    affines = np.empty(n)
    new_core = np.zeros(n, dtype=bool)
    shift_types: List[str] = []
    fixed_cores: List[str] = []
    fixed_tie = np.full(n, np.nan)
    shifted_tie = np.full(n, np.nan)

    seen = set()
    prev_affine = 0.0
    prev_bot_ccsf: Optional[float] = None
    prev: Optional[pd.Series] = None
    sptype: Optional[str] = None
    gap: Optional[float] = None

    top_col = "ShiftTopScaled" if use_scaled_depths else "ShiftTop"
    bot_col = "ShiftBotScaled" if use_scaled_depths else "ShiftBot"

    for i in range(n):
        row = pdf.iloc[i]
        shift_top = row[top_col]
        shift_bot = row[bot_col]
        if pd.isna(shift_top) or pd.isna(shift_bot):
            raise ValueError(
                "Section summary lookup failed for splice interval {} "
                "({}{}-{} sections {}..{})".format(
                    i + 1, row["Site"], row["Hole"], row["Core"],
                    row["TopSection"], row["BottomSection"]))
        if shift_top >= shift_bot:
            raise ValueError(
                "Interval is inverted or zero-length: computed top depth "
                "{} >= computed bottom depth {}".format(shift_top, shift_bot))

        affine = 0.0
        if sptype is None and i == 0:
            if splice_start_depth is not None:
                affine = splice_start_depth - shift_top
        elif sptype == "APPEND":
            if gap is not None:
                affine = (prev_bot_ccsf + gap) - shift_top
            elif row["Hole"] == prev["Hole"] or lazy_append:
                affine = prev_affine
            else:
                # inter-hole APPEND preserves the scaled (CSF-B) gap
                # (feldman.py:210-218)
                scaled_gap = row["ShiftTopScaled"] - prev["_prevBotScaled"]
                affine = (prev_bot_ccsf - shift_top) + scaled_gap
        elif sptype == "TIE":
            affine = prev_bot_ccsf - shift_top
        else:
            raise ValueError("Encountered unknown splice type {}".format(sptype))

        # overlap repair for APPEND (feldman.py:227-233)
        if prev_bot_ccsf is not None and prev_bot_ccsf > shift_top + affine:
            if sptype == "APPEND":
                affine += prev_bot_ccsf - (shift_top + affine)

        coreid = "{}{}-{}".format(row["Site"], row["Hole"], row["Core"])
        if coreid not in seen:
            seen.add(coreid)
            new_core[i] = True
            shift_types.append(_splice_shift_to_affine(sptype, gap))
            if sptype == "TIE":
                fixed_cores.append(str(prev["Hole"]) + str(prev["Core"]))
                fixed_tie[i] = bot_csf[i - 1]
                shifted_tie[i] = shift_top
            else:
                fixed_cores.append("")
        else:
            shift_types.append("")
            fixed_cores.append("")

        top_csf[i] = shift_top
        top_ccsf[i] = shift_top + affine
        bot_csf[i] = shift_bot
        bot_ccsf[i] = shift_bot + affine
        affines[i] = affine

        prev_bot_ccsf = shift_bot + affine
        prev_affine = affine
        prev = row.copy()
        prev["_prevBotScaled"] = row["ShiftBotScaled"]
        sptype = str(row["SpliceType"]).upper()
        gap = None if pd.isna(row["Gap"]) else float(row["Gap"])

    out = pdf.copy()
    out["TopDepthCSF"] = top_csf
    out["TopDepthCCSF"] = top_ccsf
    out["BottomDepthCSF"] = bot_csf
    out["BottomDepthCCSF"] = bot_ccsf
    out["_affine"] = affines
    out["_newCore"] = new_core
    out["_shiftType"] = shift_types
    out["_fixedCore"] = fixed_cores
    out["_fixedTieCsf"] = fixed_tie
    out["_shiftedTieCsf"] = shifted_tie
    return out


def splice_scan(
    enriched: DataFrame,
    use_scaled_depths: bool = False,
    lazy_append: bool = False,
    splice_start_depth: Optional[float] = None,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """W1: run the recursive scan. With ``group_cols`` empty the whole
    splice is one ordered group (the reference's semantics — a splice is a
    single ordered document); pass e.g. ``["Site"]`` to scan many
    independent splices in parallel, one group per key.

    Execution note: ``groupBy + applyInPandas`` beats a tempting
    ``coalesce(1).mapInPandas`` formulation 4-5× here — coalesce collapses
    the *upstream* enrichment joins into one task, while the tiny grouped
    shuffle keeps them parallel."""
    schema = _scan_schema(enriched)

    def apply_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _scan_group(pdf, use_scaled_depths, lazy_append, splice_start_depth)

    if group_cols:
        grouped = enriched.groupBy(*[F.col(c) for c in group_cols])
    else:
        # single ordered group: a splice is one ordered document
        # (a plain integer literal would be read as a group-by ordinal)
        grouped = enriched.groupBy(F.lit("all").alias("_g"))
    return grouped.applyInPandas(apply_fn, schema=schema)


def sit_from_scan(scanned: DataFrame, sparse_columns: Sequence[str]) -> DataFrame:
    """Project the scan output to SIT column order: sparse columns with the
    four computed depth columns inserted at positions 6 and 10
    (``feldman.py:271-273`` — positional insert is a final ``select`` in
    Spark, SURVEY §2.2 P4)."""
    cols = [c for c in sparse_columns if c != IDX]
    out = (
        cols[:6]
        + ["TopDepthCSF", "TopDepthCCSF"]
        + cols[6:8]
        + ["BottomDepthCSF", "BottomDepthCCSF"]
        + cols[8:]
    )
    return scanned.orderBy(IDX).select([F.col(f"`{c}`") for c in out])


def core_tops(secsumm: DataFrame) -> DataFrame:
    """One row per core: its section-'1' row with the raw ``TopDepth`` and
    ``CoreTop`` = that top rounded to 3 places, ``getCoreTop``
    (``coring/sectionSummary.py:102-107``)."""
    return secsumm.filter(F.col("Section") == "1").select(
        *KEYS, "Tool", "TopDepth", F.bround("TopDepth", 3).alias("CoreTop"), IDX)


def _affine_rows(rows: DataFrame, comment: str, **shift: str) -> DataFrame:
    """The affine projection both branches end in: depths anchored at
    ``CoreTop``, and the five shift columns (``Offset``, ``ShiftType``,
    ``FixedCore``, ``FixedTieCSF``, ``ShiftedTieCSF``) given as SQL."""
    return rows.selectExpr(*KEYS, "Tool", "CoreTop",
                           *[f"{sql} AS {name}" for name, sql in shift.items()]) \
        .selectExpr(*KEYS, "Tool", "CoreTop AS DepthCSF", "CoreTop + Offset AS DepthCCSF",
                    "Offset", "ShiftType", "FixedCore", "FixedTieCSF", "ShiftedTieCSF",
                    "'' AS DataUsed", f"'{comment}' AS Comment")


def on_splice_affines(scanned: DataFrame, cores: DataFrame) -> DataFrame:
    """One affine row per first-seen core in splice order
    (``feldman.py:236-248``), its depth anchored at the core top."""
    rows = broadcast_equi_join(scanned.filter(F.col("_newCore")),
                               cores.select(*KEYS, "CoreTop"), on=KEYS, how="left")
    return _affine_rows(rows, "splice", Offset="_affine", ShiftType="_shiftType",
                        FixedCore="_fixedCore", FixedTieCSF="_fixedTieCsf",
                        ShiftedTieCSF="_shiftedTieCsf")


def sit_core_offsets(sit: DataFrame) -> DataFrame:
    """(Site,Hole,Core) → first SIT row's ``TopDepthCCSF − TopDepthCSF``
    (``coring/spliceInterval.py:73-77`` ``getCoreOffset`` takes the first
    matching row). The SIT must carry ``_idx`` (file/splice order)."""
    return first_seen(sit, KEYS, [F.col(IDX)]) \
        .selectExpr(*KEYS, "TopDepthCCSF - TopDepthCSF AS SitOffset")


def _with_point_depth(ties: DataFrame, lookup: DataFrame, n: int) -> DataFrame:
    """Attach ``Mbsf<n>``: the unscaled ``getOffsetDepth`` of correlation
    point ``n`` (``feldman.py:452-474``)."""
    look = lookup.selectExpr(*[f"{k} AS {k}{n}" for k in KEYS + ["Section"]],
                             "SecTop", "GapsParsed")
    joined = broadcast_equi_join(
        ties, look, on=[f"{k}{n}" for k in KEYS + ["Section"]], how="left")
    return joined.withColumn(
        f"Mbsf{n}", _offset_depth(F.col(f"SectionDepth{n}"), scaled=False),
    ).drop("SecTop", "GapsParsed")


def off_splice_affines(
    sit: DataFrame,
    cores: DataFrame,
    lookup: DataFrame,
    manual_correlation: Optional[DataFrame] = None,
    manual_offsets: Optional[DataFrame] = None,
) -> DataFrame:
    """Affine shifts for cores absent from the splice
    (``feldman.py:404-497``). Precedence per core:

    1. manual correlation TIE whose on-splice core is actually in the SIT
       (offset aligns the two correlation points in composite depth);
    2. manual SET offset;
    3. default: the SIT offset of the on-splice core with the nearest
       section-'1' top depth (J7; first-in-file order wins ties, matching
       the reference's strict ``<`` scan, ``coring/sectionSummary.py:92-98``).
       A core without a top never wins: the reference's ``<`` is false
       against NaN.
    """
    offsets = sit_core_offsets(sit)
    off_cores = broadcast_equi_join(cores, offsets, on=KEYS, how="left_anti")

    # --- default method: nearest on-splice core top (J7 + A4). The search
    # key is the off-splice core's *rounded* top, the candidate's is raw
    # (getSectionTop rounds, the candidate TopDepth does not: feldman parity)
    candidates = broadcast_equi_join(
        cores.filter(F.col("TopDepth").isNotNull()), offsets, on=KEYS, how="inner",
    ).selectExpr("TopDepth AS NearTop", "SitOffset", f"{IDX} AS NearIdx")
    rows = off_cores.crossJoin(F.broadcast(candidates)) \
        .groupBy(*KEYS, "Tool", "CoreTop") \
        .agg(F.expr("min_by(SitOffset, struct(abs(CoreTop - NearTop), NearIdx))")
             .alias("Offset"))
    shift = {"Offset": "Offset", "ShiftType": "'REL'", "FixedCore": "''",
             "FixedTieCSF": "CAST(NULL AS DOUBLE)", "ShiftedTieCSF": "CAST(NULL AS DOUBLE)"}

    # --- manual SET offsets (ManualOffsetTable, feldman.py:478-481) ------
    if manual_offsets is not None:
        rows = broadcast_equi_join(
            rows, manual_offsets.selectExpr(*KEYS, "Offset AS SetOffset"), on=KEYS, how="left")
        shift["ShiftType"] = "CASE WHEN SetOffset IS NOT NULL THEN 'SET' ELSE 'REL' END"
        shift["Offset"] = "coalesce(SetOffset, Offset)"

    # --- manual correlation TIEs (ManualCorrelationTable, feldman.py:452-474)
    if manual_correlation is not None:
        ties = _with_point_depth(_with_point_depth(manual_correlation, lookup, 1), lookup, 2)
        # on-splice core must actually be in the SIT (feldman.py:455,475-477)
        ties = broadcast_equi_join(
            ties, offsets.selectExpr(*[f"{k} AS {k}2" for k in KEYS], "SitOffset"),
            on=[f"{k}2" for k in KEYS], how="inner",
        ).selectExpr(*[f"{k}1 AS {k}" for k in KEYS],
                     "Mbsf2 + SitOffset - Mbsf1 AS TieOffset",
                     "concat(Hole2, Core2) AS TieFixedCore",
                     "Mbsf2 AS TieFixedCSF", "Mbsf1 AS TieShiftedCSF")
        # first correlation per core wins; later ones ignored (feldman.py:438-442)
        ties = ties.groupBy(*KEYS).agg(*[F.first(c).alias(c) for c in (
            "TieOffset", "TieFixedCore", "TieFixedCSF", "TieShiftedCSF")])
        rows = broadcast_equi_join(rows, ties, on=KEYS, how="left")
        tie = {"Offset": "TieOffset", "ShiftType": "'TIE'", "FixedCore": "TieFixedCore",
               "FixedTieCSF": "TieFixedCSF", "ShiftedTieCSF": "TieShiftedCSF"}
        shift = {name: f"CASE WHEN TieOffset IS NOT NULL THEN {tie[name]} ELSE {sql} END"
                 for name, sql in shift.items()}

    return _affine_rows(rows, "off-splice", **shift)


def fill_affine(affine_rows: DataFrame) -> DataFrame:
    """Sort by (Site, Hole, int(Core)) and fill DifferentialOffset (W2 lag)
    and GrowthRate (W3 expanding ``regr_slope``) — ``feldman.py:500-529``.

    Reference parity note: the reference groups by **hole letter alone**,
    across sites (``feldman.py:503-505``: ``holes = set(r.hole ...)``), so
    the windows below partition by Hole only, ordered by the global sort key.
    """
    order = [F.col("Site").asc(), F.col("Hole").asc(), _core_int().asc()]
    out = lag_diff(affine_rows, "Offset", partition_by=["Hole"],
                   order_by=order, out="DifferentialOffset")
    out = expanding_slope(out, x="DepthCSF", y="DepthCCSF", partition_by=["Hole"],
                          order_by=order, out="GrowthRate", digits=3)
    return out.orderBy("Site", "Hole", _core_int()).select(AFFINE_OUT_COLUMNS)
