"""E1 option-surface parity: run the reference implementation with every
option combination (scaled depths, lazy append, splice start depth, manual
correlation) and compare our engine's affine + SIT value-for-value."""

import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

from conftest import REFERENCE as REF, SCRATCH, require_reference
from feldman_spark.engine import convert_sparse_splice

OUT = os.path.join(SCRATCH, "optparity")

COMBOS = {
    "scaled": dict(use_scaled_depths=True),
    "lazy": dict(lazy_append=True),
    "startdepth": dict(sparse_splice_depth=5.0),
    "mancorr": dict(manual_correlation_path=f"{REF}/testdata/ManualCorrelationTable.csv"),
    "all": dict(use_scaled_depths=True, lazy_append=True, sparse_splice_depth=2.5,
                manual_correlation_path=f"{REF}/testdata/ManualCorrelationTable.csv"),
}

_REF_KW = {
    "use_scaled_depths": "useScaledDepths",
    "lazy_append": "lazyAppend",
    "sparse_splice_depth": "sparseSpliceDepth",
    "manual_correlation_path": "manualCorrelationPath",
}

_REF_SCRIPT = """
import sys, logging
sys.path.insert(0, {ref!r})
logging.basicConfig(level=logging.CRITICAL)
import feldman
feldman.convertSparseSplice(
    {ref!r} + '/testdata/GLAD9_SectionSummary.csv',
    {ref!r} + '/testdata/GLAD9_Site1_SparseSplice.csv',
    {aff!r}, {sit!r}, **{kw!r})
"""


def _compare(ref_df, our_df, sort_cols, atol=1e-9):
    assert sorted(ref_df.columns) == sorted(our_df.columns)
    our_df = our_df[ref_df.columns.tolist()]
    assert len(ref_df) == len(our_df)
    r = ref_df.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
    o = our_df.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
    for col in ref_df.columns:
        if pd.api.types.is_numeric_dtype(r[col]) and pd.api.types.is_numeric_dtype(o[col]):
            ok = np.isclose(r[col].astype(float), o[col].astype(float),
                            atol=atol, rtol=0, equal_nan=True)
        else:
            ok = (r[col].fillna("").astype(str).str.strip()
                  == o[col].fillna("").astype(str).str.strip())
        bad = np.where(~ok)[0]
        assert len(bad) == 0, (
            f"col {col!r}: {len(bad)} mismatches, first: "
            f"ref={r[col].iloc[bad[0]]!r} our={o[col].iloc[bad[0]]!r} "
            f"at {r[['Site','Hole','Core']].iloc[bad[0]].tolist()}")


def _manual_offset_fixture() -> str:
    """No ManualOffsetTable fixture ships with the reference — synthesize
    one (SET-type shifts for three off-splice cores,
    coring/manualCorrelation.py:92-122)."""
    os.makedirs(OUT, exist_ok=True)
    p = f"{OUT}/ManualOffsets.csv"
    if not os.path.exists(p):
        with open(p, "w") as f:
            f.write("Site,Hole,Core,Offset\n")
            f.write("1,A,5,0.42\n")
            f.write("1,B,7,-0.13\n")
            f.write("2,A,1,1.5\n")
    return p


@pytest.mark.parametrize("name", list(COMBOS) + ["manoff"])
def test_option_combo_parity(spark, ref_testdata, name):
    os.makedirs(OUT, exist_ok=True)
    if name == "manoff":
        kw = dict(manual_correlation_path=_manual_offset_fixture())
    else:
        kw = COMBOS[name]
    ref_aff = f"{OUT}/ref_{name}_affine.csv"
    ref_sit = f"{OUT}/ref_{name}_sit.csv"
    if not os.path.exists(ref_sit):
        ref_kw = {_REF_KW[k]: v for k, v in kw.items()}
        subprocess.run(
            [sys.executable, "-c", _REF_SCRIPT.format(
                ref=REF, aff=ref_aff, sit=ref_sit, kw=ref_kw)],
            check=True, cwd=OUT, capture_output=True)

    our_aff = f"{OUT}/our_{name}_affine.csv"
    our_sit = f"{OUT}/our_{name}_sit.csv"
    convert_sparse_splice(
        spark,
        f"{ref_testdata}/GLAD9_SectionSummary.csv",
        f"{ref_testdata}/GLAD9_Site1_SparseSplice.csv",
        our_aff, our_sit, **kw)

    _compare(pd.read_csv(ref_sit), pd.read_csv(our_sit),
             ["Site", "Hole", "Core", "Top Section", "Top Offset"])
    _compare(pd.read_csv(ref_aff), pd.read_csv(our_aff), ["Site", "Hole", "Core"])


_REF_E2_SCRIPT = """
import sys, logging
sys.path.insert(0, {ref!r})
logging.basicConfig(level=logging.CRITICAL)
import feldman
feldman.exportMeasurementData(
    {aff!r}, {sit!r},
    {ref!r} + '/testdata/GLAD9_Site1_XRF.csv',
    {out!r}, depthColumn={depth!r}, **{kw!r})
"""

E2_COMBOS = {
    "whole_section": dict(wholeSpliceSection=True),
    "no_offsplice": dict(includeOffSplice=False),
    "whole_no_off": dict(wholeSpliceSection=True, includeOffSplice=False),
}

DEPTH = "Sediment Depth, unscaled (MBS / CSF-A)"


@pytest.mark.parametrize("name", list(E2_COMBOS))
def test_e2_option_parity(spark, ref_testdata, name):
    from feldman_spark.engine import export_measurement_data

    os.makedirs(OUT, exist_ok=True)
    kw = E2_COMBOS[name]
    # shared baseline affine+SIT from the default E1 run
    base_aff = f"{OUT}/ref_base_affine.csv"
    base_sit = f"{OUT}/ref_base_sit.csv"
    if not os.path.exists(base_sit):
        subprocess.run(
            [sys.executable, "-c", _REF_SCRIPT.format(
                ref=REF, aff=base_aff, sit=base_sit, kw={})],
            check=True, cwd=OUT, capture_output=True)

    ref_out = f"{OUT}/ref_e2_{name}.csv"
    if not os.path.exists(ref_out):
        subprocess.run(
            [sys.executable, "-c", _REF_E2_SCRIPT.format(
                ref=REF, aff=base_aff, sit=base_sit, out=ref_out,
                depth=DEPTH, kw=kw)],
            check=True, cwd=OUT, capture_output=True)

    our_out = f"{OUT}/our_e2_{name}.csv"
    export_measurement_data(
        spark, base_aff, base_sit,
        f"{ref_testdata}/GLAD9_Site1_XRF.csv", our_out, depth_column=DEPTH,
        include_off_splice=kw.get("includeOffSplice", True),
        whole_splice_section=kw.get("wholeSpliceSection", False),
    )
    ref_df = pd.read_csv(ref_out, low_memory=False)
    our_df = pd.read_csv(our_out, low_memory=False)
    _compare(ref_df, our_df, ["SectionID", DEPTH, "On-Splice"], atol=1e-7)


def test_parallel_multi_splice_scan(spark, ref_testdata):
    """splice_scan(group_cols=['Site']) scans many independent splices in
    parallel, one applyInPandas group per site; results must equal running
    each site's splice through the single-group scan."""
    from pyspark.sql import functions as F

    from feldman_spark.engine import load_section_summary, load_sparse_splice
    from feldman_spark.splice import (
        section_lookup, sit_from_scan, splice_scan, with_offset_depths)

    ss = load_section_summary(spark, f"{ref_testdata}/GLAD9_SectionSummary.csv")
    sp1 = load_sparse_splice(spark, f"{ref_testdata}/GLAD9_Site1_SparseSplice.csv")
    # clone the site-1 splice into a synthetic site 'X' (same geometry): two
    # independent splices in one table
    ss2 = ss.withColumn("Site", F.when(F.col("Site") == "1", "X").otherwise(F.col("Site")))
    ss_all = ss.unionByName(ss2.filter(F.col("Site") == "X"))
    sp2 = sp1.withColumn("Site", F.lit("X"))
    sp_all = sp1.unionByName(sp2)

    lookup = section_lookup(ss_all)
    enriched = with_offset_depths(sp_all, lookup)
    grouped = splice_scan(enriched, group_cols=["Site"])

    # single-group scans per site are the oracle
    single1 = splice_scan(with_offset_depths(sp1, section_lookup(ss)))
    cols = ["Site", "Hole", "Core", "TopSection",
            "TopDepthCSF", "TopDepthCCSF", "BottomDepthCSF", "BottomDepthCCSF"]

    got1 = sorted([tuple(r) for r in grouped.filter(F.col("Site") == "1").select(cols).collect()])
    want1 = sorted([tuple(r) for r in single1.select(cols).collect()])
    assert got1 == want1

    # site X is a pure clone: identical depths under its own scan
    got2 = sorted([tuple(r)[1:] for r in grouped.filter(F.col("Site") == "X").select(cols).collect()])
    assert got2 == [t[1:] for t in want1]


def test_scaled_compression_branch_parity(spark):
    """The curated-vs-drilled compression path (coring/sectionSummary.py:67-73)
    only fires in scaled mode when CuratedLength (m) exceeds the drilled
    length *in cm* — the reference's mixed-unit comparison, preserved
    bug-for-bug. No shipped fixture triggers it; craft one and compare both
    implementations."""
    require_reference()
    case = f"{OUT}/compression"
    os.makedirs(case, exist_ok=True)
    ss_path, sp_path = f"{case}/ss.csv", f"{case}/sp.csv"
    with open(ss_path, "w") as f:
        f.write("Site,Hole,Core,Tool,Section,TopDepth,BottomDepth,"
                "TopDepthScaled,BottomDepthScaled,CuratedLength,Gaps\n")
        # CuratedLength=200.0 > drilled 150cm -> compression fires in scaled mode
        for c in (1, 2):
            for s in (1, 2, 3):
                top = (c - 1) * 4.5 + (s - 1) * 1.5
                f.write(f"1,A,{c},H,{s},{top},{top+1.5},{top*1.02},{(top+1.5)*1.02},200.0,\n")
    with open(sp_path, "w") as f:
        f.write("Site,Hole,Core,Tool,TopSection,TopOffset,BottomSection,"
                "BottomOffset,SpliceType,Gap,DataUsed,Comment\n")
        f.write("1,A,1,H,1,10.0,3,120.0,TIE,,,\n")
        f.write("1,A,2,H,1,20.0,3,110.0,TIE,,,\n")

    ref_aff, ref_sit = f"{case}/ref_aff.csv", f"{case}/ref_sit.csv"
    subprocess.run(
        [sys.executable, "-c", f"""
import sys, logging
sys.path.insert(0, {REF!r})
logging.basicConfig(level=logging.CRITICAL)
import feldman
feldman.convertSparseSplice({ss_path!r}, {sp_path!r}, {ref_aff!r}, {ref_sit!r},
                            useScaledDepths=True)
"""], check=True, cwd=case, capture_output=True)

    our_aff, our_sit = f"{case}/our_aff.csv", f"{case}/our_sit.csv"
    convert_sparse_splice(spark, ss_path, sp_path, our_aff, our_sit,
                          use_scaled_depths=True)
    _compare(pd.read_csv(ref_sit), pd.read_csv(our_sit),
             ["Site", "Hole", "Core", "Top Section"])
    _compare(pd.read_csv(ref_aff), pd.read_csv(our_aff), ["Site", "Hole", "Core"])
    # prove compression actually fired: compressed depth differs from the
    # plain scaled depth formula
    sit = pd.read_csv(our_sit)
    top = sit["Top Depth CSF-A"].iloc[0]
    plain = round(0.0 * 1.02 + 10.0 / 100.0, 3)     # no compression
    # scaled drilled length = (1.53 - 0.0) m = 153 cm
    compressed = 0.0 + (10.0 / 100.0) * (153.0 / 200.0)
    # CSV values are rounded to 3 places; allow the rounding gap
    assert abs(top - compressed) <= 5.1e-4 and abs(top - plain) > 1e-2
