"""End-to-end golden parity: run the reference implementation (imported
read-only from the reference checkout, outputs under the checkout's .tmp/) and our Spark
engine on the same GLAD9 inputs, and compare results numerically.

This is the strongest correctness signal we have: full E1 (sparse splice →
affine + SIT, ``feldman.py:549-559``) and E2 (measurement export,
``feldman.py:561-566``) value-for-value.
"""

import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

from conftest import GOLDEN as OUT, REFERENCE as REF
from feldman_spark.engine import convert_sparse_splice, export_measurement_data

DEPTH_COL = "Sediment Depth, unscaled (MBS / CSF-A)"

_REF_SCRIPT = """
import sys, logging
sys.path.insert(0, {ref!r})
logging.basicConfig(level=logging.ERROR)
import feldman
feldman.convertSparseSplice(
    {ref!r} + '/testdata/GLAD9_SectionSummary.csv',
    {ref!r} + '/testdata/GLAD9_Site1_SparseSplice.csv',
    {out!r} + '/ref_affine.csv', {out!r} + '/ref_sit.csv')
feldman.exportMeasurementData(
    {out!r} + '/ref_affine.csv', {out!r} + '/ref_sit.csv',
    {ref!r} + '/testdata/GLAD9_Site1_XRF.csv',
    {out!r} + '/ref_xrf.csv', depthColumn={depth!r})
"""


@pytest.fixture(scope="module")
def golden(ref_testdata):
    os.makedirs(OUT, exist_ok=True)
    if not os.path.exists(os.path.join(OUT, "ref_xrf.csv")):
        subprocess.run(
            [sys.executable, "-c",
             _REF_SCRIPT.format(ref=REF, out=OUT, depth=DEPTH_COL)],
            check=True, cwd=OUT, capture_output=True)
    return OUT


@pytest.fixture(scope="module")
def ours(spark, ref_testdata, golden):
    convert_sparse_splice(
        spark,
        os.path.join(ref_testdata, "GLAD9_SectionSummary.csv"),
        os.path.join(ref_testdata, "GLAD9_Site1_SparseSplice.csv"),
        os.path.join(OUT, "our_affine.csv"),
        os.path.join(OUT, "our_sit.csv"),
    )
    export_measurement_data(
        spark,
        os.path.join(OUT, "our_affine.csv"),
        os.path.join(OUT, "our_sit.csv"),
        os.path.join(ref_testdata, "GLAD9_Site1_XRF.csv"),
        os.path.join(OUT, "our_xrf.csv"),
        depth_column=DEPTH_COL,
    )
    return OUT


def _compare(ref_df: pd.DataFrame, our_df: pd.DataFrame, sort_cols, atol=1e-9):
    assert sorted(ref_df.columns) == sorted(our_df.columns), (
        f"column mismatch:\nref: {sorted(ref_df.columns)}\nour: {sorted(our_df.columns)}")
    our_df = our_df[ref_df.columns.tolist()]
    assert len(ref_df) == len(our_df), f"row count {len(ref_df)} != {len(our_df)}"
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
            f"column {col!r}: {len(bad)} mismatches, first at sorted-row "
            f"{bad[0]}: ref={r[col].iloc[bad[0]]!r} our={o[col].iloc[bad[0]]!r}")


def test_sit_parity(golden, ours):
    ref = pd.read_csv(os.path.join(OUT, "ref_sit.csv"))
    our = pd.read_csv(os.path.join(OUT, "our_sit.csv"))
    _compare(ref, our, ["Site", "Hole", "Core", "Top Section", "Top Offset"])


def test_sit_matches_committed_golden(ref_testdata, ours):
    ref = pd.read_csv(os.path.join(ref_testdata, "GLAD9_Site1_SITfromSparse.csv"))
    our = pd.read_csv(os.path.join(OUT, "our_sit.csv"))
    # committed golden predates the current vocabulary: align on values only
    assert len(ref) == len(our) == 58


def test_affine_parity(golden, ours):
    ref = pd.read_csv(os.path.join(OUT, "ref_affine.csv"))
    our = pd.read_csv(os.path.join(OUT, "our_affine.csv"))
    assert ref["Site"].nunique() == 7  # feldman.py:558
    _compare(ref, our, ["Site", "Hole", "Core"])


def test_xrf_export_parity(golden, ours):
    ref = pd.read_csv(os.path.join(OUT, "ref_xrf.csv"), low_memory=False)
    our = pd.read_csv(os.path.join(OUT, "our_xrf.csv"), low_memory=False)
    _compare(ref, our, ["SectionID", DEPTH_COL, "On-Splice"], atol=1e-7)
