"""Differential fuzzing: hypothesis generates random (valid) section
summaries and sparse splices; the reference implementation and our engine
both run E1 on the same CSVs and must agree value-for-value.

This covers input geometries the GLAD9 fixtures never produce: equal core
tops across holes (nearest-top tie-breaks), random gap strings in the gap
arithmetic, mixed TIE/APPEND chains with user gaps, multi-hole alternation.
"""

import hashlib
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from conftest import REFERENCE as REF, SCRATCH, require_reference
from feldman_spark.engine import convert_sparse_splice

OUT = os.path.join(SCRATCH, "fuzz")

_REF_SCRIPT = """
import sys, logging
sys.path.insert(0, {ref!r})
logging.basicConfig(level=logging.CRITICAL)
import feldman
feldman.convertSparseSplice({ss!r}, {sp!r}, {aff!r}, {sit!r}, **{kw!r})
"""

_REF_KW = {
    "use_scaled_depths": "useScaledDepths",
    "lazy_append": "lazyAppend",
    "sparse_splice_depth": "sparseSpliceDepth",
}

SECTION_LEN = 1.5
SECTIONS = 3


def _write_inputs(case_dir, holes, cores_per_hole, gap_flags, splice_plan,
                  staggers=None):
    os.makedirs(case_dir, exist_ok=True)
    ss_path = os.path.join(case_dir, "secsumm.csv")
    sp_path = os.path.join(case_dir, "sparse.csv")

    staggers = staggers or {}
    rows = []
    gi = 0
    for h in holes[:]:
        for c in range(1, cores_per_hole + 1):
            # per-hole stagger models staggered drilling: nearest-top
            # selection then has genuinely distinct candidates, not only
            # exact cross-hole ties
            core_top = (c - 1) * SECTIONS * SECTION_LEN + staggers.get(h, 0.0)
            for s in range(1, SECTIONS + 1):
                top = core_top + (s - 1) * SECTION_LEN
                bot = top + SECTION_LEN
                gap = ""
                if gap_flags[gi % len(gap_flags)]:
                    gap = "10.0-20.0 50.0-55.0"
                gi += 1
                rows.append(("1", h, str(c), "H", str(s), top, bot,
                             round(top * 1.01, 6), round(bot * 1.01, 6),
                             SECTION_LEN, gap))
    with open(ss_path, "w") as f:
        f.write("Site,Hole,Core,Tool,Section,TopDepth,BottomDepth,"
                "TopDepthScaled,BottomDepthScaled,CuratedLength,Gaps\n")
        for r in rows:
            f.write(",".join(str(x) for x in r) + "\n")

    with open(sp_path, "w") as f:
        f.write("Site,Hole,Core,Tool,TopSection,TopOffset,BottomSection,"
                "BottomOffset,SpliceType,Gap,DataUsed,Comment\n")
        for (h, c, ts, toff, bs, boff, sptype, gap) in splice_plan:
            f.write(f"1,{h},{c},H,{ts},{toff},{bs},{boff},{sptype},{gap},,\n")
    return ss_path, sp_path


splice_steps = st.lists(
    st.tuples(
        st.integers(0, 1),              # hole index
        st.sampled_from(["TIE", "APPEND"]),
        st.integers(1, 3),              # top section
        st.integers(1, 3),              # bottom section
        st.floats(5.0, 140.0),          # top offset cm
        st.floats(5.0, 140.0),          # bottom offset cm
        st.booleans(),                  # user gap on APPEND?
    ),
    min_size=2, max_size=6)


def _splice_plan(steps, num_holes=2):
    holes = ["A", "B", "C"][:num_holes]
    plan = []
    for i, (hidx, sptype, ts, bs, toff, boff, usegap) in enumerate(steps):
        h = holes[hidx % num_holes]
        c = str(i + 1)
        # sections/offsets are unconstrained: inverted intervals make the
        # reference bail, and then our engine must refuse too (dual-outcome
        # contract below)
        gap = round(0.25, 3) if (usegap and sptype == "APPEND" and i > 0) else ""
        plan.append((h, c, str(ts), round(toff, 3), str(bs), round(boff, 3),
                     sptype, gap))
    return holes, plan


def _run_differential_case(spark, steps, gap_pattern, kw, num_holes=2,
                           staggers=None):
    """Run the reference and our engine on one generated geometry with the
    given E1 option dict; dual-outcome contract (both refuse or both agree
    value-for-value)."""
    holes, splice_plan = _splice_plan(steps, num_holes)
    ref_kw = {_REF_KW[k]: v for k, v in kw.items()}

    key = hashlib.md5(repr((steps, gap_pattern, sorted(kw.items()),
                            num_holes, staggers)).encode()).hexdigest()[:12]
    case_dir = os.path.join(OUT, key)
    ss_path, sp_path = _write_inputs(case_dir, holes, len(steps),
                                     gap_pattern, splice_plan,
                                     staggers=staggers)

    ref_aff = os.path.join(case_dir, "ref_aff.csv")
    ref_sit = os.path.join(case_dir, "ref_sit.csv")
    proc = subprocess.run(
        [sys.executable, "-c",
         _REF_SCRIPT.format(ref=REF, ss=ss_path, sp=sp_path, aff=ref_aff,
                            sit=ref_sit, kw=ref_kw)],
        cwd=case_dir, capture_output=True, text=True)
    if proc.returncode != 0 or not os.path.exists(ref_aff):
        # the reference bailed (e.g. interval inversion after gap math);
        # our engine must also refuse
        with pytest.raises(Exception):
            convert_sparse_splice(
                spark, ss_path, sp_path,
                os.path.join(case_dir, "our_aff.csv"),
                os.path.join(case_dir, "our_sit.csv"), **kw)
        return

    our_aff = os.path.join(case_dir, "our_aff.csv")
    our_sit = os.path.join(case_dir, "our_sit.csv")
    convert_sparse_splice(spark, ss_path, sp_path, our_aff, our_sit, **kw)

    for ref_path, our_path, sort_cols in (
        (ref_sit, our_sit, ["Site", "Hole", "Core", "Top Section", "Top Offset"]),
        (ref_aff, our_aff, ["Site", "Hole", "Core"]),
    ):
        r = pd.read_csv(ref_path).sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
        o = pd.read_csv(our_path)
        assert sorted(r.columns) == sorted(o.columns)
        o = o[r.columns.tolist()].sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
        assert len(r) == len(o), f"{ref_path}: {len(r)} vs {len(o)} rows"
        for col in r.columns:
            if pd.api.types.is_numeric_dtype(r[col]) and pd.api.types.is_numeric_dtype(o[col]):
                ok = np.isclose(r[col].astype(float), o[col].astype(float),
                                atol=1e-9, rtol=0, equal_nan=True)
            else:
                ok = (r[col].fillna("").astype(str).str.strip()
                      == o[col].fillna("").astype(str).str.strip())
            bad = np.where(~ok)[0]
            assert len(bad) == 0, (
                f"{os.path.basename(ref_path)} col {col!r}: ref="
                f"{r[col].iloc[bad[0]]!r} our={o[col].iloc[bad[0]]!r} "
                f"(case {key}, kw {kw}, row {bad[0]})")


@settings(max_examples=20, deadline=None)
@given(steps=splice_steps, gap_pattern=st.lists(st.booleans(), min_size=3, max_size=8))
def test_e1_differential(spark_fuzz, steps, gap_pattern):
    _run_differential_case(spark_fuzz, steps, gap_pattern, kw={})


@settings(max_examples=12, deadline=None)
@given(steps=splice_steps,
       gap_pattern=st.lists(st.booleans(), min_size=3, max_size=8),
       num_holes=st.sampled_from([2, 3]),
       stagger_b=st.sampled_from([0.0, 0.4]),
       stagger_c=st.sampled_from([0.0, 0.7]))
def test_e1_differential_staggered_holes(spark_fuzz, steps, gap_pattern,
                                         num_holes, stagger_b, stagger_c):
    """Staggered drilling across up to three holes: cross-hole core tops
    differ, so off-splice nearest-top selection has genuinely distinct
    candidates (the uniform-geometry fuzz only ever exercises ties)."""
    staggers = {"B": stagger_b, "C": stagger_c}
    _run_differential_case(spark_fuzz, steps, gap_pattern, kw={},
                           num_holes=num_holes, staggers=staggers)


DEPTH_COL = "Sediment Depth, unscaled (MBS / CSF-A)"

_REF_E2_SCRIPT = """
import sys, logging
sys.path.insert(0, {ref!r})
logging.basicConfig(level=logging.CRITICAL)
import feldman
feldman.exportMeasurementData({aff!r}, {sit!r}, {md!r}, {out!r},
                              depthColumn={depth!r})
"""


def _write_measurement(case_dir, holes, cores_per_hole, extra_depths):
    """Synthetic measurement rows on a 0.35 m grid plus the exact splice
    boundary depths (the inclusive/exclusive edge cases), identity
    columns consistent with the generated section geometry."""
    path = os.path.join(case_dir, "md.csv")
    max_depth = cores_per_hole * SECTIONS * SECTION_LEN
    grid = [round(i * 0.35, 4) for i in range(int(max_depth / 0.35) + 1)]
    depths = sorted(set(grid) | {d for d in extra_depths if 0 <= d < max_depth})
    with open(path, "w") as f:
        f.write('Site,Hole,Core,CoreType,Section,"%s",Value\n' % DEPTH_COL)
        for h in holes:
            for d in depths:
                c = int(d // (SECTIONS * SECTION_LEN)) + 1
                s = int((d - (c - 1) * SECTIONS * SECTION_LEN) // SECTION_LEN) + 1
                if c > cores_per_hole or s > SECTIONS:
                    continue
                f.write(f"1,{h},{c},H,{s},{d},{round(d * 3.7 + ord(h), 3)}\n")
    return path


@st.composite
def valid_splice_steps(draw):
    """Interval chains the reference accepts by construction: top
    strictly before bottom within each core, and cores ascend, so the
    depth chain is monotone. Offsets still roam the whole section."""
    n = draw(st.integers(2, 6))
    steps = []
    for _ in range(n):
        hidx = draw(st.integers(0, 1))
        sptype = draw(st.sampled_from(["TIE", "APPEND"]))
        ts = draw(st.integers(1, 3))
        bs = draw(st.integers(ts, 3))
        toff = draw(st.floats(5.0, 135.0))
        boff = (draw(st.floats(toff + 2.0, 145.0)) if bs == ts
                else draw(st.floats(5.0, 145.0)))
        steps.append((hidx, sptype, ts, bs, round(toff, 3), round(boff, 3),
                      draw(st.booleans())))
    return steps


_e2_compared = []  # non-vacuity guard: counts examples that reached export


@settings(max_examples=10, deadline=None)
@given(steps=valid_splice_steps(),
       gap_pattern=st.lists(st.booleans(), min_size=3, max_size=8))
def test_e2_differential(spark_fuzz, steps, gap_pattern):
    """Full-pipeline differential: E1 on a generated geometry, then the
    measurement export (classification, interval gather, affine shifts,
    off-splice handling) against the reference on synthetic measurement
    rows that include exact interval-boundary depths."""
    spark = spark_fuzz
    holes, splice_plan = _splice_plan(steps)
    key = hashlib.md5(repr(("e2", steps, gap_pattern)).encode()).hexdigest()[:12]
    case_dir = os.path.join(OUT, key)
    ss_path, sp_path = _write_inputs(case_dir, holes, len(steps),
                                     gap_pattern, splice_plan)

    ref_aff = os.path.join(case_dir, "ref_aff.csv")
    ref_sit = os.path.join(case_dir, "ref_sit.csv")
    proc = subprocess.run(
        [sys.executable, "-c",
         _REF_SCRIPT.format(ref=REF, ss=ss_path, sp=sp_path, aff=ref_aff,
                            sit=ref_sit, kw={})],
        cwd=case_dir, capture_output=True, text=True)
    if proc.returncode != 0 or not os.path.exists(ref_aff):
        return  # E1 refusal paths are covered by test_e1_differential

    # boundary depths: every interval top/bottom offset mapped to depth
    sit = pd.read_csv(ref_sit)
    extra = sorted(set(
        round(float(v), 4)
        for col in ("Top Depth CSF-A", "Bottom Depth CSF-A")
        for v in sit[col].tolist()))
    md_path = _write_measurement(case_dir, holes, len(steps), extra)

    ref_out = os.path.join(case_dir, "ref_export.csv")
    proc = subprocess.run(
        [sys.executable, "-c",
         _REF_E2_SCRIPT.format(ref=REF, aff=ref_aff, sit=ref_sit, md=md_path,
                               out=ref_out, depth=DEPTH_COL)],
        cwd=case_dir, capture_output=True, text=True)
    if proc.returncode != 0 or not os.path.exists(ref_out):
        from feldman_spark.engine import export_measurement_data
        with pytest.raises(Exception):
            export_measurement_data(
                spark, ref_aff, ref_sit, md_path,
                os.path.join(case_dir, "our_export.csv"), depth_column=DEPTH_COL)
        return

    from feldman_spark.engine import export_measurement_data
    our_out = os.path.join(case_dir, "our_export.csv")
    export_measurement_data(spark, ref_aff, ref_sit, md_path, our_out,
                            depth_column=DEPTH_COL)

    _e2_compared.append(key)
    r = pd.read_csv(ref_out, low_memory=False)
    o = pd.read_csv(our_out, low_memory=False)
    assert sorted(r.columns) == sorted(o.columns)
    sort_cols = ["Hole", "Core", "Section", DEPTH_COL, "On-Splice"]
    r = r.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
    o = o[r.columns.tolist()].sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
    assert len(r) == len(o), f"{len(r)} vs {len(o)} rows (case {key})"
    for col in r.columns:
        if pd.api.types.is_numeric_dtype(r[col]) and pd.api.types.is_numeric_dtype(o[col]):
            ok = np.isclose(r[col].astype(float), o[col].astype(float),
                            atol=1e-7, rtol=0, equal_nan=True)
        else:
            ok = (r[col].fillna("").astype(str).str.strip()
                  == o[col].fillna("").astype(str).str.strip())
        bad = np.where(~ok)[0]
        assert len(bad) == 0, (
            f"export col {col!r}: ref={r[col].iloc[bad[0]]!r} "
            f"our={o[col].iloc[bad[0]]!r} (case {key}, row {bad[0]})")


@settings(max_examples=16, deadline=None)
@given(steps=splice_steps,
       gap_pattern=st.lists(st.booleans(), min_size=3, max_size=8),
       use_scaled=st.booleans(),
       lazy=st.booleans(),
       startdepth=st.sampled_from([None, 0.0, 2.5, 7.5]))
def test_e1_differential_option_matrix(spark_fuzz, steps, gap_pattern,
                                       use_scaled, lazy, startdepth):
    """The full scalar-option surface (use_scaled_depths × lazy_append ×
    sparse_splice_depth) under the same generated geometries — fixture
    combos are in test_option_parity; this covers them against arbitrary
    interval chains."""
    require_reference()
    kw = {}
    if use_scaled:
        kw["use_scaled_depths"] = True
    if lazy:
        kw["lazy_append"] = True
    if startdepth is not None:
        kw["sparse_splice_depth"] = startdepth
    _run_differential_case(spark_fuzz, steps, gap_pattern, kw)


def test_e2_differential_not_vacuous():
    """Runs after the fuzz above (file order): most generated geometries
    must have reached the export comparison, else the E2 fuzz is
    silently testing nothing."""
    require_reference()
    assert len(_e2_compared) >= 5, _e2_compared
