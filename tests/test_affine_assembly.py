"""E1 affine assembly on tiny in-session tables: the off-splice branches
(manual correlation TIE, manual SET offset, nearest-top default, J7) and
the job count of building the E1 frames. Values are computed by hand from
the fixtures below (``feldman.py:404-497``)."""

import pytest
from pyspark.sql import functions as F

from feldman_spark.engine import convert_sparse_splice_frames

# Holes A and B, cores 1-3, sections 1-3 of 1.5 m; hole B sits 0.3 m
# deeper than hole A. Section tops: A = 4.5(c-1) + 1.5(s-1), B = A + 0.3.
HOLE_SHIFT = {"A": 0.0, "B": 0.3}


def _secsumm(spark, null_top=()):
    rows = []
    for hole, shift in HOLE_SHIFT.items():
        for c in (1, 2, 3):
            for s in (1, 2, 3):
                top = shift + (c - 1) * 4.5 + (s - 1) * 1.5
                first = None if (hole, c, s) in null_top else top
                rows.append(("1", hole, str(c), "H", str(s), first, top + 1.5,
                             top * 1.01, (top + 1.5) * 1.01, 1.5, ""))
    return spark.createDataFrame(rows, (
        "Site string, Hole string, Core string, Tool string, Section string, "
        "TopDepth double, BottomDepth double, TopDepthScaled double, "
        "BottomDepthScaled double, CuratedLength double, Gaps string")) \
        .coalesce(1).withColumn("_idx", F.monotonically_increasing_id())


def _sparse(spark, a2_top_section="1"):
    """Hole A spliced by TIEs: A1 1/0 → 2/100, A2 <top>/20 → 3/100, A3 1/10 → 3/50."""
    rows = [
        ("1", "A", "1", "H", "1", 0.0, "2", 100.0, "TIE", None, "", "", 0),
        ("1", "A", "2", "H", a2_top_section, 20.0, "3", 100.0, "TIE", None, "", "", 1),
        ("1", "A", "3", "H", "1", 10.0, "3", 50.0, "TIE", None, "", "", 2),
    ]
    return spark.createDataFrame(rows, (
        "Site string, Hole string, Core string, Tool string, TopSection string, "
        "TopOffset double, BottomSection string, BottomOffset double, "
        "SpliceType string, Gap double, DataUsed string, Comment string, _idx long"))


def _manual_correlation(spark, rows):
    return spark.createDataFrame(rows, (
        "Site1 string, Hole1 string, Core1 string, Tool1 string, Section1 string, "
        "SectionDepth1 double, Site2 string, Hole2 string, Core2 string, "
        "Tool2 string, Section2 string, SectionDepth2 double")).coalesce(1)


def _affine(spark, **kwargs):
    secsumm_kw = {k: kwargs.pop(k) for k in ("null_top",) if k in kwargs}
    sparse_kw = {k: kwargs.pop(k) for k in ("a2_top_section",) if k in kwargs}
    affine, _ = convert_sparse_splice_frames(
        _secsumm(spark, **secsumm_kw), _sparse(spark, **sparse_kw), **kwargs)
    return {r["Hole"] + r["Core"]: r.asDict() for r in affine.collect()}


def _assert_row(row, **expected):
    for k, v in expected.items():
        assert row[k] == (pytest.approx(v) if isinstance(v, float) else v), k


# Splice offsets: A1 0; A2 2.5 - 4.7 = -2.2; A3 (8.5 - 2.2) - 9.1 = -2.8.
# Nearest section-1 top: B1 (0.3) → A1, B2 (4.8) → A2, B3 (9.3) → A3.

def test_default_offsets_take_the_nearest_on_splice_core(spark):
    aff = _affine(spark)
    for core, offset in (("A1", 0.0), ("A2", -2.2), ("A3", -2.8)):
        _assert_row(aff[core], Offset=offset, Comment="splice")
    for core, offset, top in (("B1", 0.0, 0.3), ("B2", -2.2, 4.8), ("B3", -2.8, 9.3)):
        _assert_row(aff[core], Offset=offset, ShiftType="REL", FixedCore="",
                    FixedTieCSF=None, ShiftedTieCSF=None, DepthCSF=top,
                    DepthCCSF=top + offset, Comment="off-splice")


def test_manual_correlation_ties(spark):
    mc = _manual_correlation(spark, [
        # B2 section 2 at 50 cm (6.8 m) ties to A2 section 3 at 30 cm (7.8 m)
        ("1", "B", "2", "H", "2", 50.0, "1", "A", "2", "H", "3", 30.0),
        # a later tie for the same core is ignored: the first one wins
        ("1", "B", "2", "H", "1", 10.0, "1", "A", "1", "H", "1", 10.0),
        # B1 is not in the SIT, so a tie to it is ignored
        ("1", "B", "3", "H", "1", 0.0, "1", "B", "1", "H", "1", 0.0),
    ])
    aff = _affine(spark, manual_correlation=mc)
    # 7.8 + (-2.2) - 6.8
    _assert_row(aff["B2"], Offset=-1.2, ShiftType="TIE", FixedCore="A2",
                FixedTieCSF=7.8, ShiftedTieCSF=6.8, DepthCSF=4.8, DepthCCSF=3.6)
    _assert_row(aff["B3"], Offset=-2.8, ShiftType="REL", FixedCore="",
                FixedTieCSF=None)
    _assert_row(aff["B1"], Offset=0.0, ShiftType="REL")


def test_manual_offsets_set_the_core_shift(spark):
    mo = spark.createDataFrame([("1", "B", "1", 0.75)],
                               "Site string, Hole string, Core string, Offset double")
    aff = _affine(spark, manual_offsets=mo)
    _assert_row(aff["B1"], Offset=0.75, ShiftType="SET", FixedCore="",
                FixedTieCSF=None, DepthCSF=0.3, DepthCCSF=1.05)
    _assert_row(aff["B2"], Offset=-2.2, ShiftType="REL")


def test_nearest_search_skips_a_core_without_a_top(spark):
    # A2's splice starts at section 2 and its section-1 top is missing:
    # it must not win the nearest-top search. A2 = 2.5 - 6.2 = -3.7,
    # A3 = (8.5 - 3.7) - 9.1 = -4.3; B2 (4.8) and B3 (9.3) → A3.
    aff = _affine(spark, null_top={("A", 2, 1)}, a2_top_section="2")
    _assert_row(aff["A2"], Offset=-3.7, DepthCSF=None)
    for core, offset in (("B1", 0.0), ("B2", -4.3), ("B3", -4.3)):
        _assert_row(aff[core], Offset=offset, ShiftType="REL")


def test_building_e1_runs_only_the_section_validation(spark, count_jobs):
    secsumm, sparse = _secsumm(spark), _sparse(spark)
    mc = _manual_correlation(spark, [
        ("1", "B", "2", "H", "2", 50.0, "1", "A", "2", "H", "3", 30.0)])
    _, jobs = count_jobs(lambda: convert_sparse_splice_frames(
        secsumm, sparse, manual_correlation=mc))
    assert jobs == 1
