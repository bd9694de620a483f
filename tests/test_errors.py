"""Error-handling parity: the reference bails on invalid splices
(feldman.py:189-192, 223-225); our engine must raise with a matching
diagnosis rather than produce garbage."""

import pytest
from pyspark.sql import functions as F

from feldman_spark.engine import _validate_sections, convert_sparse_splice_frames
from feldman_spark.io.csv import FormatError


def _secsumm(spark):
    rows = []
    for c in (1, 2):
        for s in (1, 2, 3):
            top = (c - 1) * 4.5 + (s - 1) * 1.5
            rows.append(("1", "A", str(c), "H", str(s),
                         top, top + 1.5, top * 1.01, (top + 1.5) * 1.01, 1.5, ""))
    return spark.createDataFrame(rows, (
        "Site string, Hole string, Core string, Tool string, Section string, "
        "TopDepth double, BottomDepth double, TopDepthScaled double, "
        "BottomDepthScaled double, CuratedLength double, Gaps string")) \
        .coalesce(1).withColumn("_idx", F.monotonically_increasing_id())


def _sparse(spark, rows):
    return spark.createDataFrame(rows, (
        "Site string, Hole string, Core string, Tool string, TopSection string, "
        "TopOffset double, BottomSection string, BottomOffset double, "
        "SpliceType string, Gap double, DataUsed string, Comment string, _idx long"))


def test_inverted_interval_raises(spark):
    # top below bottom -> reference logs error and bails (feldman.py:189-192)
    sp = _sparse(spark, [
        ("1", "A", "1", "H", "3", 100.0, "1", 10.0, "TIE", None, "", "", 0),
    ])
    with pytest.raises(Exception, match="inverted or zero-length"):
        aff, sit = convert_sparse_splice_frames(_secsumm(spark), sp)
        sit.collect()


def test_unknown_splice_type_raises(spark):
    sp = _sparse(spark, [
        ("1", "A", "1", "H", "1", 10.0, "2", 100.0, "SPLICE???", None, "", "", 0),
        ("1", "A", "2", "H", "1", 10.0, "2", 100.0, "TIE", None, "", "", 1),
    ])
    with pytest.raises(Exception, match="unknown splice type"):
        aff, sit = convert_sparse_splice_frames(_secsumm(spark), sp)
        sit.collect()


def test_missing_section_lookup_raises(spark):
    # splice references a section absent from the summary
    sp = _sparse(spark, [
        ("1", "A", "1", "H", "1", 10.0, "9", 100.0, "TIE", None, "", "", 0),
    ])
    with pytest.raises(Exception, match="lookup failed"):
        aff, sit = convert_sparse_splice_frames(_secsumm(spark), sp)
        sit.collect()


def test_non_integer_section_validation(spark):
    # F7 validation fires before the scan (feldman.py:107-112)
    sp = _sparse(spark, [
        ("1", "A", "1", "H", "1x", 10.0, "2", 100.0, "TIE", None, "", "", 0),
    ])
    with pytest.raises(FormatError, match="non-integer"):
        convert_sparse_splice_frames(_secsumm(spark), sp)


def _valid_sparse(spark, top="1", bottom="2"):
    return _sparse(spark, [
        ("1", "A", "1", "H", top, 10.0, bottom, 100.0, "TIE", None, "", "", 0),
    ])


def _secsumm_sections(spark, section):
    # _secsumm with core 1's third section renamed
    return _secsumm(spark).withColumn(
        "Section",
        F.when((F.col("Core") == "1") & (F.col("Section") == "3"), F.lit(section))
        .otherwise(F.col("Section")))


@pytest.mark.parametrize("top,bottom,section,message", [
    ("1", "2x", "3", "BottomSection column in Sparse Splice"),
    ("1", "2", "3.0", "Section column in Section Summary"),
    # the reference's order picks the error when several columns fail
    ("1x", "2x", "x", "TopSection column in Sparse Splice"),
    ("1", "2.5", "x", "BottomSection column in Sparse Splice"),
])
def test_non_integer_section_names_the_column(spark, top, bottom, section, message):
    with pytest.raises(FormatError, match=message + " contains one or more non-integer"):
        convert_sparse_splice_frames(
            _secsumm_sections(spark, section), _valid_sparse(spark, top, bottom))


def test_section_validation_is_one_job(spark, count_jobs):
    # CC and negative integers are valid sections (feldman.py:78-89)
    secsumm = _secsumm_sections(spark, "CC")
    sparse = _valid_sparse(spark, top="-1", bottom="CC")
    _, jobs = count_jobs(lambda: _validate_sections(secsumm, sparse))
    assert jobs == 1
