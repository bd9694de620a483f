"""Public API mirroring the reference's two entry points
(``feldman.convertSparseSplice``, ``feldman.exportMeasurementData`` —
``feldman.py:96-142,298-382``) as pure DataFrame→DataFrame pipelines plus
thin path-based wrappers.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .export import SpliceExport, splice_export
from .formats.registry import (
    AFFINE_FORMAT,
    MANUAL_CORRELATION_FORMAT,
    MANUAL_OFFSET_FORMAT,
    MEASUREMENT_FORMAT,
    SECTION_SUMMARY_FORMAT,
    SIT_FORMAT,
    SPARSE_SPLICE_FORMAT,
)
from .io.csv import FormatError, can_create_with_file, read_tabular, write_csv
from .ops.filters import valid_section_column
from .ops.sizing import persist_scoped
from .splice import (
    IDX,
    core_top_lookup,
    fill_affine,
    off_splice_affines,
    on_splice_affines,
    section_lookup,
    sit_from_scan,
    splice_scan,
    with_offset_depths,
)

__all__ = [
    "load_section_summary",
    "load_sparse_splice",
    "load_affine",
    "load_sit",
    "load_measurement",
    "load_manual_correlation",
    "convert_sparse_splice_frames",
    "convert_sparse_splice",
    "export_measurement_frames",
    "export_measurement_data",
]


def _with_order(df: DataFrame) -> DataFrame:
    # Stable input-order index for the tiny ordered tables (splice order is
    # semantic: the reference iterates file order, feldman.py:170).
    return df.coalesce(1).withColumn(IDX, F.monotonically_increasing_id())


def load_section_summary(spark: SparkSession, path: str) -> DataFrame:
    return _with_order(read_tabular(spark, path, SECTION_SUMMARY_FORMAT))


def load_sparse_splice(spark: SparkSession, path: str) -> DataFrame:
    return _with_order(read_tabular(spark, path, SPARSE_SPLICE_FORMAT))


def load_affine(spark: SparkSession, path: str) -> DataFrame:
    return read_tabular(spark, path, AFFINE_FORMAT)


def load_sit(spark: SparkSession, path: str) -> DataFrame:
    return _with_order(read_tabular(spark, path, SIT_FORMAT))


def load_measurement(spark: SparkSession, path: str, depth_column: str) -> DataFrame:
    """Measurement data: section identity columns canonicalized, all other
    columns untouched (``doc/manual.markdown:200-201``), user-chosen depth
    column cast to double. The big table: stays fully distributed."""
    df = read_tabular(spark, path, MEASUREMENT_FORMAT)
    return df.withColumn(depth_column, F.col(f"`{depth_column}`").cast("double"))


def load_manual_correlation(
    spark: SparkSession, path: str,
) -> Tuple[Optional[DataFrame], Optional[DataFrame]]:
    """S4 format sniff (``coring/manualCorrelation.py:39-45``): returns
    (correlation_ties, manual_offsets), at most one non-None."""
    if can_create_with_file(path, MANUAL_CORRELATION_FORMAT):
        return read_tabular(spark, path, MANUAL_CORRELATION_FORMAT), None
    if can_create_with_file(path, MANUAL_OFFSET_FORMAT):
        return None, read_tabular(spark, path, MANUAL_OFFSET_FORMAT)
    return None, None


def _validate_sections(secsumm: DataFrame, sparse: DataFrame) -> None:
    # F7 (feldman.py:107-112)
    for col in ("TopSection", "BottomSection"):
        if not valid_section_column(sparse, col):
            raise FormatError(
                "{} column in Sparse Splice contains one or more "
                "non-integer values.".format(col))
    if not valid_section_column(secsumm, "Section"):
        raise FormatError(
            "Section column in Section Summary contains one or more "
            "non-integer values.")


def convert_sparse_splice_frames(
    secsumm: DataFrame,
    sparse: DataFrame,
    use_scaled_depths: bool = False,
    lazy_append: bool = False,
    splice_start_depth: Optional[float] = None,
    manual_correlation: Optional[DataFrame] = None,
    manual_offsets: Optional[DataFrame] = None,
    validate: bool = True,
) -> Tuple[DataFrame, DataFrame]:
    """E1 as a pure DataFrame pipeline: returns ``(affine, sit)``.

    Inputs must carry the loaders' ``_idx`` order column. The SIT the
    off-splice stage sees has its depth columns rounded to 3 places —
    matching the reference, which reloads its own rounded CSV output
    (``feldman.py:117``) without the reload.
    """
    if validate:
        _validate_sections(secsumm, sparse)

    lookup = section_lookup(secsumm)
    enriched = with_offset_depths(sparse, lookup)
    scanned = persist_scoped(splice_scan(
        enriched,
        use_scaled_depths=use_scaled_depths,
        lazy_append=lazy_append,
        splice_start_depth=splice_start_depth,
    ))

    sit = sit_from_scan(scanned, [c for c in sparse.columns]) \
        .withColumn(IDX, F.monotonically_increasing_id())

    sit_rounded = sit.withColumns({
        c: F.bround(F.col(c), 3)
        for c in ("TopDepthCSF", "TopDepthCCSF", "BottomDepthCSF", "BottomDepthCCSF")
    })

    on_aff = on_splice_affines(scanned, core_top_lookup(secsumm))
    off_aff = off_splice_affines(
        sit_rounded, secsumm,
        manual_correlation=manual_correlation,
        manual_offsets=manual_offsets,
    )
    # affine is tiny by contract (one row per core) but its lineage — the
    # off-splice crossJoin/window chain — is ~30 stages; cache it so every
    # downstream action (counts, broadcast into E2, CSV write) runs the
    # chain once instead of per-action
    affine = persist_scoped(
        fill_affine(on_aff.drop(IDX).unionByName(off_aff.drop(IDX))))
    return affine, sit.drop(IDX)


def convert_sparse_splice(
    spark: SparkSession,
    secsumm_path: str,
    sparse_path: str,
    affine_out_path: str,
    sit_out_path: str,
    use_scaled_depths: bool = False,
    lazy_append: bool = False,
    sparse_splice_depth: Optional[float] = None,
    manual_correlation_path: Optional[str] = None,
) -> Tuple[DataFrame, DataFrame]:
    """Path-level E1, mirroring ``feldman.convertSparseSplice``
    (``feldman.py:96-142``). Writes rounded, vocabulary-renamed CSVs."""
    from .progress import report_progress

    report_progress(0, "Loading section summary and sparse splice...")
    secsumm = load_section_summary(spark, secsumm_path)
    sparse = load_sparse_splice(spark, sparse_path)

    mancorr = manoff = None
    if manual_correlation_path:
        mancorr, manoff = load_manual_correlation(spark, manual_correlation_path)
        if mancorr is None and manoff is None:
            raise FormatError(
                "The manual correlation file {} could not be loaded.".format(
                    manual_correlation_path))

    report_progress(25, "Processing sparse splice intervals...")
    affine, sit = convert_sparse_splice_frames(
        secsumm, sparse,
        use_scaled_depths=use_scaled_depths,
        lazy_append=lazy_append,
        splice_start_depth=sparse_splice_depth,
        manual_correlation=mancorr,
        manual_offsets=manoff,
    )
    # same terminal milestone as the reference (feldman.py:134)
    report_progress(100, "Writing affine and SIT to file...")
    write_csv(sit, sit_out_path, fmt=SIT_FORMAT)
    write_csv(affine, affine_out_path, fmt=AFFINE_FORMAT)
    return affine, sit


def export_measurement_frames(
    md: DataFrame,
    affine: DataFrame,
    sit: DataFrame,
    depth_column: str,
    include_off_splice: bool = True,
    whole_splice_section: bool = False,
) -> SpliceExport:
    """E2 as a pure DataFrame pipeline (see :mod:`feldman_spark.export`)."""
    return splice_export(
        md, affine, sit, depth_column,
        include_off_splice=include_off_splice,
        whole_splice_section=whole_splice_section,
    )


def export_measurement_data(
    spark: SparkSession,
    affine_path: str,
    sit_path: str,
    md_path: str,
    export_path: str,
    depth_column: str,
    include_off_splice: bool = True,
    whole_splice_section: bool = False,
) -> SpliceExport:
    """Path-level E2, mirroring ``feldman.exportMeasurementData``
    (``feldman.py:298-382``), including the ``<input>-unwritten.csv`` side
    output (S7, ``feldman.py:370-376``)."""
    from .progress import report_progress

    # same opening milestone as the reference (feldman.py:307)
    report_progress(0, "Splicing {}...".format(os.path.basename(md_path)))
    affine = load_affine(spark, affine_path)
    sit = load_sit(spark, sit_path)
    md = load_measurement(spark, md_path, depth_column)

    result = export_measurement_frames(
        md, affine, sit, depth_column,
        include_off_splice=include_off_splice,
        whole_splice_section=whole_splice_section,
    )
    report_progress(50, "Gathering on- and off-splice rows...")
    write_csv(result.spliced, export_path, fmt=MEASUREMENT_FORMAT)
    report_progress(100, "Export written to {}".format(os.path.basename(export_path)))
    if result.unwritten is not None:
        unwritten_path = os.path.splitext(md_path)[0] + "-unwritten.csv"
        if not os.access(os.path.dirname(unwritten_path) or ".", os.W_OK):
            unwritten_path = os.path.splitext(export_path)[0] + "-unwritten.csv"
        # write unconditionally, drop a header-only file afterwards: an
        # emptiness probe (limit(1).count()) would itself run the whole
        # measurement pipeline, tripling the passes over the big table
        write_csv(result.unwritten, unwritten_path, fmt=MEASUREMENT_FORMAT)
        with open(unwritten_path, "rb") as fh:
            fh.readline()
            empty = fh.readline() == b""
        if empty:
            os.remove(unwritten_path)
    return result


def append_date(text: str) -> str:
    """Suffix a name with today's ISO date (``feldman.py:546-547``) —
    the reference's output-file naming convention."""
    from datetime import date

    return "{}_{}".format(text, date.today().isoformat())


def convert_gap_columns_csv(
    spark: SparkSession, ss_path: str, out_path: str, max_gap_cols: int,
) -> DataFrame:
    """P11 path-level: LacCore-DB wide gap columns (``Gap 1 T``/``Gap 1 B``
    …) merged into a single ``Gaps`` string column, appended at the end
    (``coring/sectionSummary.py:190-203`` ``convertSSGapColumnsToSingle``)."""
    from .io.csv import read_csv, write_csv
    from .ops.gaps import merge_gap_columns

    df = read_csv(spark, ss_path)
    gap_cols = {f"Gap {i} {tb}" for i in range(1, max_gap_cols + 1) for tb in "TB"}
    casted = df.withColumns({
        c: F.col(f"`{c}`").cast("double") for c in df.columns if c in gap_cols})
    out = merge_gap_columns(casted, max_gap_cols)
    write_csv(out, out_path)
    return out
