"""CSV sources/sinks and format application (SURVEY §2.1 S1-S7, §2.2 P1-P9).

Re-expresses the reference's IO layer (``tabular/pandasutils.py:19-49``,
``tabular/csvio.py:19-83``) on Spark:

* encoding fallback: UTF-8(-sig) first, Latin-1 on undecodable bytes
  (``tabular/pandasutils.py:19-36``);
* ``'?' '??' '???'`` cells parse as null in every column
  (``tabular/csvio.py:21``);
* schema is **matched, not inferred** — every column is read as string and
  then cast per the format's declared datatype (``tabular/csvio.py:19-46``);
* required columns missing → :class:`FormatError`; optional columns missing
  → appended with defaults (``tabular/csvio.py:29-39``);
* compound ``SiteHole`` columns split on read, dropped on write
  (``tabular/csvio.py:55-74``);
* string columns are null-free: null → ``""``
  (``tabular/pandasutils.py:102-108``).

At 100 TB, measurement data lives in parquet, not CSV; these readers are the
compatibility edge. They are still fully distributed scans — only the header
probe and encoding sniff touch the driver.
"""

from __future__ import annotations

import codecs
import csv as _csv
import io as _io
import os
from typing import Dict, List, Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..formats.columns import (
    TabularFormat,
    find_match,
    las,
    map_columns,
    split_caps,
)
from ..formats.registry import pretty_rename_map

__all__ = [
    "FormatError",
    "read_csv",
    "read_headers",
    "can_create_with_file",
    "apply_format",
    "read_tabular",
    "split_site_hole",
    "write_csv",
    "read_correlator_funky",
]

NA_SENTINELS = ["?", "??", "???"]


class FormatError(Exception):
    """Input does not satisfy a tabular format (``tabular/csvio.py:15``)."""


def _decode_probe(path: str, encoding: str, probe_bytes: int = 1 << 20) -> str:
    """The first ``probe_bytes`` of ``path``, decoded. Incremental, so a
    multi-byte character cut by the probe boundary is held back instead
    of failing the decode; a file shorter than the probe must decode whole."""
    with open(path, "rb") as f:
        data = f.read(probe_bytes)
    decoder = codecs.getincrementaldecoder(encoding)()
    return decoder.decode(data, final=len(data) < probe_bytes)


def _sniff_encoding(path: str, probe_bytes: int = 1 << 20) -> str:
    """UTF-8 first, Latin-1 fallback — mirrors the reference's two-attempt
    read (``tabular/pandasutils.py:19-36``). Driver-side peek of the first
    ~1 MB only; Latin-1 decodes any byte sequence, so it is a safe retry."""
    try:
        _decode_probe(path, "utf-8", probe_bytes)
        return "UTF-8"
    except (UnicodeDecodeError, OSError):
        return "ISO-8859-1"


def read_headers(path: str) -> List[str]:
    """Header-only probe without a full scan (``tabular/pandasutils.py:41-46``).
    An empty file has no headers."""
    enc = _sniff_encoding(path)
    raw = _decode_probe(path, "utf-8-sig" if enc == "UTF-8" else "latin-1")
    # universal newlines: files in the wild use \n, \r\n, or bare \r
    first = raw.splitlines()[0] if raw else ""
    reader = _csv.reader(_io.StringIO(first), skipinitialspace=True)
    return [h.strip() for h in next(reader, [])]


def read_csv(spark: SparkSession, path: str, sep: str = ",") -> DataFrame:
    """S1: distributed CSV scan, all columns as strings, blank lines
    skipped, BOM tolerated, ``?``-family → null."""
    enc = _sniff_encoding(path)
    df = (
        spark.read.option("header", True)
        .option("encoding", enc)
        .option("sep", sep)
        .option("ignoreLeadingWhiteSpace", True)
        .option("ignoreTrailingWhiteSpace", True)
        .option("inferSchema", False)
        .csv(path)
    )
    # Strip any BOM remnant from the first header.
    cols = df.columns
    if cols and cols[0].startswith("﻿"):
        df = df.withColumnRenamed(cols[0], cols[0].lstrip("﻿"))
    # '?' '??' '???' parse as null in every column (tabular/csvio.py:21).
    df = df.select([
        F.when(F.col(f"`{c}`").isin(NA_SENTINELS), F.lit(None)).otherwise(F.col(f"`{c}`")).alias(c)
        for c in df.columns
    ])
    # Drop fully-blank rows (pandas skip_blank_lines).
    non_null = None
    for c in df.columns:
        cond = F.col(f"`{c}`").isNotNull() & (F.col(f"`{c}`") != "")
        non_null = cond if non_null is None else (non_null | cond)
    if non_null is not None:
        df = df.filter(non_null)
    return df


def split_site_hole(df: DataFrame) -> DataFrame:
    """P6: split a compound ``SiteHole`` column ('1A') into Site ('1') and
    Hole ('A') via ``regexp_extract`` (``tabular/csvio.py:55-67``). No-op if
    Site and Hole already exist."""
    sh = find_match("SiteHole", df.columns)
    if sh is None or "Site" in df.columns or "Hole" in df.columns:
        return df
    parts = split_caps(sh)  # ["Site", "Hole"]
    return df.withColumns({
        parts[0]: F.regexp_extract(F.col(f"`{sh}`"), r"([0-9]+)([A-Z]+)", 1),
        parts[1]: F.regexp_extract(F.col(f"`{sh}`"), r"([0-9]+)([A-Z]+)", 2),
    })


def _string_col(name: str) -> Column:
    # STRING columns are null-free: null → "" (tabular/pandasutils.py:102-108).
    return F.coalesce(F.col(f"`{name}`").cast("string"), F.lit(""))


def apply_format(df: DataFrame, fmt: TabularFormat) -> DataFrame:
    """P1+P2: normalize-and-match headers against the format's synonym
    metadata, fail on missing required columns, default-fill missing
    optional ones, rename to canonical names, and cast to the declared
    types (``tabular/csvio.py:19-46``).

    Column order contract: input order is preserved (matched columns are
    renamed in place, extras pass through untouched), missing optional
    columns are appended at the end — exactly the reference's behavior.
    """
    df = split_site_hole(df)
    colmap = map_columns(fmt.cols, df.columns)  # canonical -> input header

    missing_req = [c.name for c in fmt.cols if not c.optional and c.name not in colmap]
    if missing_req:
        raise FormatError(
            "The {} format requires the following column(s): {}".format(
                fmt.name, ",".join(missing_req)))

    inverse = {v: k for k, v in colmap.items()}  # input header -> canonical
    by_name = {c.name: c for c in fmt.cols}

    exprs: List[Column] = []
    for raw in df.columns:
        if raw in inverse:
            cid = by_name[inverse[raw]]
            if cid.is_numeric():
                exprs.append(F.col(f"`{raw}`").cast("double").alias(cid.name))
            else:
                exprs.append(_string_col(raw).alias(cid.name))
        else:
            exprs.append(F.col(f"`{raw}`"))  # passthrough untouched
    for cid in fmt.cols:
        if cid.optional and cid.name not in colmap:
            default = F.lit("") if cid.is_string() else F.lit(None).cast("double")
            exprs.append(default.alias(cid.name))
    return df.select(exprs)


def read_tabular(spark: SparkSession, path: str, fmt: TabularFormat) -> DataFrame:
    """S1+P2 composed: the reference's ``createWithCSV``
    (``tabular/csvio.py:19-46``)."""
    return apply_format(read_csv(spark, path), fmt)


def can_create_with_file(path: str, fmt: TabularFormat) -> bool:
    """S4: format sniff via header probe (``tabular/csvio.py:78-83``)."""
    try:
        headers = read_headers(path)
    except OSError:
        return False
    # account for SiteHole compound satisfying Site+Hole
    if find_match("SiteHole", headers) is not None:
        headers = headers + ["Site", "Hole"]
    colmap = map_columns(fmt.cols, headers)
    return not [c for c in fmt.cols if not c.optional and c.name not in colmap]


def _drop_site_hole(df: DataFrame) -> DataFrame:
    """Inverse of :func:`split_site_hole` on write (``tabular/csvio.py:70-74``)."""
    sh = find_match("SiteHole", df.columns)
    if sh is not None and "Site" in df.columns and "Hole" in df.columns:
        return df.drop("Site", "Hole")
    return df


def write_csv(
    df: DataFrame,
    path: str,
    fmt: Optional[TabularFormat] = None,
    org: str = "IODP",
    round_digits: Optional[int] = 3,
) -> None:
    """S6: CSV sink. Applies the export conventions of ``feldman.py:533-544``:
    numeric format columns rounded to 3 places (P8), canonical names renamed
    to the organization vocabulary (P3), helper Site/Hole dropped when a
    compound SiteHole column is present. Coalesces to one partition and
    moves the part file to ``path``, so the output is one real CSV file.
    """
    df = _drop_site_hole(df)
    if fmt is not None:
        if round_digits is not None:
            num_cols = [c.name for c in fmt.cols if c.is_numeric() and c.name in df.columns]
            # pandas .round() is HALF_EVEN (feldman.py:538-544) -> bround
            df = df.withColumns({c: F.bround(F.col(f"`{c}`"), round_digits) for c in num_cols})
        df = df.withColumnsRenamed(pretty_rename_map(fmt, df.columns, org))
    import glob
    import shutil

    tmpdir = path + ".spark-tmp"
    df.coalesce(1).write.option("header", True).mode("overwrite").csv(tmpdir)
    part = glob.glob(os.path.join(tmpdir, "part-*.csv"))[0]
    shutil.move(part, path)
    shutil.rmtree(tmpdir, ignore_errors=True)


def read_correlator_funky(spark: SparkSession, path: str) -> DataFrame:
    """S5: Correlator's ``" \\t"``-delimited, ``#``-commented fixed-header
    format (``feldman.py:42-49``). Spark's CSV sep is single-char, so read
    as text and split on the two-char delimiter."""
    headers = ["Exp", "Site", "Hole", "Core", "CoreType", "Section",
               "TopOffset", "BottomOffset", "Depth", "Data", "RunNo"]
    lines = spark.read.text(path)
    lines = lines.filter(~F.col("value").startswith("#") & (F.trim(F.col("value")) != ""))
    parts = F.split(F.col("value"), " \t")
    return lines.select([
        F.trim(parts.getItem(i)).alias(h) for i, h in enumerate(headers)
    ])


def numeric_columns(df: DataFrame) -> List[str]:
    """S3: names of numeric-typed columns — the reference's depth-column
    picker (``qtmain.py:27-30``)."""
    from pyspark.sql.types import NumericType

    return [f.name for f in df.schema.fields if isinstance(f.dataType, NumericType)]
