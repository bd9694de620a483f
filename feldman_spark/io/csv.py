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

The schema is **declared, not inferred**: the driver-side probe that sniffs
the encoding (the first 1 MiB) also yields the header line, which is
tokenized and made unique the way Spark's own header inference does it, and
the read declares the resulting all-string ``StructType``. Building a read
therefore runs no Spark job. The per-column projections (``?``-family nulls,
the blank-row filter, the format casts, the export rounding and renames) are
each one ``selectExpr``: under PySpark 4.1 classic every Column-API call is
several py4j round trips, and a 30-column table paid thousands of them.

At 100 TB, measurement data lives in parquet, not CSV; these readers are the
compatibility edge. They are still fully distributed scans — only the header
probe and encoding sniff touch the driver.
"""

from __future__ import annotations

import codecs
import csv as _csv
import io as _io
import os
import re
from collections import Counter
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..formats.columns import (
    TabularFormat,
    find_match,
    map_columns,
    quote_ident,
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

NA_SENTINELS = ("?", "??", "???")
_NA_LIST = "({})".format(", ".join("'{}'".format(v) for v in NA_SENTINELS))

# What Java's String.trim and Spark's CSV tokenizer (univocity) treat as
# whitespace: every char up to and including the space.
_WS = "".join(map(chr, range(33)))
# Spark's line reader splits on \n, \r\n and a bare \r, nothing else.
_LINE_BREAK = re.compile("\r\n|\r|\n")
_PROBE_BYTES = 1 << 20


class FormatError(Exception):
    """Input does not satisfy a tabular format (``tabular/csvio.py:15``)."""


def _probe(path: str) -> Tuple[str, str, bool]:
    """``(spark_encoding, text, complete)`` for the first 1 MiB of
    ``path``: UTF-8 first, Latin-1 fallback — mirrors the reference's
    two-attempt read (``tabular/pandasutils.py:19-36``); Latin-1 decodes
    any byte sequence, so it is a safe retry. The decode is incremental, so
    a multi-byte character cut by the probe boundary is held back instead
    of failing it. ``complete`` is False when the file runs past the probe."""
    with open(path, "rb") as f:
        data = f.read(_PROBE_BYTES)
    complete = len(data) < _PROBE_BYTES
    try:
        text = codecs.getincrementaldecoder("utf-8")().decode(data, final=complete)
        return "UTF-8", text, complete
    except UnicodeDecodeError:
        return "ISO-8859-1", data.decode("latin-1"), complete


def _header_line(text: str, complete: bool) -> Optional[str]:
    """The first line with a non-whitespace char, BOM stripped — the line
    Spark's CSV reader takes as the header — or None when the probed text
    holds no such line in full."""
    lines = _LINE_BREAK.split(text.lstrip("\ufeff"))
    if not complete:
        lines = lines[:-1]  # may be cut by the probe boundary
    return next((line for line in lines if line.strip(_WS)), None)


def read_headers(path: str) -> List[str]:
    """Header-only probe without a full scan (``tabular/pandasutils.py:41-46``).
    An empty file has no headers."""
    _, text, complete = _probe(path)
    line = _header_line(text, complete) or ""
    reader = _csv.reader(_io.StringIO(line), skipinitialspace=True)
    return [h.strip() for h in next(reader, [])]


def _split_header(line: str, sep: str) -> List[str]:
    r"""Tokenize one header line as Spark's CSV reader does with its default
    quote ``"`` and escape ``\``: whitespace outside quotes is trimmed,
    whitespace inside kept; ``\"`` inside quotes is a quote; a quote that
    closes before the value ends makes the whole value literal text up to
    the next ``sep``; an unclosed quote runs to the end of the line."""
    fields = []
    i, n = 0, len(line)
    while True:
        while i < n and line[i] in _WS and not line.startswith(sep, i):
            i += 1
        start = i
        if i < n and line[i] == '"':
            buf, j = [], i + 1
            while j < n and line[j] != '"':
                if line.startswith('\\"', j):
                    j += 1
                buf.append(line[j])
                j += 1
            k = j + 1
            while k < n and line[k] in _WS and not line.startswith(sep, k):
                k += 1
            if k >= n or line.startswith(sep, k):
                fields.append("".join(buf))
                if k >= n:
                    return fields
                i = k + len(sep)
                continue
            search_from = j + 1
        else:
            search_from = start
        end = line.find(sep, search_from)
        fields.append(line[start:n if end < 0 else end].rstrip(_WS))
        if end < 0:
            return fields
        i = end + len(sep)


def _safe_header(names: List[str]) -> List[str]:
    """Spark's ``CSVUtils.makeSafeHeader`` under its default case
    insensitivity: an empty name becomes ``_c{i}``, and every name that
    occurs more than once, compared lower-cased, gets its index appended."""
    counts = Counter(v.lower() for v in names)
    return [
        f"_c{i}" if not v else f"{v}{i}" if counts[v.lower()] > 1 else v
        for i, v in enumerate(names)
    ]


def read_csv(spark: SparkSession, path: str, sep: str = ",") -> DataFrame:
    """S1: distributed CSV scan, all columns as strings, blank lines
    skipped, BOM tolerated, ``?``-family → null.

    The all-string schema is declared from the header probe, with the
    column names Spark's own inference would give, so the read runs no
    Spark job. A path the driver cannot open, or one without a header in
    its first 1 MiB (an empty file, say), is left to Spark's inference."""
    try:
        enc, text, complete = _probe(path)
        line = _header_line(text, complete)
    except OSError:
        enc, line = "ISO-8859-1", None
    reader = (
        spark.read.option("header", True)
        .option("encoding", enc)
        .option("sep", sep)
        .option("ignoreLeadingWhiteSpace", True)
        .option("ignoreTrailingWhiteSpace", True)
        .option("inferSchema", False)
    )
    if line is not None:
        names = _safe_header(_split_header(line, sep))
        reader = reader.schema(
            StructType([StructField(c, StringType()) for c in names]))
    df = reader.csv(path)
    quoted = [quote_ident(c) for c in df.columns]
    if not quoted:
        return df
    # '?' '??' '???' parse as null in every column (tabular/csvio.py:21).
    df = df.selectExpr(*[
        f"CASE WHEN {q} IN {_NA_LIST} THEN NULL ELSE {q} END AS {q}"
        for q in quoted
    ])
    # Drop fully-blank rows (pandas skip_blank_lines).
    return df.filter(" OR ".join(f"({q} IS NOT NULL AND {q} != '')" for q in quoted))


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


def apply_format(df: DataFrame, fmt: TabularFormat) -> DataFrame:
    """P1+P2: normalize-and-match headers against the format's synonym
    metadata, fail on missing required columns, default-fill missing
    optional ones, rename to canonical names, and cast to the declared
    types (``tabular/csvio.py:19-46``). STRING columns are null-free:
    null → ``""`` (``tabular/pandasutils.py:102-108``).

    Column order contract: input order is preserved (matched columns are
    renamed in place, extras pass through untouched), missing optional
    columns are appended at the end — exactly the reference's behavior.
    """
    df = split_site_hole(df)
    cols = df.columns
    colmap = map_columns(fmt.cols, cols)  # canonical -> input header

    missing_req = [c.name for c in fmt.cols if not c.optional and c.name not in colmap]
    if missing_req:
        raise FormatError(
            "The {} format requires the following column(s): {}".format(
                fmt.name, ",".join(missing_req)))

    inverse = {v: k for k, v in colmap.items()}  # input header -> canonical
    by_name = {c.name: c for c in fmt.cols}

    exprs: List[str] = []
    for raw in cols:
        q = quote_ident(raw)
        if raw in inverse:
            cid = by_name[inverse[raw]]
            value = (f"CAST({q} AS DOUBLE)" if cid.is_numeric()
                     else f"COALESCE(CAST({q} AS STRING), '')")
            exprs.append(f"{value} AS {quote_ident(cid.name)}")
        else:
            exprs.append(q)  # passthrough untouched
    for cid in fmt.cols:
        if cid.optional and cid.name not in colmap:
            default = "''" if cid.is_string() else "CAST(NULL AS DOUBLE)"
            exprs.append(f"{default} AS {quote_ident(cid.name)}")
    return df.selectExpr(*exprs)


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
        cols = df.columns
        rounded = ({c.name for c in fmt.cols if c.is_numeric()}
                   if round_digits is not None else set())
        renames = pretty_rename_map(fmt, cols, org)
        # pandas .round() is HALF_EVEN (feldman.py:538-544) -> bround
        df = df.selectExpr(*[
            (f"bround({quote_ident(c)}, {round_digits})" if c in rounded
             else quote_ident(c)) + f" AS {quote_ident(renames.get(c, c))}"
            for c in cols
        ])
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
