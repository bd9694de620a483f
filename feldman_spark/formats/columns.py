"""Column-identity metadata and name-normalization helpers.

Re-expresses the reference's declarative schema layer
(``/root/reference/tabular/columns.py:13-144``): a *format* is a named list
of column identities, each with synonyms, per-organization output names, a
declared datatype (STRING or NUMERIC) and an optional flag. Input headers
are *matched, not inferred*: header names are normalized (lowercase, strip
spaces, strip parenthesized units) and compared against every identity's
name + synonyms.

Everything in this module is pure Python metadata — no Spark objects. The
Spark side consumes the results as ``withColumnsRenamed`` maps and
``StructType`` schemas (see :mod:`feldman_spark.formats.registry`).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from enum import Enum
from typing import Dict, List, Optional, Sequence

__all__ = [
    "TabularDatatype",
    "ColumnIdentity",
    "TabularFormat",
    "space_caps",
    "split_caps",
    "strip_unit",
    "find_unit",
    "lowerstrip",
    "las",
    "match_column",
    "find_match",
    "find_starts_with",
    "find_all_starts_with",
    "map_columns",
    "quote_ident",
]


class TabularDatatype(Enum):
    """The reference's entire primitive type surface
    (``tabular/columns.py:13-15``): strings and doubles."""

    STRING = "string"
    NUMERIC = "numeric"


def space_caps(colname: str) -> str:
    """Remove existing spaces, then insert one space at each lower→upper
    boundary: ``"FooBar"``, ``"Foo Bar"`` and ``"Foo    Bar"`` all yield
    ``"Foo Bar"`` (``tabular/columns.py:68-70``)."""
    return re.sub(r"([a-z])([A-Z])", r"\1 \2", colname.replace(" ", ""))


def split_caps(colname: str) -> List[str]:
    """``space_caps`` then split on the inserted spaces."""
    return space_caps(colname).split(" ")


def strip_unit(colname: str) -> str:
    """Remove parenthesized substrings, e.g. ``"Depth (m)"`` → ``"Depth "``
    (``tabular/columns.py:77-78``)."""
    return re.sub(r"\([^)]*\)", "", colname)


def find_unit(colname: str) -> Optional[str]:
    """Return the contents of the first parenthesized substring, or None."""
    m = re.search(r"\([^\)].*\)", colname)
    return None if m is None else m.group()[1:-1]


def lowerstrip(colname: str) -> str:
    return colname.replace(" ", "").lower()


def las(colname: str) -> str:
    """Lowercase + strip spaces + strip units: the canonical normalization
    every header comparison goes through (``tabular/columns.py:89-90``)."""
    return lowerstrip(strip_unit(colname))


def match_column(colname: str, names: Sequence[str]) -> bool:
    las_name = las(colname)
    return any(las_name == las(n) for n in names)


def find_match(colname: str, names: Sequence[str]) -> Optional[str]:
    """First raw name in ``names`` that las-matches ``colname``."""
    las_name = las(colname)
    for name in names:
        if las_name == las(name):
            return name
    return None


def find_starts_with(startstr: str, names: Sequence[str]) -> Optional[str]:
    las_start = las(startstr)
    for name in names:
        if las(name).startswith(las_start):
            return name
    return None


def find_all_starts_with(startstr: str, names: Sequence[str]) -> List[str]:
    las_start = las(startstr)
    return [n for n in names if las(n).startswith(las_start)]


def quote_ident(colname: str) -> str:
    """``colname`` as a Spark SQL identifier: backtick-quoted, with any
    backtick inside the name doubled."""
    return "`" + colname.replace("`", "``") + "`"


@dataclass
class ColumnIdentity:
    """One logical column: canonical name, accepted synonyms, organization
    output vocabularies, declared type, unit, optionality
    (``tabular/columns.py:26-66``)."""

    name: str
    synonyms: List[str] = field(default_factory=list)
    org_names: Dict[str, str] = field(default_factory=dict)
    desc: str = ""
    datatype: TabularDatatype = TabularDatatype.STRING
    unit: str = ""
    optional: bool = False

    def names(self) -> List[str]:
        return [self.name] + list(self.synonyms)

    def match(self, colname: str) -> bool:
        return match_column(colname, self.names())

    def is_string(self) -> bool:
        return self.datatype == TabularDatatype.STRING

    def is_numeric(self) -> bool:
        return self.datatype == TabularDatatype.NUMERIC

    def org_name(self, org: str = "IODP") -> Optional[str]:
        return self.org_names.get(org)

    def pretty_name(self, orgkey: Optional[str] = None) -> str:
        """Vocabulary-specific output name: the org's name if present, else
        the default (IODP) org name, else ``space_caps`` of the canonical
        name (``tabular/columns.py:53-60``)."""
        name = self.org_name(orgkey) if orgkey else None
        if not name:
            name = self.org_name()
        if not name:
            name = space_caps(self.name)
        return name

    def default_value(self):
        """Fill value when an optional column is absent: empty string for
        STRING, null for NUMERIC (``tabular/columns.py:62-63``; the
        reference uses NaN, which Spark reads as null)."""
        return "" if self.is_string() else None


@dataclass
class TabularFormat:
    """A named, ordered list of column identities (``tabular/columns.py:17-23``)."""

    name: str
    cols: List[ColumnIdentity]

    def column_names(self) -> List[str]:
        return [c.name for c in self.cols]

    def required(self) -> List[ColumnIdentity]:
        return [c for c in self.cols if not c.optional]

    def optional(self) -> List[ColumnIdentity]:
        return [c for c in self.cols if c.optional]

    def get(self, name: str) -> ColumnIdentity:
        for c in self.cols:
            if c.name == name:
                return c
        raise KeyError(name)


def map_columns(fmtcols: Sequence[ColumnIdentity], inputcols: Sequence[str]) -> Dict[str, str]:
    """Map each format column's canonical name to the matching input header
    (``tabular/columns.py:138-144``). Later input columns win on duplicate
    matches, mirroring the reference's loop order."""
    colmap: Dict[str, str] = {}
    for fc in fmtcols:
        for ic in inputcols:
            if fc.match(ic):
                colmap[fc.name] = ic
    return colmap


def first_column_starting_with(startstr: str, names: Sequence[str]) -> Optional[int]:
    """P5: index of the first column whose las-name starts with the prefix
    (``tabular/pandasutils.py:60-67``)."""
    matches = find_all_starts_with(startstr, names)
    return min(names.index(m) for m in matches) if matches else None


def last_column_starting_with(startstr: str, names: Sequence[str]) -> Optional[int]:
    """P5: index of the last such column (``tabular/pandasutils.py:69-76``)."""
    matches = find_all_starts_with(startstr, names)
    return max(names.index(m) for m in matches) if matches else None
