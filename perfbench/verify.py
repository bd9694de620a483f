"""Output digests: a row count and an order-independent checksum per output.

CSV outputs are digested in Python from the written files, after the op's
timer has stopped. Band query results are digested by a Spark
``Observation`` attached to the query's own action, so the result is not
computed twice; the comparison happens after the op.
"""

from __future__ import annotations

import csv
import hashlib
import json
import os
from collections import Counter
from typing import Dict, List, Optional, Tuple

MASK = (1 << 64) - 1
EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def row_hash(fields: List[str]) -> int:
    data = "\x1f".join(fields).encode("utf-8")
    return int.from_bytes(hashlib.blake2b(data, digest_size=8).digest(), "little")


def csv_digest(path: str, count_by: Optional[str] = None) -> Tuple[int, int, Counter]:
    """(data rows, checksum, per-value counts of column ``count_by``). The
    checksum is the sum of per-row hashes (header included) mod 2**64, so
    it does not depend on row order."""
    with open(path, newline="", encoding="utf-8") as fh:
        reader = csv.reader(fh)
        header = next(reader)
        col = header.index(count_by) if count_by else None
        total, n, counts = row_hash(header), 0, Counter()
        for row in reader:
            total += row_hash(row)
            n += 1
            if col is not None:
                counts[row[col]] += 1
    return n, total & MASK, counts


def observed(df):
    """``df`` with a row count and ``sum(xxhash64(*))`` collected by its own
    action, and the :class:`Observation` to read them from afterwards."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    cols = [F.col(f"`{c}`") for c in df.columns]
    return df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("hash"),
    ), obs


def observation_digest(obs) -> Tuple[int, int]:
    got = obs.get
    h = got["hash"]
    return int(got["rows"]), (int(h) & MASK) if h is not None else 0


def committed(workload: str, seed: int) -> Optional[Dict[str, list]]:
    """Digests committed for ``seed``, or None when the seed has none."""
    with open(EXPECTED_PATH) as fh:
        return json.load(fh).get(workload, {}).get(str(seed))


def compare(digests: Dict[str, list], reference: Optional[Dict[str, list]],
            what: str) -> List[str]:
    """Problems found comparing ``digests`` with ``reference``."""
    if reference is None:
        return []
    return ["%s: %s %s != %s" % (what, k, digests.get(k), v)
            for k, v in sorted(reference.items()) if digests.get(k) != v]
