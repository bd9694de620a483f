"""Seeded input generators for the benchmark workloads.

Everything here is pure Python + NumPy + PyArrow: no Spark, so inputs are
built before the session starts and outside every timed region. The same
seed always gives byte-identical files. The program under test only ever
sees the files.

* :func:`feldman_inputs` writes a GLAD9-shaped section summary, sparse
  splice and measurement CSV in the reference's column vocabulary, and
  returns the counts the export must reproduce (on-splice, off-splice and
  unwritten rows).
* :func:`band_tables` writes the TPC-H-shaped parquet tables that the
  ``__spark_entry__`` queries of the operator band read, and returns the
  row counts of the band's results that follow from the data alone.
"""

from __future__ import annotations

import csv
import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

DEPTH_COLUMN = "Sediment Depth, unscaled (MBS / CSF-A)"
# measurement rows inside a splice interval, and in cores the splice never
# visits; the rest belong to cores missing from the section summary, so all
# three export branches (on-splice, off-splice, unwritten) carry data
ON_SHARE, OFF_SHARE = 0.60, 0.35
HOLES = ("A", "B", "C")
ELEMENTS = ("Al", "Si", "P", "S", "Cl", "K", "Ca", "Ti", "V", "Cr", "Mn", "Fe",
            "Co", "Ni", "Cu", "Zn", "Ga", "Br", "Rb", "Sr", "Y", "Zr", "Mo")

SECTION_SUMMARY_HEADER = [
    "Site", "Hole", "Core", "Core Type", "Section",
    "Top Depth CSF-A (m)", "Bottom Depth CSF-A (m)",
    "Top Depth CSF-B (m)", "Bottom Depth CSF-B (m)",
    "Curated Length (m)", "Gaps",
]
SPARSE_SPLICE_HEADER = [
    "Site", "Hole", "Core", "Core Type", "Top Section", "Top Offset (cm)",
    "Bottom Section", "Bottom Offset (cm)", "Splice Type", "Gap (m)",
    "Data Used", "Comment",
]


@dataclass(frozen=True)
class FeldmanShape:
    """Size knobs of one Feldman input set."""

    cores_per_hole: int
    intervals: int
    measurement_rows: int
    element_columns: int


@dataclass
class FeldmanExpected:
    """What the program must produce on a generated input set."""

    cores: int
    intervals: int
    on_splice: int
    off_splice: int
    unwritten: int
    measurement_rows: int


def _rng(seed: int, stream: str) -> np.random.Generator:
    # independent, reproducible stream per artefact: adding a table never
    # perturbs the others
    return np.random.default_rng([seed, sum(map(ord, stream)), len(stream)])


def _sections(rng: np.random.Generator, cores_per_hole: int):
    """Per hole: contiguous sections of integer-cm length, cores separated
    by small drilling gaps. Returns a list of
    (hole, core, section, top_cm, bottom_cm) with depths in integer cm."""
    rows = []
    for h, hole in enumerate(HOLES):
        top = h * int(rng.integers(40, 80))
        for core in range(1, cores_per_hole + 1):
            for sec in range(1, int(rng.integers(2, 5)) + 1):
                length = int(rng.integers(100, 151))
                rows.append((hole, core, sec, top, top + length))
                top += length
            top += int(rng.integers(0, 31))
    return rows


def _splice(rng: np.random.Generator, sections, intervals: int):
    """Sparse splice rows down the holes in turn, one interval per core;
    about half span several sections. Types mix TIE, APPEND and APPEND
    with a user gap. Returns (rows, spans) where spans hold each
    interval's (hole, core, top_section, bottom_section, top_cm, bottom_cm)
    in absolute integer-cm depths."""
    by_core = {}
    for hole, core, sec, top, bot in sections:
        by_core.setdefault((hole, core), []).append((sec, top, bot))
    rows, spans = [], []
    for i in range(intervals):
        hole = HOLES[i % len(HOLES)]
        core = i // len(HOLES) + 1
        secs = by_core[(hole, core)]
        ts = int(rng.integers(1, len(secs) + 1))
        bs = ts if rng.random() < 0.5 else int(rng.integers(ts, len(secs) + 1))
        t_len = secs[ts - 1][2] - secs[ts - 1][1]
        b_len = secs[bs - 1][2] - secs[bs - 1][1]
        if ts == bs:
            to = int(rng.integers(0, t_len // 3))
            bo = int(rng.integers(to + 40, t_len + 1))
        else:
            to = int(rng.integers(0, t_len - 10))
            bo = int(rng.integers(10, b_len + 1))
        roll = rng.random()
        if roll < 0.55:
            kind, gap = "TIE", ""
        elif roll < 0.8:
            kind, gap = "APPEND", ""
        else:
            kind, gap = "APPEND", "%.2f" % rng.uniform(0.1, 1.0)
        rows.append(("1", hole, str(core), "H", str(ts), str(to), str(bs),
                     str(bo), kind, gap, "XRF" if i % 4 == 0 else "",
                     "multi-section" if bs > ts else ""))
        spans.append((hole, core, ts, bs, secs[ts - 1][1] + to, secs[bs - 1][1] + bo))
    return rows, spans


def _write_rows(path: str, header, rows) -> None:
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh)
        w.writerow(header)
        w.writerows(rows)


def feldman_inputs(out_dir: str, seed: int, shape: FeldmanShape) -> FeldmanExpected:
    """Write ``section_summary.csv``, ``sparse_splice.csv`` and
    ``measurement.csv`` under ``out_dir`` and return the expected counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, "feldman")
    sections = _sections(rng, shape.cores_per_hole)
    splice_rows, spans = _splice(rng, sections, shape.intervals)
    spliced_cores = {(h, c) for h, c, *_ in spans}

    ss_rows = []
    for hole, core, sec, top, bot in sections:
        gaps = ""
        # gaps only in cores off the splice, so interval depths stay plain
        if (hole, core) not in spliced_cores and rng.random() < 0.1:
            g = int(rng.integers(5, bot - top - 10))
            gaps = "%d-%d" % (g, g + int(rng.integers(1, 6)))
        ss_rows.append(("1", hole, str(core), "H", str(sec),
                        "%.2f" % (top / 100), "%.2f" % (bot / 100),
                        "%.2f" % (top / 100), "%.2f" % (bot / 100 - 0.01),
                        "%.2f" % ((bot - top) / 100), gaps))
    _write_rows(os.path.join(out_dir, "section_summary.csv"),
                SECTION_SUMMARY_HEADER, ss_rows)
    _write_rows(os.path.join(out_dir, "sparse_splice.csv"),
                SPARSE_SPLICE_HEADER, splice_rows)

    n = shape.measurement_rows
    n_on = int(n * ON_SHARE)
    n_off = int(n * OFF_SHARE)
    n_unw = n - n_on - n_off
    hole_ix = {h: i for i, h in enumerate(HOLES)}
    sec_top = {(h, c, s): t for h, c, s, t, _ in sections}
    sec_bot = {(h, c, s): b for h, c, s, _, b in sections}

    # on-splice: a section inside an interval, depth strictly inside it;
    # the 1 cm margins keep every row clear of the inclusive boundaries
    span_ix = rng.integers(0, len(spans), n_on)
    on = np.empty((n_on, 4), dtype=np.int64)  # hole, core, section, depth_cm
    for j, k in enumerate(span_ix):
        hole, core, ts, bs, top_cm, bot_cm = spans[k]
        s = int(rng.integers(ts, bs + 1))
        lo = max(sec_top[(hole, core, s)], top_cm + 1)
        hi = min(sec_bot[(hole, core, s)], bot_cm - 1)
        if lo >= hi:  # interval touches this section only at its edge
            s, lo, hi = ts, top_cm + 1, min(sec_bot[(hole, core, ts)], bot_cm - 1)
        on[j] = (hole_ix[hole], core, s, int(rng.integers(lo, hi)))

    # off-splice: any section of a core the splice never visits
    off_secs = [(h, c, s, t, b) for h, c, s, t, b in sections
                if (h, c) not in spliced_cores]
    pick = rng.integers(0, len(off_secs), n_off)
    off = np.empty((n_off, 4), dtype=np.int64)
    for j, k in enumerate(pick):
        h, c, s, t, b = off_secs[k]
        off[j] = (hole_ix[h], c, s, int(rng.integers(t, b)))

    # unwritten: cores absent from the section summary, so no affine row
    unw = np.column_stack([
        rng.integers(0, len(HOLES), n_unw),
        shape.cores_per_hole + 1 + rng.integers(0, 50, n_unw),
        rng.integers(1, 4, n_unw),
        rng.integers(0, 50_000, n_unw),
    ]).astype(np.int64)

    rows = np.concatenate([on, off, unw])
    rows = rows[np.lexsort((rows[:, 3], rows[:, 2], rows[:, 1], rows[:, 0]))]
    holes = np.array(HOLES)[rows[:, 0]]
    cores = rows[:, 1].astype(str)
    secs = rows[:, 2].astype(str)
    depth = rows[:, 3] / 100.0
    cols = {
        "SectionID": (rows[:, 0] * 1_000_000 + rows[:, 1] * 100 + rows[:, 2]).astype(str),
        "Site": np.full(n, "1"),
        "Hole": holes,
        "Core": cores,
        "Core Type": np.full(n, "H"),
        "Section": secs,
        DEPTH_COLUMN: np.round(depth, 2),
    }
    for e in ELEMENTS[:shape.element_columns]:
        cols[e] = np.round(rng.gamma(2.0, 500.0, n), 1)
    pacsv.write_csv(pa.table(cols), os.path.join(out_dir, "measurement.csv"))
    return FeldmanExpected(
        cores=len({(h, c) for h, c, *_ in sections}), intervals=len(spans),
        on_splice=n_on, off_splice=n_off, unwritten=n_unw, measurement_rows=n)


# --- operator band: TPC-H-shaped tables ----------------------------------

_EPOCH_DAY = np.datetime64("1970-01-01", "D")
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = ("batch part spark line column order small sort fast value scan a hash "
          "slow group agg filter query big key window row table stream merge "
          "data join index page shard").split()
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


@dataclass(frozen=True)
class BandShape:
    """Row counts of the band tables (sf 0.1 has 600k lineitem rows)."""

    orders: int
    customers: int
    parts: int
    suppliers: int
    events: int
    users: int
    documents: int


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = (np.datetime64(start, "D") - _EPOCH_DAY).astype(int)
    hi = (np.datetime64(end, "D") - _EPOCH_DAY).astype(int)
    return (rng.integers(lo, hi, n).astype("int64") * 86_400_000_000)


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values, type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def band_tables(out_dir: str, seed: int, shape: BandShape) -> dict:
    """Write the nine parquet tables the band reads and return the result
    row counts the data determines, keyed by query."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, "band")

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    nc, np_, ns, no = shape.customers, shape.parts, shape.suppliers, shape.orders
    _write(out_dir, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, nc)]})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)})
    brands = rng.integers(1, 26, np_)
    _write(out_dir, "part", {
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": [f"{_WORDS[i % len(_WORDS)]} {_WORDS[(i * 7) % len(_WORDS)]}"
                   for i in range(np_)],
        "p_brand": [f"Brand#{b}" for b in brands],
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, np_)],
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(np_) % 1000 * 0.1, 2)})

    _write(out_dir, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, no), 2),
        "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", no)),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)]})

    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": np.repeat(np.arange(no, dtype=np.int64), lines),
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(_days(rng, "1995-01-02", "2001-11-04", nl))})

    ne = shape.events
    start = (np.datetime64("2024-01-01", "s") - np.datetime64("1970-01-01", "s")).astype(int)
    users = rng.integers(0, shape.users, ne).astype(np.int64)
    _write(out_dir, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(np.sort(start * 1_000_000 + rng.integers(0, 30 * 86_400_000_000, ne))),
        "user_id": users,
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(60.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = shape.documents
    n_words = rng.integers(8, 90, nd)
    vocab = np.array(_WORDS)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in n_words]
    langs = np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, nd)]
    sources = rng.integers(0, 20, nd)
    _write(out_dir, "documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{s}" for s in sources],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    return {
        "a5_conditional_sum_hof": no,
        "w2_lag_diff": no,
        "j7_nearest_join": nc,
        "j4_broadcast_equi": int(np.unique(brands).size),
        "a13_grouped_mode": int(np.unique(users).size),
        # DSIR scores the raw documents, not the src0 target sample
        "sample_dsir": int((sources != 0).sum()),
        "q3_shipping_priority": 10,
        "q10_returned_items": 20,
        "w1_splice_scan": 5,
    }


def cached(out_dir: str, build) -> dict:
    """Run ``build()`` once per ``out_dir`` and keep its returned expectations
    next to the files, so later runs with the same seed reuse both."""
    marker = os.path.join(out_dir, "expected.json")
    if os.path.exists(marker):
        with open(marker) as fh:
            return json.load(fh)
    expected = build()
    if not isinstance(expected, dict):
        expected = asdict(expected)
    tmp = marker + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(expected, fh, sort_keys=True)
    os.replace(tmp, marker)
    return expected
