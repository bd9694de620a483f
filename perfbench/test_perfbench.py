"""Tests of the benchmark's own code (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import csv
import filecmp
import json
import os
import random
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import verify  # noqa: E402

SMALL_FELDMAN = gen.FeldmanShape(cores_per_hole=20, intervals=12,
                                 measurement_rows=400, element_columns=5)
SMALL_BAND = gen.BandShape(orders=300, customers=50, parts=40, suppliers=10,
                           events=200, users=20, documents=30)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    return all(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False)
               for n in names)


def test_feldman_inputs_deterministic(tmp_path):
    e1 = gen.feldman_inputs(str(tmp_path / "a"), 5, SMALL_FELDMAN)
    e2 = gen.feldman_inputs(str(tmp_path / "b"), 5, SMALL_FELDMAN)
    e3 = gen.feldman_inputs(str(tmp_path / "c"), 6, SMALL_FELDMAN)
    assert e1 == e2
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))
    assert e1.on_splice + e1.off_splice + e1.unwritten == 400
    assert e1.intervals == 12


def test_feldman_rows_follow_the_splice(tmp_path):
    """Every on-splice row lies strictly inside an interval of its core, and
    every off-splice row belongs to a core the splice never visits."""
    out = str(tmp_path)
    exp = gen.feldman_inputs(out, 3, SMALL_FELDMAN)
    with open(os.path.join(out, "section_summary.csv")) as fh:
        secs = {(r["Hole"], r["Core"], r["Section"]): float(r["Top Depth CSF-A (m)"])
                for r in csv.DictReader(fh)}
    spans_by_core = {}
    with open(os.path.join(out, "sparse_splice.csv")) as fh:
        for r in csv.DictReader(fh):
            top = secs[(r["Hole"], r["Core"], r["Top Section"])] + float(r["Top Offset (cm)"]) / 100
            bot = secs[(r["Hole"], r["Core"], r["Bottom Section"])] + float(r["Bottom Offset (cm)"]) / 100
            spans_by_core.setdefault((r["Hole"], r["Core"]), []).append(
                (int(r["Top Section"]), int(r["Bottom Section"]), top, bot))
    on = off = unwritten = 0
    with open(os.path.join(out, "measurement.csv")) as fh:
        for r in csv.DictReader(fh):
            key = (r["Hole"], r["Core"])
            depth = float(r[gen.DEPTH_COLUMN])
            if (r["Hole"], r["Core"], r["Section"]) not in secs:
                unwritten += 1
            elif key not in spans_by_core:
                off += 1
            else:
                assert any(ts <= int(r["Section"]) <= bs and top < depth < bot
                           for ts, bs, top, bot in spans_by_core[key])
                on += 1
    assert (on, off, unwritten) == (exp.on_splice, exp.off_splice, exp.unwritten)


def test_band_tables_deterministic(tmp_path):
    e1 = gen.band_tables(str(tmp_path / "a"), 9, SMALL_BAND)
    e2 = gen.band_tables(str(tmp_path / "b"), 9, SMALL_BAND)
    assert e1 == e2
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert e1["a5_conditional_sum_hof"] == 300


def test_cached_builds_once(tmp_path):
    calls = []

    def build():
        calls.append(1)
        return {"n": 1}

    assert gen.cached(str(tmp_path), build) == {"n": 1}
    assert gen.cached(str(tmp_path), build) == {"n": 1}
    assert len(calls) == 1


def _write(path, header, rows):
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(header)
        w.writerows(rows)


def test_csv_digest_is_order_independent(tmp_path):
    header = ["Site", "Hole", "On-Splice", "Sediment Depth, unscaled (MBS / CSF-A)"]
    rows = [["1", h, "splice" if i % 3 else "off-splice", str(i / 7)]
            for i, h in enumerate("ABCABCABCA")]
    shuffled = rows[:]
    random.Random(0).shuffle(shuffled)
    changed = [r[:] for r in rows]
    changed[4][3] = "9.9"
    for name, body in (("a", rows), ("b", shuffled), ("c", changed)):
        _write(str(tmp_path / f"{name}.csv"), header, body)
    a = verify.csv_digest(str(tmp_path / "a.csv"), count_by="On-Splice")
    b = verify.csv_digest(str(tmp_path / "b.csv"), count_by="On-Splice")
    c = verify.csv_digest(str(tmp_path / "c.csv"))
    assert a == b
    assert a[0] == 10 and a[2]["off-splice"] == 4
    assert c[1] != a[1]


def test_compare_reports_only_mismatches():
    assert verify.compare({"x": [1, 2]}, {"x": [1, 2]}, "w") == []
    assert verify.compare({"x": [1, 2]}, None, "w") == []
    assert len(verify.compare({"x": [1, 3]}, {"x": [1, 2]}, "w")) == 1


def test_inclusive_self_and_driver_time():
    recs = [
        {"id": 1, "name": "outer", "op": 0, "parent": None, "start": 0.0, "end": 10.0,
         "job_intervals": [(1.0, 2.0)], **dict.fromkeys(spans.COUNTERS, 1)},
        {"id": 2, "name": "inner", "op": 0, "parent": 1, "start": 4.0, "end": 8.0,
         "job_intervals": [(5.0, 7.0)], **dict.fromkeys(spans.COUNTERS, 2)},
    ]
    outer, inner = spans.inclusive(recs)
    assert outer["self_s"] == pytest.approx(6.0)
    assert outer["driver_s"] == pytest.approx(7.0)
    assert outer["jobs"] == 3 and inner["jobs"] == 2
    assert inner["driver_s"] == pytest.approx(2.0)
    med = spans.per_op_medians(recs, [0])
    assert med["outer"]["wall_s"] == pytest.approx(10.0)


def test_tracer_disabled_records_nothing():
    tracer = spans.Tracer(enabled=False)
    with tracer.span("x"):
        pass
    assert tracer.wrap("y", lambda v: v + 1)(1) == 2
    assert tracer.spans == []


def _benchmark():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_names_and_units():
    bench = _benchmark()
    metrics = bench["end_to_end"] + bench["per_layer"]
    names = [m["name"] for m in metrics] + [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for m in metrics:
        assert NAME.match(m["name"]), m["name"]
        assert UNIT.match(m["unit"]), m["unit"]
        assert m["better"] in ("lower", "higher")
    for m in bench["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in bench["end_to_end"])
    assert set(run.WORKLOADS) == {w["name"] for w in bench["workloads"]}


def test_reported_metrics_match_benchmark_json():
    """The names and units the run prints are exactly the declared ones."""
    bench = _benchmark()
    records = [{"op": i, "seconds": 1.0 + i, "rows": 10, "rss_mb": 100.0,
                "persisted_after_op": 0, "steal_frac": 0.0, "iowait_frac": 0.0,
                "flagged": False} for i in range(3)]
    e2e = run.end_to_end(records, 5.0)
    assert {k: u for k, (_, u) in e2e.items()} == \
        {m["name"]: m["unit"] for m in bench["end_to_end"]}

    class Workload:
        expected = {"measurement_rows": 10}

    layers = run.per_layer(records, spans.Tracer(), Workload())
    assert {k: u for k, (_, u) in layers.items()} == \
        {m["name"]: m["unit"] for m in bench["per_layer"]}
