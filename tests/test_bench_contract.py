"""The bench harness's one-line-JSON stdout contract.

The driver captures ``bench.py``'s stdout+stderr MERGED and parses the
LAST line as JSON. Round 9's capture became unparseable because the
wrapper relayed an uncleared-retry stderr line ("RETRY CONFIRMED")
*after* the child's JSON had already flowed through — which silenced a
full round of automated round-over-round comparison (``BENCH_r09.json``
``parsed: null``). The wrapper now buffers child stdout and emits it
only after child stderr reaches EOF, so the JSON is the final line of
any merged capture by construction. These tests drive the REAL
``_filtered_reexec`` against a stub child that reproduces the r9
failure ordering (stderr written after the stdout JSON, post-flush).

No Spark session needed — pure subprocess plumbing, and ``bench.main``
driven in-process with fake query results on a fake clock.
"""

import json
import subprocess
import sys
import textwrap
import types

import pytest

REPO = __file__.rsplit("/tests/", 1)[0]

# Parent driver: imports the real bench module, points its __file__ at
# the stub child (the one seam _filtered_reexec has), and runs the real
# wrapper. SystemExit carries the child's rc.
PARENT = textwrap.dedent("""
    import sys
    sys.path.insert(0, {repo!r})
    import bench
    bench.__dict__["__file__"] = {stub!r}
    try:
        bench._filtered_reexec()
    except SystemExit as e:
        raise SystemExit(e.code)
""")

# Stub child: the r9 failure shape — JSON to stdout, FLUSHED, then a
# late uncleared-retry line on stderr (plus the noise classes the
# wrapper filters: a Stage progress frame and a BrokenPipeError block).
STUB = textwrap.dedent("""
    import os, sys, time
    assert os.environ.get("BENCH_WRAPPED") == "1"
    print("[Stage 3:=====>    (1 + 1) / 2]", file=sys.stderr)
    print('{"metric": "headline_queries_total_wall_clock", "value": 1.0,'
          ' "unit": "sec", "queries": {"q": 1.0}, "sf": 0.001}')
    sys.stdout.flush()
    time.sleep(0.3)
    print("RETRY CONFIRMED: q retried at 9.99s, still above limit",
          file=sys.stderr)
""")


def _run_wrapper(tmp_path):
    stub = tmp_path / "stub_bench.py"
    stub.write_text(STUB)
    parent = tmp_path / "parent.py"
    parent.write_text(PARENT.format(repo=REPO, stub=str(stub)))
    return subprocess.run(
        [sys.executable, str(parent)],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=60)


def test_merged_capture_ends_with_json(tmp_path):
    r = _run_wrapper(tmp_path)
    assert r.returncode == 0
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    assert lines, "wrapper produced no output"
    # the uncleared-retry line must be PRESENT (real errors/flags still
    # reach the operator) but strictly BEFORE the final JSON line
    assert any("RETRY CONFIRMED" in l for l in lines[:-1])
    doc = json.loads(lines[-1])
    assert doc["metric"] == "headline_queries_total_wall_clock"
    assert doc["queries"] == {"q": 1.0}


def test_stage_frames_filtered(tmp_path):
    r = _run_wrapper(tmp_path)
    assert "[Stage 3:" not in r.stdout


class _Frame:
    """A query result as bench.py touches it; its noop write takes
    ``secs`` on the fake clock."""

    def __init__(self, clock, secs):
        self.write = self.sparkSession = self.catalog = self
        self._clock, self._secs = clock, secs

    def format(self, _):
        return self

    mode = format

    def save(self):
        self._clock[0] += self._secs

    def clearCache(self):
        pass

    def isEmpty(self):
        return False


def _bench(monkeypatch, capsys, tmp_path, sf, q1_secs, enforce="0"):
    """Run ``bench.main`` in-process on a fake clock over two fake
    queries: ``q1_pricing_summary``, whose n-th call takes
    ``q1_secs[n]``, and ``knn_ivf`` at 0.2 s, under its sf0.1 floor.
    Returns the JSON line as a dict."""
    import bench
    from tools import measure

    clock = [0.0]
    q1_secs = iter(q1_secs)
    entry = types.ModuleType("__spark_entry__")
    entry.knn_ivf_index = lambda spark, sf_dir: "ivf"

    def q1(spark, sf_dir):
        return _Frame(clock, next(q1_secs))

    def knn_ivf(spark, sf_dir, index):
        assert index == "ivf"
        return _Frame(clock, 0.2)

    entry.queries = lambda: {"q1_pricing_summary": q1, "knn_ivf": knn_ivf}
    monkeypatch.setitem(sys.modules, "__spark_entry__", entry)
    monkeypatch.setattr(measure, "perf_counter", lambda: clock[0])
    monkeypatch.setattr(measure, "session", lambda *args: None)
    monkeypatch.setattr(bench, "_calibrate", lambda spark: 0.5)
    for k, v in {"BENCH_WRAPPED": "1", "BENCH_ENFORCE": enforce,
                 "SPARK_DRIVER_MEMORY": "1g", "SPARK_GRAFT_BENCH_REPS": "3",
                 "SPARK_GRAFT_SF_DIR": str(tmp_path / f"sf{sf}")}.items():
        monkeypatch.setenv(k, v)
    bench.main()
    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 1
    return json.loads(lines[0])


def test_json_line_carries_min_sec(monkeypatch, capsys, tmp_path):
    doc = _bench(monkeypatch, capsys, tmp_path, "0.01", [9.0, 3.0, 1.0, 2.0])
    assert set(doc) == {"metric", "value", "unit", "queries", "sf",
                        "first_sec", "min_sec", "setup", "calibration_sec",
                        "host_ratio"}
    # the warm-up is first_sec only; median and min are over the timed reps
    assert doc["queries"] == {"q1_pricing_summary": 2.0, "knn_ivf": 0.2}
    assert doc["first_sec"] == {"q1_pricing_summary": 9.0, "knn_ivf": 0.2}
    assert doc["min_sec"] == {"q1_pricing_summary": 1.0, "knn_ivf": 0.2}


def test_retry_uses_the_main_pass_protocol(monkeypatch, capsys, tmp_path):
    # main pass: median 10 s, over any limit at host_ratio 3 (4.28 s);
    # the retry's cold warm-up (20 s) is excluded, its median (1 s) clears
    doc = _bench(monkeypatch, capsys, tmp_path, "0.1",
                 [9.0, 10.0, 10.0, 10.0, 20.0, 1.0, 2.0, 1.0], enforce="1")
    assert "regressions" not in doc
    assert doc["retry"] == {"q1_pricing_summary": {
        "first": 10.0, "retry": 1.0, "cleared": True}}


def test_enforce_exits_on_a_confirmed_regression(monkeypatch, capsys,
                                                 tmp_path):
    with pytest.raises(SystemExit) as e:
        _bench(monkeypatch, capsys, tmp_path, "0.1",
               [9.0, 10.0, 10.0, 10.0, 1.0, 9.0, 9.0, 9.0], enforce="1")
    assert e.value.code == 1
    doc = json.loads(capsys.readouterr().out)
    assert doc["regressions"] == {"q1_pricing_summary": {
        "floor": 0.428, "now": 10.0}}
