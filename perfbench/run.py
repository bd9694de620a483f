"""Benchmark of feldman-spark through its public functions.

Run from the repository root:

    python3 perfbench/run.py --workload glad_flow --seed 1 --seconds 24 --trace 0

One process, one ``local[4]`` session, one closed-loop caller: the next op
starts when the previous one has returned. The last line of standard
output is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``; ``--trace 0`` gives the end-to-end metrics, ``--trace 1`` the
per-layer ones. Everything the run reads or writes lives under the
repository root (``.perfbench_work/``). See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

CORES = 4
# a fixed heap that the runs fill quickly, so the JVM's peak RSS settles
DRIVER_MEMORY = "1g"
# steady ops a run times at least: their median passes over one op that is
# still warming up or hit by a burst of host steal
MIN_STEADY_OPS = 3

BAND_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q10_returned_items", "j4_broadcast_equi", "j7_nearest_join",
    "a13_grouped_mode", "a5_conditional_sum_hof", "w2_lag_diff",
    "w1_splice_scan", "feldman_e2_export", "sample_dsir",
)


def _environment(root: str) -> str:
    """Point every scratch location of Spark, the JVM and Python into the
    checkout and make the program importable by Python workers."""
    work = os.path.join(root, ".perfbench_work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "PYTHONPATH": root + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(work, "warehouse"),
        "SPARK_DRIVER_EXTRA_JAVA_OPTIONS": "-Djava.io.tmpdir=" + tmp,
        "TMPDIR": tmp,
    })
    return work


def _start_session(tracer):
    """The user's set-up: session plus one trivial job. Returns the session
    and the seconds from process start until the job finished."""
    import host
    from feldman_spark import session

    spark = tracer.wrap("session.get_spark", session.get_spark)(
        master=f"local[{CORES}]", shuffle_partitions=CORES,
        extra_conf={"spark.ui.showConsoleProgress": "false"})
    tracer.attach(spark)
    with tracer.span("session.first_job"):
        spark.range(1).count()
    setup_s = host.process_age_s()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, setup_s


def _stop_session(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# --- workloads --------------------------------------------------------------

class GladFlow:
    """E1 then E2, CSV to CSV, on a GLAD9-shaped input set."""

    name = "glad_flow"

    def __init__(self, work: str, seed: int):
        import gen

        self.seed = seed
        self.inputs = os.path.join(work, "inputs", f"{self.name}-seed{seed}")
        self.out = os.path.join(work, "out", self.name)
        os.makedirs(self.out, exist_ok=True)
        shape = gen.FeldmanShape(cores_per_hole=167, intervals=60,
                                 measurement_rows=6500, element_columns=23)
        self.expected = gen.cached(
            self.inputs, lambda: gen.feldman_inputs(self.inputs, seed, shape))
        self.depth_column = gen.DEPTH_COLUMN
        self.first = None
        self.rows_out = self.expected["on_splice"] + self.expected["off_splice"]

    def _path(self, name: str) -> str:
        return os.path.join(self.out, name)

    def op(self, spark, tracer) -> None:
        from feldman_spark import engine

        engine.convert_sparse_splice(
            spark, os.path.join(self.inputs, "section_summary.csv"),
            os.path.join(self.inputs, "sparse_splice.csv"),
            self._path("affine.csv"), self._path("sit.csv"))
        engine.export_measurement_data(
            spark, self._path("affine.csv"), self._path("sit.csv"),
            os.path.join(self.inputs, "measurement.csv"), self._path("export.csv"),
            depth_column=self.depth_column)

    def check(self) -> tuple:
        """(digests, problems) for the files the last op wrote."""
        import verify

        exp = self.expected
        digests, problems = {}, []
        for name, want in (("affine", exp["cores"]), ("sit", exp["intervals"])):
            n, h, _ = verify.csv_digest(self._path(name + ".csv"))
            digests[name] = [n, h]
            if n != want:
                problems.append(f"{name}: {n} rows, expected {want}")
        n, h, flags = verify.csv_digest(self._path("export.csv"), count_by="On-Splice")
        digests["export"] = [n, h]
        if flags.get("splice", 0) != exp["on_splice"] or flags.get("off-splice", 0) != exp["off_splice"]:
            problems.append(f"export: {dict(flags)}, expected {exp['on_splice']} splice "
                            f"and {exp['off_splice']} off-splice")
        n, h, _ = verify.csv_digest(os.path.join(self.inputs, "measurement-unwritten.csv"))
        digests["unwritten"] = [n, h]
        if n != exp["unwritten"]:
            problems.append(f"unwritten: {n} rows, expected {exp['unwritten']}")
        return digests, problems


class OperatorBand:
    """One pass over twelve ``__spark_entry__`` queries to the noop sink."""

    name = "operator_band"

    def __init__(self, work: str, seed: int):
        import gen

        self.seed = seed
        self.inputs = os.path.join(work, "inputs", f"{self.name}-seed{seed}")
        shape = gen.BandShape(orders=30_000, customers=3_000, parts=4_000,
                              suppliers=200, events=20_000, users=300, documents=1_000)
        self.expected = gen.cached(
            self.inputs, lambda: gen.band_tables(self.inputs, seed, shape))
        self.first = None
        self.rows_out = 0
        self._obs = {}

    def op(self, spark, tracer) -> None:
        import __spark_entry__ as entry
        import verify

        queries = entry.queries()
        self._obs, self.rows_out = {}, 0
        for key in BAND_QUERIES:
            with tracer.span("entry." + key):
                with tracer.span("entry.query_build"):
                    df = queries[key](spark, self.inputs)
                df, self._obs[key] = verify.observed(df)
                with tracer.span("entry.query_action"):
                    df.write.format("noop").mode("overwrite").save()

    def check(self) -> tuple:
        import verify

        digests, problems = {}, []
        for key in BAND_QUERIES:
            digests[key] = list(verify.observation_digest(self._obs[key]))
            want = self.expected.get(key)
            if want is not None and digests[key][0] != want:
                problems.append(f"{key}: {digests[key][0]} rows, expected {want}")
        self.rows_out = sum(d[0] for d in digests.values())
        return digests, problems


WORKLOADS = {w.name: w for w in (GladFlow, OperatorBand)}


# --- measurement ------------------------------------------------------------

def run_ops(workload, spark, tracer, seconds: float, jvm_pid: int) -> list:
    """The first op, then steady ops until ``seconds`` have passed and at
    least ``MIN_STEADY_OPS`` have run."""
    import host
    import verify

    reference = verify.committed(workload.name, workload.seed)
    records = []

    def one(i: int) -> None:
        tracer.op = i
        cpu0 = host.cpu_times()
        t0 = time.perf_counter()
        error = None
        try:
            workload.op(spark, tracer)
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            error = f"{type(exc).__name__}: {exc}"[:2000]
        elapsed = time.perf_counter() - t0
        rec = {"op": i, "seconds": elapsed, "error": error, **host.shares(cpu0, host.cpu_times())}
        tracer.op = None
        rec["persisted_after_op"] = spark.sparkContext._jsc.getPersistentRDDs().size()
        spark.catalog.clearCache()
        rec["rss_mb"] = host.peak_rss_mb(jvm_pid)
        rec["flagged"] = max(rec["steal_frac"], rec["iowait_frac"]) > host.BURST_FRAC
        problems = []
        if error is None:
            try:
                digests, problems = workload.check()
            except (OSError, ValueError, KeyError) as exc:
                digests, problems = {}, [f"verification: {exc}"]
            if workload.first is None:
                workload.first = digests
                problems += verify.compare(digests, reference, "committed digest")
            else:
                problems += verify.compare(digests, workload.first, "differs from op 0")
            rec["digests"] = digests
        rec["problems"] = problems
        rec["failed"] = error is not None or bool(problems)
        rec["rows"] = workload.rows_out
        records.append(rec)

    one(0)
    start = time.perf_counter()
    i = 1
    while i <= MIN_STEADY_OPS or time.perf_counter() - start < seconds:
        one(i)
        i += 1
    return records


def end_to_end(records: list, setup_s: float) -> dict:
    steady = records[1:]
    times = [r["seconds"] for r in steady]
    return {
        "setup_s": (setup_s, "s"),
        "first_op_s": (records[0]["seconds"], "s"),
        "op_p50_s": (statistics.median(times), "s"),
        "rows_per_s": (sum(r["rows"] for r in steady) / sum(times), "1/s"),
        "peak_rss_mb": (max(r["rss_mb"] for r in records), "MiB"),
    }


def per_layer(records: list, tracer, workload) -> dict:
    import spans

    steady = [r["op"] for r in records[1:]]
    layers = spans.per_op_medians(tracer.spans, steady)
    out = {}

    def put(name: str, value: float, unit: str) -> None:
        out[name] = (value, unit)

    full = ("wall_s", "self_s", "driver_s", "jobs", "stages", "tasks",
            "executor_run_s", "executor_cpu_s", "gc_s", "input_bytes",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "parallelism")
    brief = ("wall_s", "self_s", "driver_s", "jobs", "stages", "tasks", "executor_run_s")
    for span, fields in (
        ("engine.convert_sparse_splice", full),
        ("engine.export_measurement_data", full),
        ("io_csv.write_csv", full),
        ("entry.query_action", full),
        ("io_csv.read_tabular", brief),
        ("splice.convert_sparse_splice_frames", brief),
        ("export.export_measurement_frames", brief),
        ("entry.query_build", ("wall_s", "self_s", "driver_s", "stages", "tasks")),
        ("session.first_job", ("wall_s", "jobs")),
        ("session.get_spark", ("wall_s",)),
    ):
        got = layers.get(span, {})
        for f in fields:
            unit = "s" if f.endswith("_s") else "bytes" if f.endswith("_bytes") else \
                "ratio" if f == "parallelism" else "count"
            put(f"{span}.{f}", float(got.get(f, 0.0)), unit)
    for key in BAND_QUERIES:
        put(f"entry.{key}.wall_s", float(layers.get("entry." + key, {}).get("wall_s", 0.0)), "s")
    put("entry.build_jobs", float(layers.get("entry.query_build", {}).get("jobs", 0.0)), "count")
    export = layers.get("engine.export_measurement_data", {})
    md_rows = workload.expected.get("measurement_rows")
    put("export.scan_amplification",
        export.get("input_records", 0.0) / md_rows if md_rows else 0.0, "ratio")
    med = lambda f: float(statistics.median(r[f] for r in records[1:]))  # noqa: E731
    put("engine.persisted_after_op", med("persisted_after_op"), "count")
    put("host.steal_frac", med("steal_frac"), "ratio")
    put("host.iowait_frac", med("iowait_frac"), "ratio")
    put("host.flagged_ops", float(sum(r["flagged"] for r in records)), "count")
    put("trace.op_p50_s", med("seconds"), "s")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=24)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    missing = [p for p in ("feldman_spark/engine.py", "__spark_entry__.py")
               if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print("perfbench: run from the repository root; missing " + ", ".join(missing),
              file=sys.stderr)
        return 2
    work = _environment(root)
    sys.path.insert(0, root)

    import spans

    tracer = spans.Tracer(enabled=bool(args.trace))
    spark, setup_s = _start_session(tracer)

    import host

    try:
        if args.trace:
            from feldman_spark import engine

            spans.patch(tracer, engine, {
                "convert_sparse_splice": "engine.convert_sparse_splice",
                "export_measurement_data": "engine.export_measurement_data",
                "convert_sparse_splice_frames": "splice.convert_sparse_splice_frames",
                "export_measurement_frames": "export.export_measurement_frames",
                "read_tabular": "io_csv.read_tabular",
                "write_csv": "io_csv.write_csv",
            })
        workload = WORKLOADS[args.workload](work, args.seed)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        records = run_ops(workload, spark, tracer, args.seconds, jvm_pid)
    finally:
        _stop_session(spark)

    if args.trace:
        metrics = per_layer(records, tracer, workload)
    else:
        metrics = end_to_end(records, setup_s)

    record_dir = os.path.join(work, "records")
    os.makedirs(record_dir, exist_ok=True)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "setup_s": setup_s, "ops": records, "spans": tracer.spans,
              "burst_frac": host.BURST_FRAC}
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(record_dir, name), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    failed = sum(r["failed"] for r in records)
    for r in records:
        for p in ([r["error"]] if r["error"] else []) + r["problems"]:
            print(f"op {r['op']}: {p}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
