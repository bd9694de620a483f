"""Structured Streaming: the windowed-aggregation plan runs identically in
batch and under a real micro-batch readStream (file source → memory sink)."""

import pytest
from pyspark.sql import functions as F

from feldman_spark.streaming.events import (
    run_stream_to_memory,
    sessionize,
    sessionize_native,
    sliding_agg,
    stream_events,
    tumbling_agg,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    e = spark.read.parquet(f"{SF}/events.parquet")
    ts_type = dict(e.dtypes)["ts"]
    if ts_type == "bigint":
        e = e.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # Spark 4.1 parquet reader yields TIMESTAMP_NTZ; normalize to
        # TIMESTAMP so batch and watermarked-streaming plans agree
        e = e.withColumn("ts", F.col("ts").cast("timestamp"))
    return e.cache()


def test_tumbling_batch(spark, events):
    out = tumbling_agg(events).collect()
    assert len(out) > 0
    assert sum(r["n"] for r in out) == events.count()


def test_sliding_counts_double(spark, events):
    # each event lands in exactly len/slide = 2 windows
    out = sliding_agg(events).collect()
    assert sum(r["n"] for r in out) == 2 * events.count()


def test_sessionize_partitions_events(spark, events):
    sessions = sessionize(events, gap_minutes=30)
    assert sessions.agg(F.sum("n_events")).first()[0] == events.count()
    # session ids are 1..k contiguous per user
    per_user = sessions.groupBy("user_id").agg(
        F.min("session_id").alias("lo"), F.max("session_id").alias("hi"),
        F.count(F.lit(1)).alias("k"))
    bad = per_user.filter((F.col("lo") != 1) | (F.col("hi") != F.col("k"))).count()
    assert bad == 0


def test_sessionize_native_matches_lag_form(spark, events):
    """session_window sessionization agrees with the lag+cumsum batch
    formulation (the test data has no inter-event gap of exactly 30:00,
    the one instant where their boundary semantics differ)."""
    native = sessionize_native(events)
    legacy = sessionize(events, gap_minutes=30)
    assert native.agg(F.sum("n_events")).first()[0] == events.count()
    got = {(r["user_id"], r["session_start"]): (r["n_events"], r["value_sum"])
           for r in native.collect()}
    want = {(r["user_id"], r["session_start"]): (r["n_events"], r["value_sum"])
            for r in legacy.collect()}
    assert got == want


def test_sessionize_native_streaming_matches_batch(spark, events, tmp_out):
    """session_window under a real readStream: sessions merge in the state
    store across micro-batches and emit (append mode) only once the
    watermark passes their close. Run 1 ingests the real events (watermark
    wider than the data span, so nothing finalizes and nothing is dropped
    however the files are ordered); run 2 resumes from the checkpoint with
    a far-future sentinel event that pushes the watermark past every
    session close, flushing all finalized sessions to the file sink.
    Batch output of the identical plan is the oracle."""
    import shutil

    src = f"{tmp_out}/sess_native_src"
    ckpt = f"{tmp_out}/sess_native_ckpt"
    sink = f"{tmp_out}/sess_native_sink"
    for d in (src, ckpt, sink):
        shutil.rmtree(d, ignore_errors=True)
    events.repartition(4).write.mode("overwrite").parquet(src)

    def run_until_drained():
        q = (sessionize_native(stream_events(spark, src), watermark="45 days")
             .writeStream.format("parquet")
             .option("path", sink)
             .option("checkpointLocation", ckpt)
             .outputMode("append").start())
        q.processAllAvailable()
        q.stop()

    run_until_drained()

    max_ts = events.agg(F.max("ts")).first()[0]
    sentinel = spark.createDataFrame(
        [(10**9, max_ts, -1, "sentinel", 0.0, "{}")],
        spark.read.parquet(src).schema,
    )
    sentinel.withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 46 DAYS")
    ).repartition(1).write.mode("append").parquet(src)

    run_until_drained()

    out = spark.read.parquet(sink).filter(F.col("user_id") >= 0)
    got = {(r["user_id"], r["session_start"]): (r["n_events"], r["value_sum"])
           for r in out.collect()}
    want = {(r["user_id"], r["session_start"]): (r["n_events"], r["value_sum"])
            for r in sessionize_native(events).collect()}
    assert got == want


def test_streaming_matches_batch(spark, events, tmp_out):
    """Real readStream: write events to a parquet dir, stream it through
    the same tumbling plan with a watermark, compare to batch."""
    src_dir = f"{tmp_out}/stream_events_src"
    # several files → several micro-batches (maxFilesPerTrigger=1)
    events.repartition(4).write.mode("overwrite").parquet(src_dir)

    stream = stream_events(spark, src_dir)
    plan = tumbling_agg(stream, watermark="2 hours")
    run_stream_to_memory(plan, "t_stream", output_mode="complete")

    got = {(r["window_start"], r["event_type"]): (r["n"], r["value_sum"])
           for r in spark.sql("select * from t_stream").collect()}
    want = {(r["window_start"], r["event_type"]): (r["n"], r["value_sum"])
            for r in tumbling_agg(events).collect()}
    assert got == want


def test_stateful_streaming_dedup(spark, events, tmp_out):
    """applyInPandasWithState dedup: the same events fed twice across
    micro-batches emit exactly once; batch distinct is the oracle."""
    from feldman_spark.streaming.stateful import streaming_dedup
    from feldman_spark.streaming.events import stream_events, run_stream_to_memory

    src = f"{tmp_out}/stateful_src"
    sample = events.filter(F.col("event_id") < 200).select(
        "event_id", "event_type", "user_id")
    # the same rows written twice -> duplicates arrive in later micro-batches
    sample.repartition(2).write.mode("overwrite").parquet(src)
    sample.repartition(3).write.mode("append").parquet(src)

    stream = stream_events(spark, src)
    out = streaming_dedup(stream, key_col="event_id")
    run_stream_to_memory(out, "dedup_stream", output_mode="append")

    got = spark.sql("select * from dedup_stream")
    assert got.count() == sample.count()  # each event_id exactly once
    assert got.select("event_id").distinct().count() == sample.count()

    # duplicates arriving in the SAME micro-batch are counted at emission
    # (cross-batch dupes update state after the append-mode emission)
    src2 = f"{tmp_out}/stateful_src_onebatch"
    sample.unionByName(sample).repartition(1).write.mode("overwrite").parquet(src2)
    out2 = streaming_dedup(stream_events(spark, src2), key_col="event_id")
    run_stream_to_memory(out2, "dedup_stream2", output_mode="append")
    got2 = spark.sql("select * from dedup_stream2")
    assert got2.count() == sample.count()
    assert got2.agg(F.sum("n_dupes")).first()[0] == sample.count()


def test_stateful_running_totals(spark, events, tmp_out):
    from feldman_spark.streaming.stateful import streaming_running_totals
    from feldman_spark.streaming.events import stream_events, run_stream_to_memory

    src = f"{tmp_out}/totals_src"
    sample = events.filter(F.col("event_id") < 500).select("user_id", "value")
    sample.repartition(4).write.mode("overwrite").parquet(src)

    stream = stream_events(spark, src)
    out = streaming_running_totals(stream)
    run_stream_to_memory(out, "totals_stream", output_mode="update")

    # last update per key must equal the batch aggregate
    import pandas as pd
    updates = spark.sql("select * from totals_stream").toPandas()
    final = updates.groupby("user_id").last()
    batch = sample.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("s")).collect()
    for r in batch:
        assert final.loc[r["user_id"], "n_events"] == r["n"]
        assert abs(float(final.loc[r["user_id"], "value_sum"]) - r["s"]) < 1e-6


def test_running_totals_native_matches_batch(spark, events, tmp_out):
    """The update-mode groupBy/agg twin (JVM state store): final emission
    per key equals the batch aggregate, and the run is genuinely
    multi-micro-batch (some key updates more than once)."""
    from feldman_spark.streaming.events import (
        run_stream_to_memory, running_totals_native, stream_events)

    src = f"{tmp_out}/totals_native_src"
    sample = events.filter(F.col("event_id") < 500).select("user_id", "value")
    sample.repartition(4).write.mode("overwrite").parquet(src)

    run_stream_to_memory(
        running_totals_native(stream_events(spark, src)),
        "totals_native_stream", output_mode="update")
    updates = spark.sql("select * from totals_native_stream").toPandas()
    # multi-batch statefulness: at least one key emitted multiple updates
    assert updates.groupby("user_id").size().max() > 1
    final = updates.sort_values("n_events").groupby("user_id").last()
    batch = sample.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("s")).collect()
    assert len(final) == len(batch)
    for r in batch:
        assert final.loc[r["user_id"], "n_events"] == r["n"]
        assert abs(float(final.loc[r["user_id"], "value_sum"]) - r["s"]) < 1e-6


def test_streaming_splice_export(spark, tmp_out, ref_testdata):
    """E2 under readStream: the splice export is stateless broadcast joins,
    so the same plan splices a live measurement stream micro-batch by
    micro-batch; batch output is the oracle."""
    import os
    from feldman_spark.engine import (
        export_measurement_frames, load_affine, load_measurement, load_sit)
    from feldman_spark.streaming.events import run_stream_to_memory

    from conftest import GOLDEN as golden
    if not os.path.exists(f"{golden}/our_affine.csv"):
        import pytest
        pytest.skip("golden outputs not generated yet")

    depth = "Sediment Depth, unscaled (MBS / CSF-A)"
    md = load_measurement(spark, f"{ref_testdata}/GLAD9_Site1_XRF.csv", depth)
    src = f"{tmp_out}/md_stream_src"
    md.repartition(4).write.mode("overwrite").parquet(src)

    from feldman_spark.formats.registry import SIT_FORMAT
    from feldman_spark.io.csv import read_tabular

    affine = load_affine(spark, f"{golden}/our_affine.csv")
    # load the SIT without the _idx order column: its
    # monotonically_increasing_id expression is rejected by streaming plans
    # even when dropped (the check runs before column pruning), and the
    # export never uses it
    sit = read_tabular(spark, f"{golden}/our_sit.csv", SIT_FORMAT)

    batch_out = export_measurement_frames(
        spark.read.parquet(src), affine, sit, depth).spliced
    want = batch_out.groupBy("On-Splice").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("Splice Depth"), 2).alias("sd"))
    want_rows = {r["On-Splice"]: (r["n"], r["sd"]) for r in want.collect()}

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    stream_out = export_measurement_frames(stream, affine, sit, depth).spliced
    agg = stream_out.groupBy("On-Splice").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("Splice Depth"), 2).alias("sd"))
    run_stream_to_memory(agg, "splice_stream", output_mode="complete")
    got_rows = {r["On-Splice"]: (r["n"], r["sd"])
                for r in spark.sql("select * from splice_stream").collect()}
    assert got_rows == want_rows
    assert got_rows["splice"][0] > 0 and got_rows["off-splice"][0] > 0


def test_stateful_dedup_survives_restart(spark, events, tmp_out):
    """Checkpointed state survives a query restart: keys emitted before the
    stop are still suppressed when the query resumes on new data."""
    import shutil
    from feldman_spark.streaming.stateful import streaming_dedup
    from feldman_spark.streaming.events import stream_events

    src = f"{tmp_out}/restart_src"
    ckpt = f"{tmp_out}/restart_ckpt"
    sink = f"{tmp_out}/restart_sink"
    for d in (src, ckpt, sink):
        shutil.rmtree(d, ignore_errors=True)

    first = events.filter(F.col("event_id") < 100).select(
        "event_id", "event_type", "user_id")
    first.repartition(1).write.parquet(src)

    def run_until_drained():
        # memory sinks cannot recover from checkpoints; use the
        # fault-tolerant file sink, as production would
        stream = stream_events(spark, src)
        q = (streaming_dedup(stream, key_col="event_id")
             .writeStream.format("parquet")
             .option("path", sink)
             .option("checkpointLocation", ckpt)
             .outputMode("append").start())
        q.processAllAvailable()
        q.stop()

    run_until_drained()
    assert spark.read.parquet(sink).count() == 100

    # new data: 100 duplicates of already-seen keys + 50 new keys
    fresh = events.filter(F.col("event_id").between(100, 149)).select(
        "event_id", "event_type", "user_id")
    first.unionByName(fresh).repartition(1).write.mode("append").parquet(src)

    run_until_drained()
    # the resumed query (same checkpoint) emitted ONLY the 50 fresh keys
    out = spark.read.parquet(sink)
    assert out.count() == 150
    assert out.select("event_id").distinct().count() == 150
    new_ids = sorted(r["event_id"] for r in
                     out.filter(F.col("event_id") >= 100).collect())
    assert new_ids == list(range(100, 150))


def test_sessionize_native_drops_late_events(spark, events, tmp_out):
    """An event older than watermark - delay must be DROPPED by the
    streaming sessionizer (never reach state, never emit), while the
    batch twin — which sees everything — sessionizes it. This pins the
    late-data semantics the watermark exists for."""
    import shutil

    src = f"{tmp_out}/late_sess_src"
    ckpt = f"{tmp_out}/late_sess_ckpt"
    sink = f"{tmp_out}/late_sess_sink"
    for d in (src, ckpt, sink):
        shutil.rmtree(d, ignore_errors=True)
    schema = events.schema

    base = events.agg(F.min("ts")).first()[0]

    def mk(rows):
        return spark.createDataFrame(rows, schema)

    # file 1: one user-1 session + a far-future sentinel that pushes the
    # watermark (1 hour delay) ~10 days past the session's close
    on_time = mk([(1, base, 1, "click", 1.0, "{}"),
                  (2, base, 1, "click", 1.0, "{}")]) \
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 5 MINUTES") * (F.col("event_id") - 1))
    sentinel = mk([(999, base, -1, "sentinel", 0.0, "{}")]) \
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 10 DAYS"))
    on_time.unionByName(sentinel).repartition(1).write.parquet(src)

    def run_until_drained():
        q = (sessionize_native(stream_events(spark, src), watermark="1 hour")
             .writeStream.format("parquet")
             .option("path", sink)
             .option("checkpointLocation", ckpt)
             .outputMode("append").start())
        q.processAllAvailable()
        q.stop()

    run_until_drained()
    flushed = spark.read.parquet(sink).filter(F.col("user_id") == 1)
    assert flushed.count() == 1  # the on-time session finalized and flushed

    # file 2: a LATE user-2 event back at base time — ~10 days behind the
    # established watermark. If accepted it would form a (already-closed)
    # session and flush immediately; it must instead be dropped.
    late = mk([(3, base, 2, "late", 1.0, "{}")])
    late.repartition(1).write.mode("append").parquet(src)
    run_until_drained()

    out = spark.read.parquet(sink)
    assert out.filter(F.col("user_id") == 2).count() == 0  # late row dropped

    # the batch twin (no watermark) DOES sessionize the late event
    everything = on_time.unionByName(sentinel).unionByName(late)
    batch = sessionize_native(everything)
    assert batch.filter(F.col("user_id") == 2).count() == 1


def test_streaming_dedup_drops_late_events(spark, events, tmp_out):
    """streaming_dedup with a watermark: a row whose event time is behind
    watermark - delay is filtered before keyed state — a NEW key arriving
    that late is not emitted (batch distinct would keep it)."""
    import shutil
    from feldman_spark.streaming.stateful import streaming_dedup

    src = f"{tmp_out}/late_dedup_src"
    ckpt = f"{tmp_out}/late_dedup_ckpt"
    sink = f"{tmp_out}/late_dedup_sink"
    for d in (src, ckpt, sink):
        shutil.rmtree(d, ignore_errors=True)
    schema = events.schema
    base = events.agg(F.min("ts")).first()[0]

    def mk(rows):
        return spark.createDataFrame(rows, schema)

    on_time = mk([(i, base, i, "click", 1.0, "{}") for i in range(1, 11)])
    sentinel = mk([(999, base, -1, "sentinel", 0.0, "{}")]) \
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 10 DAYS"))
    on_time.unionByName(sentinel).repartition(1).write.parquet(src)

    def run_until_drained():
        stream = stream_events(spark, src)
        q = (streaming_dedup(stream, key_col="event_id", watermark="1 hour")
             .writeStream.format("parquet")
             .option("path", sink)
             .option("checkpointLocation", ckpt)
             .outputMode("append").start())
        q.processAllAvailable()
        q.stop()

    run_until_drained()
    assert spark.read.parquet(sink).count() == 11  # 10 keys + sentinel

    # a brand-new key, ~10 days behind the watermark: must be dropped,
    # not emitted
    late = mk([(42, base, 42, "late", 1.0, "{}")])
    late.repartition(1).write.mode("append").parquet(src)
    run_until_drained()

    out = spark.read.parquet(sink)
    assert out.filter(F.col("event_id") == 42).count() == 0
    assert out.count() == 11
    # batch twin keeps it: dedup over the full data has the key
    assert on_time.unionByName(late).select("event_id").distinct().count() == 11


def test_incremental_ingest_exactly_once(spark, tmp_out):
    """Two ingest runs over a growing directory: the second processes
    only the new files (checkpointed file list), the transform applies
    per batch, and nothing is double-counted."""
    import shutil

    from feldman_spark.streaming.ingest import incremental_ingest

    base = f"{tmp_out}/ingest"
    shutil.rmtree(base, ignore_errors=True)
    src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ckpt"

    docs1 = spark.createDataFrame(
        [(i, f"doc number {i} body " + "x " * (i % 5)) for i in range(100)],
        "doc_id long, text string")
    docs1.write.parquet(src)  # initial corpus

    keep_even = lambda df: df.filter(F.col("doc_id") % 2 == 0)
    incremental_ingest(spark, src, out, ckpt, transform=keep_even)
    first = spark.read.parquet(out)
    assert first.count() == 50
    assert first.agg(F.max("doc_id")).first()[0] == 98

    docs2 = spark.createDataFrame(
        [(i, f"doc number {i}") for i in range(100, 140)],
        "doc_id long, text string")
    docs2.write.mode("append").parquet(src)  # corpus grows

    incremental_ingest(spark, src, out, ckpt, transform=keep_even)
    second = spark.read.parquet(out)
    assert second.count() == 50 + 20  # only the 40 new docs processed
    assert second.filter(F.col("doc_id") < 100).count() == 50  # no re-ingest


def test_interval_join_streaming_matches_batch(spark, events, tmp_out):
    """Stream-stream interval join under TWO real readStream sources:
    views and clicks arrive as separate file streams, both watermarked;
    matches emit (append) once both watermarks pass the match window.
    Run 1 ingests the real events; run 2 appends a far-future sentinel
    on BOTH sides to push both watermarks past every real event, flushing
    all remaining buffered matches. Batch output of the identical plan is
    the oracle."""
    import shutil

    from feldman_spark.streaming.events import interval_join

    v_src = f"{tmp_out}/ij_views_src"
    c_src = f"{tmp_out}/ij_clicks_src"
    ckpt = f"{tmp_out}/ij_ckpt"
    sink = f"{tmp_out}/ij_sink"
    for d in (v_src, c_src, ckpt, sink):
        shutil.rmtree(d, ignore_errors=True)

    views = events.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"))
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"))
    views.repartition(3).write.mode("overwrite").parquet(v_src)
    clicks.repartition(3).write.mode("overwrite").parquet(c_src)

    def run_until_drained():
        joined = interval_join(
            stream_events(spark, v_src), stream_events(spark, c_src),
            key="user_id", left_ts="view_ts", right_ts="click_ts",
            within="5 minutes", watermark="45 days")
        q = (joined.select("user_id", "view_id", "click_id")
             .writeStream.format("parquet")
             .option("path", sink)
             .option("checkpointLocation", ckpt)
             .outputMode("append").start())
        q.processAllAvailable()
        q.stop()

    run_until_drained()

    far = F.expr("INTERVAL 92 DAYS")
    (views.limit(1).withColumn("view_ts", F.col("view_ts") + far)
     .withColumn("user_id", F.lit(-1).cast("long"))
     .repartition(1).write.mode("append").parquet(v_src))
    (clicks.limit(1).withColumn("click_ts", F.col("click_ts") + far)
     .withColumn("user_id", F.lit(-1).cast("long"))
     .repartition(1).write.mode("append").parquet(c_src))

    run_until_drained()

    got = {(r["user_id"], r["view_id"], r["click_id"])
           for r in spark.read.parquet(sink).filter(
               F.col("user_id") >= 0).collect()}
    want = {(r["user_id"], r["view_id"], r["click_id"])
            for r in interval_join(
                views, clicks, key="user_id", left_ts="view_ts",
                right_ts="click_ts", within="5 minutes").collect()}
    assert want, "batch twin produced no matches — fixture too sparse"
    assert got == want


def test_interval_join_drops_late_events(spark, events, tmp_out):
    """A click older than the click-side watermark when it arrives is
    dropped by the stream-stream join even though the batch twin (which
    sees everything) matches it."""
    import shutil

    from feldman_spark.streaming.events import interval_join

    v_src = f"{tmp_out}/ijl_views_src"
    c_src = f"{tmp_out}/ijl_clicks_src"
    ckpt = f"{tmp_out}/ijl_ckpt"
    sink = f"{tmp_out}/ijl_sink"
    for d in (v_src, c_src, ckpt, sink):
        shutil.rmtree(d, ignore_errors=True)

    views = events.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"))
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"))
    views.repartition(2).write.mode("overwrite").parquet(v_src)
    clicks.repartition(2).write.mode("overwrite").parquet(c_src)

    def run_until_drained(watermark):
        joined = interval_join(
            stream_events(spark, v_src), stream_events(spark, c_src),
            key="user_id", left_ts="view_ts", right_ts="click_ts",
            within="5 minutes", watermark=watermark)
        q = (joined.select("user_id", "view_id", "click_id")
             .writeStream.format("parquet")
             .option("path", sink)
             .option("checkpointLocation", ckpt)
             .outputMode("append").start())
        q.processAllAvailable()
        q.stop()

    # tight watermark; first run advances both watermarks to (max ts - 1h)
    run_until_drained("1 hour")

    # a late click: pairs with an early view, but arrives after the
    # watermark has moved past it — the join must drop it
    first = (views.orderBy("view_ts").limit(1)
             .withColumn("user_id", F.lit(7777).cast("long")))
    first.write.mode("append").parquet(v_src)  # late view side too
    late_click = (first.select(
        F.col("user_id"),
        (F.col("view_id") + 10**9).alias("click_id"),
        (F.col("view_ts") + F.expr("INTERVAL 1 MINUTE")).alias("click_ts")))
    late_click.write.mode("append").parquet(c_src)
    run_until_drained("1 hour")

    got = spark.read.parquet(sink)
    assert got.filter(F.col("user_id") == 7777).count() == 0, \
        "late pair must be dropped by the watermark"


def test_stream_static_enrich_matches_batch(spark, events, tmp_out):
    """Stream-static join: the event stream enriched against a static
    dimension must emit exactly the batch join, and the static side must
    broadcast (stateless join — no watermark required)."""
    from feldman_spark.streaming.events import enrich, stream_events, \
        run_stream_to_memory

    dim = spark.createDataFrame(
        [(i, f"name_{i}", i % 5) for i in range(200)],
        ["c_custkey", "c_name", "c_nationkey"])

    src_dir = f"{tmp_out}/enrich_src"
    ev = events.select("event_id", "user_id", "value").limit(500)
    ev.repartition(3).write.mode("overwrite").parquet(src_dir)
    batch_src = spark.read.parquet(src_dir)

    stream = stream_events(spark, src_dir)
    plan = enrich(stream.select("event_id", "user_id", "value"), dim,
                  on="user_id", dim_key="c_custkey",
                  dim_cols=["c_name", "c_nationkey"])
    run_stream_to_memory(plan, "enrich_stream", output_mode="append")

    got = sorted(map(tuple, spark.sql("select * from enrich_stream").collect()))
    want = sorted(map(tuple, enrich(
        batch_src, dim, on="user_id", dim_key="c_custkey",
        dim_cols=["c_name", "c_nationkey"]).collect()))
    assert got == want and len(got) == 500

    # posture: the dimension side broadcasts in the batch twin's plan
    plan_str = enrich(batch_src, dim, on="user_id", dim_key="c_custkey",
                      dim_cols=["c_name"])._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_str


def test_native_stream_dedup_suppresses_cross_batch_copies(spark, events, tmp_out):
    """dropDuplicatesWithinWatermark over a real two-batch stream: copies
    in later micro-batches are suppressed while the horizon holds."""
    from feldman_spark.streaming.events import (
        dedup_native, run_stream_to_memory, stream_events)

    src = f"{tmp_out}/native_dedup_src"
    e = events.select("event_id", "event_type", "user_id", "ts").limit(1000)
    dups = e.limit(200)  # byte-identical copies
    e.unionByName(dups).repartition(3, F.col("event_id")).write.mode(
        "overwrite").parquet(src)

    stream = stream_events(spark, src)
    out = dedup_native(stream, keys=["event_id"], watermark="90 days")
    run_stream_to_memory(out, "native_dedup_sink", output_mode="append")

    got = spark.sql("select * from native_dedup_sink")
    assert got.count() == 1000                      # copies suppressed
    assert got.select("event_id").distinct().count() == 1000
    want = sorted(map(tuple, e.collect()))
    assert sorted(map(tuple, got.select(*e.columns).collect())) == want


def test_streaming_jsonl_ingest_with_corrupt_sideoutput(spark, tmp_out):
    """JSONL ingestion under readStream: the same schema-first
    from_json split as io/jsonl.py::read_jsonl, driven through real
    micro-batches — clean rows append to the sink, corrupt lines are
    counted per batch instead of killing the stream."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    src = f"{tmp_out}/stream_jsonl_src"
    os.makedirs(src, exist_ok=True)
    for fi in range(3):
        with open(f"{src}/part{fi}.jsonl", "w") as f:
            for i in range(100):
                f.write(_json.dumps({"doc_id": fi * 100 + i, "text": f"d{i}"}) + "\n")
            f.write("not json at all\n")

    from pyspark.sql.types import StringType, StructType
    full = (StructType.fromDDL("doc_id LONG, text STRING")
            .add("_cr", StringType()))
    stream = (spark.readStream.format("text")
              .option("maxFilesPerTrigger", 1).load(src)
              .filter(F.trim("value") != "")
              .select(F.from_json("value", full,
                                  {"columnNameOfCorruptRecord": "_cr"})
                      .alias("_rec"))
              .select("_rec.*"))
    clean = stream.filter(F.col("_cr").isNull()).drop("_cr")

    from feldman_spark.streaming.events import run_stream_to_memory
    run_stream_to_memory(clean, "jsonl_clean_sink", output_mode="append")
    got = spark.sql("select * from jsonl_clean_sink")
    assert got.count() == 300
    assert got.select("doc_id").distinct().count() == 300


def test_session_stats_rollup(spark):
    import datetime as dt

    from feldman_spark.streaming.events import session_stats

    t0 = dt.datetime(2024, 1, 1)

    def ev(uid, mins):
        return (uid, t0 + dt.timedelta(minutes=mins), 1.0)

    events = spark.createDataFrame(
        [
            # user 1: two sessions — [0, 10, 20] (20 min) and [70] (bounce)
            ev(1, 0), ev(1, 10), ev(1, 20), ev(1, 70),
            # user 2: one session [5, 15] (10 min)
            ev(2, 5), ev(2, 15),
        ],
        ["user_id", "ts", "value"],
    )
    row = session_stats(events, gap_minutes=30,
                        quantiles=(0.5,)).collect()[0]
    assert row["n_sessions"] == 3 and row["n_users"] == 2
    assert row["bounce_rate"] == round(1 / 3, 6)
    assert row["avg_events"] == 2.0
    assert row["p50_duration_s"] == 600.0   # durations 1200, 0, 600
