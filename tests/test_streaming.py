"""Streaming semantics + lifecycle tests — the scenarios of the reference's
FilterStreamingTest/JoinStreamingTest (SURVEY §5.1) on Structured Streaming:
windowed emission, RAW limit-done, duration expiry, kill signal, rate limit,
record windows."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from bullet_spark_spark.functions.exprs import E
from bullet_spark_spark.plans import (
    AggOp,
    GroupAgg,
    Projection,
    Query,
    RawAgg,
    Window,
    WindowUnit,
)
from bullet_spark_spark.sources.streaming import file_drip
from bullet_spark_spark.streaming import EngineRuntime, QueryState, Signal
from bullet_spark_spark.streaming.runtime import RateLimit
from bullet_spark_spark.streaming.windows import record_window_count


@pytest.fixture()
def runtime(spark):
    rt = EngineRuntime(spark)
    yield rt
    rt.stop_all()


def _events_stream(spark, tables, tmp_path, chunks=4):
    return file_drip(spark, tables["events"], str(tmp_path), chunks=chunks)


def test_group_agg_drain(spark, tables, tmp_path, runtime):
    """Windowed group aggregation over a drained stream matches batch
    (the reference's combine-then-compare pattern, FilterStreamingTest.scala:82-85)."""
    stream = _events_stream(spark, tables, tmp_path)
    spec = Query(
        source="events",
        filter=E.f("value") > 50,
        aggregation=GroupAgg(
            fields=["event_type"],
            operations=[(AggOp.COUNT, None, "cnt"), (AggOp.SUM, "value", "sv")],
        ),
    )
    handle = runtime.run_available(spec, stream, checkpoint_dir=str(tmp_path / "ck"))
    assert handle.state is QueryState.COMPLETED
    # update mode re-emits changed groups per batch; last emission per key wins
    final = {}
    for batch in handle.sink.batches:
        for row in batch:
            final[row[0]] = row
    batch_rows = {
        r["event_type"]: (r["event_type"], r["cnt"], r["sv"])
        for r in tables["events"]
        .filter(F.col("value") > 50)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv"))
        .collect()
    }
    assert set(final) == set(batch_rows)
    for k, row in final.items():
        assert row[1] == batch_rows[k][1]
        assert abs(row[2] - batch_rows[k][2]) < 1e-6


def test_event_time_tumbling_window(spark, tables, tmp_path, runtime):
    """W3: event-time tumbling window emits per-window groups."""
    stream = _events_stream(spark, tables, tmp_path)
    spec = Query(
        source="events",
        aggregation=GroupAgg(fields=[], operations=[(AggOp.COUNT, None, "cnt")]),
        window=Window(
            emit_every=3_600_000,
            emit_unit=WindowUnit.TIME,
            event_time_field="ts",
        ),
    )
    handle = runtime.run_available(spec, stream, checkpoint_dir=str(tmp_path / "ck"))
    final = {}
    for batch in handle.sink.batches:
        for row in batch:
            final[row[0]] = row[1]
    expected = {
        r["window_start"]: r["cnt"]
        for r in tables["events"]
        .groupBy(F.window("ts", "1 hour")["start"].alias("window_start"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert final == expected


def test_event_time_hopping_window(spark, tables, tmp_path, runtime):
    """r9 capability upgrade: HOPPING windows (slide_every < emit_every)
    stream-drain to the same per-window groups the batch plan computes —
    each event in exactly dur/slide overlapping windows."""
    stream = _events_stream(spark, tables, tmp_path)
    spec = Query(
        source="events",
        aggregation=GroupAgg(fields=[], operations=[(AggOp.COUNT, None, "cnt")]),
        window=Window(
            emit_every=3_600_000,
            emit_unit=WindowUnit.TIME,
            slide_every=1_800_000,
            event_time_field="ts",
        ),
    )
    handle = runtime.run_available(spec, stream, checkpoint_dir=str(tmp_path / "ck"))
    final = {}
    for batch in handle.sink.batches:
        for row in batch:
            final[row[0]] = row[1]
    expected = {
        r["window_start"]: r["cnt"]
        for r in tables["events"]
        .groupBy(
            F.window("ts", "1 hour", "30 minutes")["start"].alias("window_start")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert final == expected
    # every event is in exactly 2 windows: total count doubles tumbling's
    assert sum(final.values()) == 2 * tables["events"].count()


def test_hopping_window_validation():
    """slide_every is TIME-only and must not exceed the window."""
    base = dict(
        source="events",
        aggregation=GroupAgg(fields=[], operations=[(AggOp.COUNT, None, "cnt")]),
    )
    bad_unit = Query(
        **base,
        window=Window(emit_every=10, emit_unit=WindowUnit.RECORD, slide_every=5),
    )
    assert any("TIME window" in e for e in bad_unit.validate())
    too_big = Query(
        **base,
        window=Window(
            emit_every=600_000,
            emit_unit=WindowUnit.TIME,
            slide_every=900_000,
            event_time_field="ts",
        ),
    )
    assert any("slide_every" in e for e in too_big.validate())
    ok = Query(
        **base,
        window=Window(
            emit_every=600_000,
            emit_unit=WindowUnit.TIME,
            slide_every=300_000,
            event_time_field="ts",
        ),
    )
    assert ok.validate() == []


def test_watermark_eviction_plan(spark, tables, tmp_path):
    """W5: a declared watermark compiles to an EventTimeWatermark node over
    an event-time window group (state eviction engages); without it the
    window agg is exact with unbounded state."""
    from bullet_spark_spark.plans import compile_query
    from bullet_spark_spark.sources.streaming import file_drip

    stream = file_drip(spark, tables["events"], str(tmp_path), chunks=2)
    spec = Query(
        source="events",
        aggregation=GroupAgg(fields=[], operations=[(AggOp.COUNT, None, "cnt")]),
        window=Window(
            emit_every=3_600_000,
            emit_unit=WindowUnit.TIME,
            event_time_field="ts",
            watermark_delay_ms=7_200_000,
        ),
    )
    df = compile_query(spark, spec, df=stream, streaming=True)
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in plan
    assert "window" in plan
    assert df.columns[0] == "window_start"


def test_raw_limit_done(spark, tables, tmp_path, runtime):
    """Q3/Q16: RAW completes once limit records emitted (ref
    JoinStreamingTest.scala:55-67 — query done after 2 records)."""
    stream = _events_stream(spark, tables, tmp_path, chunks=8)
    spec = Query(
        source="events",
        projection=Projection(fields=[("event_id", E.f("event_id"))]),
        aggregation=RawAgg(limit=5),
    )
    handle = runtime.register(spec, stream, trigger_ms=100)
    deadline = time.time() + 60
    while handle.is_active() and time.time() < deadline:
        time.sleep(0.2)
    assert handle.state is QueryState.COMPLETED
    assert len(handle.sink.rows) == 5
    assert (handle.query_id, Signal.COMPLETE) in [(q, s) for q, s, _ in runtime.status_log]


def test_duration_expiry(spark, tables, tmp_path, runtime):
    """Q15: query completes after its wall-clock duration (ref isTimedOut,
    QueryDataUnioning.scala:71)."""
    stream = _events_stream(spark, tables, tmp_path)
    spec = Query(
        source="events",
        aggregation=GroupAgg(fields=["event_type"], operations=[(AggOp.COUNT, None, "cnt")]),
        # 5 s, not 1.5 s: the duration must outlive FIRST-batch latency
        # (file-index + scan warmup, multi-second on a loaded host) or the
        # query legitimately expires with zero emissions and the one-shot
        # final_result contract below has nothing to check (r9 flake)
        duration_ms=5000,
    )
    handle = runtime.register(spec, stream, trigger_ms=100)
    deadline = time.time() + 60
    while handle.is_active() and time.time() < deadline:
        time.sleep(0.2)
    assert handle.state is QueryState.COMPLETED
    assert 1.0 <= time.time() - handle.started_at < 30
    # W1 one-shot semantics: final_result is the last non-empty emission
    final = handle.final_result()
    assert final and all(len(r) == 2 for r in final)


def test_kill_signal(spark, tables, tmp_path, runtime):
    """W8: external KILL stops the query and logs the signal (ref
    JoinStreamingTest.scala:127-162)."""
    stream = _events_stream(spark, tables, tmp_path)
    spec = Query(
        source="events",
        aggregation=GroupAgg(fields=["event_type"], operations=[(AggOp.COUNT, None, "cnt")]),
    )
    handle = runtime.register(spec, stream, trigger_ms=100)
    assert handle.is_active()
    # duplicate registration with the same id returns the live handle
    # (ref query dedup, QueryDataUnioning.scala:60-83)
    dup = runtime.register(spec, stream, query_id=handle.query_id)
    assert dup is handle
    runtime.kill(handle.query_id)
    assert handle.state is QueryState.KILLED
    assert (handle.query_id, Signal.KILL) in [(q, s) for q, s, _ in runtime.status_log]
    # duplicate signal is idempotent (ref JoinStreamingTest.scala:205-221)
    runtime.kill(handle.query_id)
    assert [s for q, s, _ in runtime.status_log if q == handle.query_id] == [Signal.KILL]


def test_rate_limit_fail(spark, tables, tmp_path, runtime):
    """W9: emit-rate violation fails the query (ref RateLimitError,
    FilterStreamingTest.scala:277-309)."""
    stream = _events_stream(spark, tables, tmp_path, chunks=8)
    spec = Query(
        source="events",
        aggregation=GroupAgg(fields=["event_type"], operations=[(AggOp.COUNT, None, "cnt")]),
    )
    handle = runtime.register(
        spec, stream, trigger_ms=100, rate_limit=RateLimit(max_emits=2, interval_ms=60_000)
    )
    deadline = time.time() + 60
    while handle.is_active() and time.time() < deadline:
        time.sleep(0.2)
    assert handle.state is QueryState.FAILED
    assert "rate limit" in (handle.error or "")
    assert (handle.query_id, Signal.FAIL) in [(q, s) for q, s, _ in runtime.status_log]


def test_streaming_topk_and_count_distinct(spark, tables, tmp_path, runtime):
    """TOP K and COUNT DISTINCT on the streaming path (complete/update
    modes) converge to the batch answers after drain."""
    from bullet_spark_spark.plans import CountDistinctAgg, TopKAgg

    stream = _events_stream(spark, tables, tmp_path)
    topk = runtime.run_available(
        Query(source="events", aggregation=TopKAgg(fields=["event_type"], k=3, name="cnt")),
        stream,
        checkpoint_dir=str(tmp_path / "ck_topk"),
    )
    expected = [
        (r["event_type"], r["cnt"])
        for r in tables["events"]
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("event_type"))
        .limit(3)
        .collect()
    ]
    assert topk.final_result() == expected

    stream2 = file_drip(spark, tables["events"], str(tmp_path / "s2"), chunks=4)
    cd = runtime.run_available(
        Query(source="events", aggregation=CountDistinctAgg(fields=["user_id"], name="cd")),
        stream2,
        checkpoint_dir=str(tmp_path / "ck_cd"),
    )
    # streaming COUNT DISTINCT runs in sketch mode (exact distinct is not a
    # streaming plan node) — tolerance check, bullet's own estimate regime
    exact = tables["events"].select("user_id").distinct().count()
    assert abs(cd.final_result()[0][0] - exact) / exact < 0.05


def test_streaming_cdf_sink_side(spark, tables, tmp_path, runtime):
    """Q9 streaming: CDF = PMF in complete mode + sink-side cumulative sum;
    final emission matches the batch CDF."""
    from bullet_spark_spark.plans import DistributionAgg, DistributionType

    stream = _events_stream(spark, tables, tmp_path)
    spec = Query(
        source="events",
        aggregation=DistributionAgg(
            type=DistributionType.CDF, field="value", start=0.0, end=100.0, num_buckets=4
        ),
    )
    handle = runtime.register(spec, stream, trigger_ms=150)
    deadline = time.time() + 90
    total = tables["events"].filter(F.col("value").isNotNull()).count()
    while time.time() < deadline:
        final = handle.final_result()
        if final and final[-1][1] == total:
            break
        time.sleep(0.3)
    runtime.kill(handle.query_id)
    batch = {
        r["bucket"]: r["cum_count"]
        for r in __import__("bullet_spark_spark.plans", fromlist=["compile_query"])
        .compile_query(spark, spec)
        .collect()
    }
    got = dict(handle.final_result())
    assert got == batch


def test_stream_natural_drain_reconciles_state(spark, tables, tmp_path, runtime):
    """A registered query whose stream terminates on its own (availableNow
    drain) must be reconciled to COMPLETED, not left RUNNING forever."""
    stream = _events_stream(spark, tables, tmp_path)
    spec = Query(
        source="events",
        aggregation=GroupAgg(fields=["event_type"], operations=[(AggOp.COUNT, None, "cnt")]),
    )
    # register() normally uses a processing-time trigger; simulate a dying
    # stream by stopping it out-of-band and letting the sweeper reconcile
    handle = runtime.register(spec, stream, trigger_ms=100)
    handle.stream.stop()
    deadline = time.time() + 30
    while handle.is_active() and time.time() < deadline:
        time.sleep(0.2)
    assert handle.state is QueryState.COMPLETED


def test_record_window(spark, tables, tmp_path):
    """W2: record-granularity window emits once per N records with reset
    (ref FilterStreamingTest.scala:267-274: 2 records → 2 emissions)."""
    stream = file_drip(spark, tables["events"].limit(100), str(tmp_path), chunks=4)
    windowed = record_window_count(stream.filter(F.col("value") > 0), every_n=10, value_col="value")
    from bullet_spark_spark.streaming.sinks import MemorySink

    sink = MemorySink()
    q = (
        windowed.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck_rw"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = sorted(sink.rows, key=lambda r: r[0])  # (window_idx, cnt, sum_value)
    n_match = tables["events"].limit(100).filter(F.col("value") > 0).count()
    assert len(rows) == n_match // 10
    assert all(r[1] == 10 for r in rows)  # every window exactly N records
    assert [r[0] for r in rows] == list(range(len(rows)))  # contiguous windows


def test_record_window_per_key(spark, tables, tmp_path):
    """W2 variant that scales: per-key record windows — each key gets its own
    counter state partition."""
    from bullet_spark_spark.streaming.sinks import MemorySink

    ev = tables["events"].limit(300).select("event_type", "value")
    stream = file_drip(spark, ev, str(tmp_path), chunks=3)
    windowed = record_window_count(stream, every_n=20, key_cols=["event_type"])
    sink = MemorySink()
    q = (
        windowed.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck_rwk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    per_key = {}
    for et, widx, cnt in sink.rows:  # (event_type, window_idx, cnt)
        per_key.setdefault(et, []).append((widx, cnt))
    expected = {
        r["event_type"]: r["n"] // 20
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for et, n_windows in expected.items():
        got = sorted(per_key.get(et, []))
        assert len(got) == n_windows, et
        assert all(c == 20 for _, c in got)
        assert [w for w, _ in got] == list(range(n_windows))


def test_final_result_merges_update_mode_groups(spark):
    """W1 one-shot result for update-mode group aggs merges across ALL
    emissions keyed by group — groups last updated in an early micro-batch
    must not be dropped."""
    from bullet_spark_spark.streaming.runtime import QueryHandle
    from bullet_spark_spark.streaming.sinks import MemorySink

    spec = Query(
        source="events",
        aggregation=GroupAgg(fields=["k"], operations=[(AggOp.COUNT, None, "c")]),
    )
    h = QueryHandle(query_id="q", spec=spec, sink=MemorySink())
    h.sink.batches.extend([[("a", 1), ("b", 5)], [("a", 3)]])
    assert h.final_result() == [("a", 3), ("b", 5)]


def test_streaming_dedup_key_only(spark, tables, tmp_path):
    """Watermarked streaming dedup is keyed on key_cols ONLY: the same key
    arriving with different event times within the watermark is still a
    duplicate (dropDuplicatesWithinWatermark semantics)."""
    from bullet_spark_spark.operators import dedup as dd
    from bullet_spark_spark.streaming.sinks import MemorySink

    base = tables["events"].limit(100).select("event_id", "ts", "user_id")
    shifted = base.withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 MINUTE"))
    doubled = base.unionByName(shifted)  # same key, different event time
    stream = file_drip(spark, doubled, str(tmp_path), chunks=4)
    deduped = dd.streaming_dedup(stream, ["event_id"], event_time_col="ts",
                                 watermark_delay="400 days")
    sink = MemorySink()
    q = (
        deduped.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ids = [r[0] for r in sink.rows]
    assert len(set(ids)) == 100 and len(ids) == 100


def test_listener_backed_metrics(spark, tables, tmp_path, runtime):
    """metrics() surfaces Spark's own StreamingQueryListener progress
    (batches, input rows) for this runtime's streams — not engine-side
    estimates (ref BulletSparkMetricsSource.scala:22-53)."""
    stream = _events_stream(spark, tables, tmp_path)
    spec = Query(
        source="events",
        aggregation=GroupAgg(fields=["event_type"], operations=[(AggOp.COUNT, None, "cnt")]),
    )
    handle = runtime.register(spec, stream, trigger_ms=150)
    n = tables["events"].count()
    deadline = time.time() + 90
    while time.time() < deadline:
        m = runtime.metrics()
        if m["spark_input_rows"] >= n and m["spark_batches"] >= 1:
            break
        time.sleep(0.3)
    m = runtime.metrics()
    assert m["spark_batches"] >= 1
    assert m["spark_input_rows"] >= n
    runtime.kill(handle.query_id)


def test_metrics_source_visible_outside_python(spark, tables, tmp_path, runtime):
    """Engine counters registered as named JVM LongAccumulators in Spark's
    AccumulatorContext (parity with BulletSparkMetricsSource.scala:22-53):
    after a query runs, the values read back from the JVM-side registry —
    not through this Python object — match runtime.metrics()."""
    stream = _events_stream(spark, tables, tmp_path)
    runtime.run_available(
        Query(
            source="events",
            aggregation=GroupAgg(fields=["event_type"], operations=[(AggOp.COUNT, None, "cnt")]),
        ),
        stream,
        checkpoint_dir=str(tmp_path / "ck"),
    )
    accs = runtime.register_metrics_source()
    assert accs, "no accumulators registered"
    m = runtime.metrics()
    ctx = spark._jvm.org.apache.spark.util.AccumulatorContext
    for name, acc in accs.items():
        registered = ctx.get(acc.id())
        assert registered.isDefined(), name  # visible in the JVM registry
        assert registered.get().value() == m[name], name
        assert acc.name().get() == f"bullet.{name}"
    assert accs["queries_done"].value() >= 1
    # listener progress is async — the exact row total may lag a batch, but
    # the accumulator must mirror whatever metrics() reported (checked
    # above) and be non-zero after a drained run
    assert accs["spark_input_rows"].value() > 0


def test_finished_queries_leave_the_runtime(spark, tables, tmp_path, monkeypatch):
    """run_available never enters the registry and metrics() still counts
    each query and its stream; the status log keeps its last entries only."""
    from bullet_spark_spark.streaming import runtime as runtime_mod

    monkeypatch.setattr(runtime_mod, "_TOMBSTONES", 2)
    rt = EngineRuntime(spark)
    spec = Query(
        source="events",
        aggregation=GroupAgg(fields=["event_type"], operations=[(AggOp.COUNT, None, "cnt")]),
    )
    n = 3
    try:
        for i in range(n):
            stream = file_drip(spark, tables["events"], str(tmp_path / f"s{i}"), chunks=1)
            rt.run_available(spec, stream, checkpoint_dir=str(tmp_path / f"ck{i}"))
        assert rt.queries == {}
        m = rt.metrics()
        assert m["queries_received"] == n and m["queries_done"] == n
        assert m["queries_running"] == 0 and m["emissions"] == n
        assert [s for _q, s, _t in rt.status_log] == [Signal.COMPLETE] * 2
    finally:
        rt.stop_all()


def test_streaming_curation_funnel(spark, tables, tmp_path):
    """The curation funnel running over a micro-batch stream: per-batch
    verdict histograms accumulate to EXACTLY the batch funnel's report
    (streaming curate ≡ batch curate — the funnel is a stateless
    projected CASE, so update-mode aggregation over the drained stream
    reconciles with one batch pass)."""
    from bullet_spark_spark.operators.text import curation_verdict
    from bullet_spark_spark.streaming.sinks import MemorySink

    docs = tables["documents"].select("doc_id", "text")
    stream = file_drip(spark, docs, str(tmp_path), chunks=4)
    funnel = (
        stream.withColumn("verdict", curation_verdict(F.col("text")))
        .groupBy("verdict")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sink = MemorySink()
    q = (
        funnel.writeStream.outputMode("complete")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck_funnel"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # last complete-mode emission = the final histogram
    final = {}
    for r in sink.rows:
        final[r[0]] = r[1]  # later batches overwrite earlier (complete mode)
    expected = {
        r["verdict"]: r["n"]
        for r in docs.withColumn("verdict", curation_verdict(F.col("text")))
        .groupBy("verdict")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert final == expected


def test_lateral_explode_streams_plan_per_query(spark, tables, tmp_path, runtime):
    """A LATERAL VIEW EXPLODE query (rejected by the shared-scan
    multiplexers) runs fine through plan-per-query: word counts over a
    drained document stream reconcile with the batch explode."""
    from bullet_spark_spark.plans.bql import parse_bql

    docs = tables["documents"].select("doc_id", "text")
    stream = file_drip(spark, docs, str(tmp_path / "docs"), chunks=3)
    spec = parse_bql(
        "SELECT word, COUNT(*) AS cnt FROM STREAM() "
        "LATERAL VIEW EXPLODE(SPLIT(LOWER(text), ' ')) AS word GROUP BY word"
    )
    handle = runtime.run_available(
        spec, stream, checkpoint_dir=str(tmp_path / "ck")
    )
    assert handle.state is QueryState.COMPLETED
    final = {}
    for batch in handle.sink.batches:
        for row in batch:
            final[row[0]] = row[1]  # update mode: last emission per word wins

    batch_expected = {
        r["word"]: r["cnt"]
        for r in docs.select(
            F.explode(F.split(F.lower("text"), " ")).alias("word")
        )
        .groupBy("word")
        .count()
        .withColumnRenamed("count", "cnt")
        .collect()
    }
    assert final == batch_expected


def test_a_drain_that_times_out_fails_and_stops(spark, tables, tmp_path):
    """A drain still running at its timeout is stopped and raises: its
    query ends FAILED with the timeout as its error, not COMPLETED over a
    partial result, and no stream is left running."""
    rt = EngineRuntime(spark)
    stream = file_drip(
        spark, tables["events"], str(tmp_path), chunks=4, max_files_per_trigger=1
    )
    spec = Query(
        source="events",
        aggregation=GroupAgg(fields=["event_type"], operations=[(AggOp.COUNT, None, "cnt")]),
    )
    try:
        with pytest.raises(TimeoutError):
            rt.run_available(spec, stream, query_id="slow", timeout_s=0.01)
        assert [(q, s) for q, s, _t in rt.status_log] == [("slow", Signal.FAIL)]
        m = rt.metrics()
        assert m["queries_failed"] == 1 and m["queries_done"] == 0
        assert spark.streams.active == []
    finally:
        rt.stop_all()


def test_two_threads_drain_the_same_entry_query(spark, tables):
    """Two threads running one drain query each get the whole result: a
    drain's sink is named for its call and dropped after, and the
    shuffle-partition conf it sizes is restored."""
    from concurrent.futures import ThreadPoolExecutor

    import __spark_entry__ as entry
    from conftest import SF_DIR

    def views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    query = entry.queries()["streaming_sample_drain"]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    before = views()

    def run(_=None):
        return sorted(query(spark, SF_DIR).collect())

    want = run()
    with ThreadPoolExecutor(2) as pool:
        got = list(pool.map(run, range(2)))
    assert got == [want, want]
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert {v for v in views() - before if v.startswith("__")} == set()
