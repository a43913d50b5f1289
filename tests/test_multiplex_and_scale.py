"""Multiplexer, salted aggregation, concurrent queries, checkpoint recovery —
the scale-posture behaviors (SURVEY §7.3). The multiplexer tests here feed
``DynamicMultiplexer.process_batch`` (the ``foreachBatch`` body) fixed
slices of ``events``, so batch boundaries and lifecycle steps between
batches are deterministic; test_dynamic_multiplexer.py drives the same
multiplexer from a live stream."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from bullet_spark_spark.functions.exprs import E
from bullet_spark_spark.operators.relational import salted_group_agg
from bullet_spark_spark.plans.spec import AggOp, GroupAgg, Query
from bullet_spark_spark.sources.streaming import file_drip
from bullet_spark_spark.streaming import EngineRuntime, QueryState
from bullet_spark_spark.streaming.dynamic import DynamicMultiplexer


def _slices(ev, n=4):
    """``events`` cut into n interleaved micro-batches (event_id mod n)."""
    return [ev.filter(F.col("event_id") % n == i) for i in range(n)]


def _count(pred=None):
    return Query(
        source="events",
        filter=pred,
        aggregation=GroupAgg(fields=[], operations=[(AggOp.COUNT, None, "n")]),
    )


def test_multiplex_filter_matches_individual(spark, tables):
    """Each row routes to every query whose filter it passes: a routed
    count equals that filter's own count, an unfiltered query sees every
    row, and a never-matching query gets no groups."""
    ev = tables["events"]
    mux = DynamicMultiplexer(spark)
    preds = {
        "q_hi": E.f("value") > 90,
        "q_purchase": E.f("event_type") == "purchase",
        "q_all": None,
        "q_none": E.f("value") > 1000,
    }
    for qid, pred in preds.items():
        mux.register(qid, _count(pred))
    mux.process_batch(ev, 0)
    counts = {qid: h.groups.get((), [None])[0] for qid, h in mux.queries.items()}
    assert counts["q_hi"] == ev.filter(F.col("value") > 90).count()
    assert counts["q_purchase"] == ev.filter(F.col("event_type") == "purchase").count()
    assert counts["q_all"] == ev.count()
    assert mux.queries["q_none"].groups == {}


def test_multiplex_single_scan(spark, tables):
    """The point of the multiplexer: one parquet scan for N queries."""
    mux = DynamicMultiplexer(spark)
    for i in range(8):
        mux.register(f"q{i}", _count(E.f("value") > i * 10))
    agg_compiled, _raw = mux._compile_live([(h, h.spec) for h in mux.queries.values()])
    frame = DynamicMultiplexer._agg_frame(tables["events"], agg_compiled)
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") <= 1


def test_multiplex_group_count(spark, tables):
    ev = tables["events"]
    mux = DynamicMultiplexer(spark)
    by_type = mux.register(
        "by_type",
        Query(source="events", filter=E.f("value") > 50, aggregation=GroupAgg(fields=["event_type"])),
    )
    by_user = mux.register(
        "by_user_mod", Query(source="events", aggregation=GroupAgg(fields=["user_id"]))
    )
    mux.process_batch(ev, 0)
    expected = {
        r["event_type"]: r["n"]
        for r in ev.filter(F.col("value") > 50).groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert dict(by_type.result()) == expected
    assert len(by_user.result()) == ev.select("user_id").distinct().count()


def test_streaming_multiplexer(spark, tables):
    """N queries, ONE routed aggregation per micro-batch (the reference's
    FilterStreaming role): partials merged across batches route to
    per-query handles and match per-query batch answers."""
    ev = tables["events"]
    mux = DynamicMultiplexer(spark)
    hi_by_type = mux.register(
        "hi_by_type",
        Query(source="events", filter=E.f("value") > 50, aggregation=GroupAgg(fields=["event_type"])),
    )
    purchases = mux.register(
        "purchases",
        Query(source="events", filter=E.f("event_type") == "purchase", aggregation=GroupAgg(fields=[])),
    )
    for epoch, batch in enumerate(_slices(ev)):
        mux.process_batch(batch, epoch)

    expected = {
        r["event_type"]: r["n"]
        for r in ev.filter(F.col("value") > 50).groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert dict(hi_by_type.result()) == expected
    assert purchases.result() == [(ev.filter(F.col("event_type") == "purchase").count(),)]


def test_streaming_multiplexer_with_ops(spark, tables):
    """Heterogeneous op lists: each handle receives exactly its spec's
    outputs, computed in the one shared aggregation."""
    ev = tables["events"]
    mux = DynamicMultiplexer(spark)
    sum_by_type = mux.register(
        "sum_by_type",
        Query(
            source="events",
            aggregation=GroupAgg(
                fields=["event_type"],
                operations=[(AggOp.SUM, "value", "sv"), (AggOp.MAX, "value", "mx")],
            ),
        ),
    )
    cnt_hi = mux.register("cnt_hi", _count(E.f("value") > 80))
    for epoch, batch in enumerate(_slices(ev, 3)):
        mux.process_batch(batch, epoch)

    final = {k: (sv, mx) for k, sv, mx in sum_by_type.result()}
    expected = {
        r["event_type"]: (r["sv"], r["mx"])
        for r in ev.groupBy("event_type").agg(F.sum("value").alias("sv"), F.max("value").alias("mx")).collect()
    }
    assert set(final) == set(expected)
    for k in expected:
        assert abs(final[k][0] - expected[k][0]) < 1e-6
        assert final[k][1] == expected[k][1]
    assert cnt_hi.result() == [(ev.filter(F.col("value") > 80).count(),)]


def test_multiplexer_kill_is_sink_side(spark, tables):
    """Killing one multiplexed query between batches freezes its state and
    does not stop the shared stage: its sibling keeps merging."""
    ev = tables["events"]
    batches = _slices(ev)
    mux = DynamicMultiplexer(spark)
    a = mux.register("a", Query(source="events", aggregation=GroupAgg(fields=["event_type"])))
    b = mux.register("b", _count())
    mux.process_batch(batches[0], 0)
    assert a.groups and b.groups
    mux.kill("a")
    assert a.state is QueryState.KILLED
    frozen = {k: list(v) for k, v in a.groups.items()}
    for epoch, batch in enumerate(batches[1:], start=1):
        mux.process_batch(batch, epoch)
    assert a.groups == frozen  # never evaluated after the kill
    assert b.state is QueryState.RUNNING
    assert b.result() == [(ev.count(),)]


def test_multiplexer_full_op_set(spark, tables):
    """The reference multiplexes EVERY query type in one pass
    (FilterStreaming.scala:54-67): RAW + TopK + GroupAgg(with AVG) +
    Distribution CDF + COUNT DISTINCT + QUANTILE share each batch's routed
    jobs, and after merging four interleaved batches each query's result
    matches its plan-per-query batch answer."""
    import math

    from bullet_spark_spark.plans import compile_query
    from bullet_spark_spark.plans.spec import (
        CountDistinctAgg,
        DistributionAgg,
        DistributionType,
        RawAgg,
        TopKAgg,
    )

    ev = tables["events"]
    specs = {
        "grp": Query(
            source="events",
            filter=E.f("value") > 50,
            aggregation=GroupAgg(
                fields=["event_type"],
                operations=[
                    (AggOp.COUNT, None, "cnt"),
                    (AggOp.SUM, "value", "sv"),
                    (AggOp.AVG, "value", "av"),
                    (AggOp.MIN, "value", "mn"),
                ],
            ),
        ),
        "topk": Query(source="events", aggregation=TopKAgg(fields=["event_type"], k=3, name="cnt")),
        "cdf": Query(
            source="events",
            aggregation=DistributionAgg(
                type=DistributionType.CDF, field="value", start=0.0, end=100.0, num_buckets=4,
            ),
        ),
        "raw": Query(
            source="events",
            filter=(E.f("value") > 99) & (E.f("event_type") == "error"),
            aggregation=RawAgg(limit=1_000_000),
        ),
        "cd": Query(
            source="events",
            filter=E.f("value") > 50,
            aggregation=CountDistinctAgg(fields=["user_id"], name="cd"),
        ),
        "qnt": Query(
            source="events",
            filter=E.f("event_type") == "view",
            aggregation=DistributionAgg(
                type=DistributionType.QUANTILE, field="value", points=[0.5, 0.9], width=5.0,
            ),
        ),
    }
    mux = DynamicMultiplexer(spark)
    handles = {qid: mux.register(qid, spec) for qid, spec in specs.items()}
    for epoch, batch in enumerate(_slices(ev)):
        mux.process_batch(batch, epoch)

    # GroupAgg vs batch
    exp = {
        r["event_type"]: (r["cnt"], r["sv"], r["av"], r["mn"])
        for r in ev.filter(F.col("value") > 50)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv"),
            F.avg("value").alias("av"), F.min("value").alias("mn"),
        )
        .collect()
    }
    got = {k: (cnt, sv, av, mn) for k, cnt, sv, av, mn in handles["grp"].result()}
    assert set(got) == set(exp)
    for k in exp:
        assert got[k][0] == exp[k][0] and got[k][3] == exp[k][3]
        assert abs(got[k][1] - exp[k][1]) < 1e-6
        assert abs(got[k][2] - exp[k][2]) < 1e-9

    # TopK vs batch
    exp_topk = [
        (r["event_type"], r["cnt"])
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("event_type")).limit(3).collect()
    ]
    assert handles["topk"].result() == exp_topk

    # CDF vs compiled batch plan
    exp_cdf = [(r["bucket"], r["cum_count"]) for r in compile_query(spark, specs["cdf"]).collect()]
    assert handles["cdf"].result() == exp_cdf

    # RAW vs batch filter
    exp_raw = sorted(
        r["event_id"]
        for r in ev.filter((F.col("value") > 99) & (F.col("event_type") == "error"))
        .select("event_id").collect()
    )
    idx = handles["raw"].raw_columns.index("event_id")
    assert sorted(r[idx] for r in handles["raw"].result()) == exp_raw

    # COUNT DISTINCT vs batch exact
    exp_cd = (
        ev.filter(F.col("value") > 50)
        .select("user_id").distinct().filter(F.col("user_id").isNotNull())
        .count()
    )
    assert handles["cd"].result() == [(exp_cd,)]

    # QUANTILE vs batch-side linear-histogram targeted rank
    vals = sorted(
        r["value"]
        for r in ev.filter((F.col("event_type") == "view") & F.col("value").isNotNull())
        .select("value").collect()
    )
    counts: dict[int, int] = {}
    for v in vals:
        counts[math.floor(v / 5.0)] = counts.get(math.floor(v / 5.0), 0) + 1
    exp_q = []
    for p in (0.5, 0.9):
        rank, run = max(1, math.ceil(p * len(vals))), 0
        for b in sorted(counts):
            run += counts[b]
            if run >= rank:
                exp_q.append((p, (b + 0.5) * 5.0))
                break
    assert handles["qnt"].result() == exp_q


def test_multiplexer_raw_limit_completes(spark, tables):
    """A multiplexed RAW query fills its limit across batches, keeps
    exactly limit rows, completes, and leaves the shared stage serving
    its sibling."""
    from bullet_spark_spark.plans.spec import RawAgg

    ev = tables["events"]
    mux = DynamicMultiplexer(spark)
    raw5 = mux.register("raw5", Query(source="events", aggregation=RawAgg(limit=5)))
    grp = mux.register("grp", _count())
    mux.process_batch(ev.filter(F.col("event_id") < 3), 0)
    assert len(raw5.raw_rows) == 3 and raw5.state is QueryState.RUNNING
    mux.process_batch(ev.filter((F.col("event_id") >= 3) & (F.col("event_id") < 500)), 1)
    assert raw5.state is QueryState.COMPLETED
    assert len(raw5.result()) == 5
    mux.process_batch(ev.filter(F.col("event_id") >= 500), 2)
    assert len(raw5.result()) == 5
    assert grp.state is QueryState.RUNNING
    assert grp.result() == [(ev.count(),)]


def test_multiplexer_rate_limit_fail(spark, tables):
    """W9 on the shared stage: a query whose state updates in more batches
    than its emit budget allows is FAILed with a FAIL signal, and is not
    evaluated again, while its sibling keeps running — two-stage rate
    enforcement parity (FilterStreaming.scala:129-133,
    JoinStreaming.scala:152-159)."""
    from bullet_spark_spark.streaming.runtime import RateLimit, Signal

    ev = tables["events"]
    batches = _slices(ev)
    mux = DynamicMultiplexer(spark)
    throttled = mux.register(
        "throttled",
        Query(source="events", aggregation=GroupAgg(fields=["event_type"])),
        rate_limit=RateLimit(max_emits=2, interval_ms=60_000),
    )
    grp = mux.register("grp", _count())
    for epoch in range(2):
        mux.process_batch(batches[epoch], epoch)
    assert throttled.state is QueryState.RUNNING
    mux.process_batch(batches[2], 2)
    assert throttled.state is QueryState.FAILED
    assert "rate limit" in (throttled.error or "")
    assert ("throttled", Signal.FAIL) in [(q, s) for q, s, _ in mux.status_log]
    frozen = {k: list(v) for k, v in throttled.groups.items()}
    mux.process_batch(batches[3], 3)
    assert throttled.groups == frozen
    assert grp.state is QueryState.RUNNING
    assert grp.result() == [(ev.count(),)]


def test_multiplexed_approx_count_distinct(spark, tables):
    """Approx COUNT DISTINCT: one HLL blob per batch rides the shared
    aggregation, blobs accumulate across batches, one hll_union_agg job
    finalizes. Sparse-mode HLL is exact at the fixture's cardinality, so
    the estimate must equal the exact-CD answer running alongside."""
    from bullet_spark_spark.plans.spec import CountDistinctAgg

    ev = tables["events"]
    mux = DynamicMultiplexer(spark)
    acd = mux.register(
        "acd",
        Query(
            source="events",
            filter=E.f("value") > 50,
            aggregation=CountDistinctAgg(fields=["user_id"], approx=True),
        ),
    )
    ecd = mux.register(
        "ecd",
        Query(
            source="events",
            filter=E.f("value") > 50,
            aggregation=CountDistinctAgg(fields=["user_id"]),
        ),
    )
    mux.register(
        "g",
        Query(
            source="events",
            aggregation=GroupAgg(fields=["event_type"], operations=[(AggOp.COUNT, None, "n")]),
        ),
    )
    for epoch, batch in enumerate(_slices(ev)):
        mux.process_batch(batch, epoch)

    exact = ev.filter(F.col("value") > 50).select("user_id").distinct().count()
    assert ecd.result() == [(exact,)]
    assert acd.result() == [(exact,)]


def test_salted_group_agg_under_skew(spark, tables):
    """Correctness under a manufactured heavy-hitter key (one key = ~90% of
    rows) — the shape AQE does NOT rebalance for aggregations."""
    ev = tables["events"]
    hot = ev.withColumn("event_type", F.lit("HOT"))
    skewed = ev.unionByName(hot).unionByName(hot)
    got = {
        r["event_type"]: r["cnt"]
        for r in salted_group_agg(skewed, ["event_type"], [("count", None, "cnt")], salt_buckets=16).collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in skewed.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want
    assert got["HOT"] == 2 * ev.count()


def test_salted_skew_join_equals_plain_join(spark, tables):
    """Salted join == plain join under a manufactured hot key (90% of fact
    rows on one orderkey); every match pairs on exactly one salt value, so
    multiplicities survive exactly."""
    from bullet_spark_spark.operators.relational import salted_skew_join

    li = tables["lineitem"].select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    hot_key = tables["orders"].agg(F.min("o_orderkey")).collect()[0][0]
    hot = li.withColumn("o_orderkey", F.lit(hot_key))
    fact = li.unionByName(hot).unionByName(hot)  # ~2/3 of rows on one key
    dim = tables["orders"].select("o_orderkey", "o_orderpriority")

    got = (
        salted_skew_join(fact, dim, "o_orderkey", salt_buckets=8)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("s"))
    )
    want = (
        fact.join(dim, "o_orderkey")
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("s"))
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    # outer flavors keep unmatched rows exactly once per fact row
    lo = salted_skew_join(fact, dim.filter(F.col("o_orderkey") % 2 == 0), "o_orderkey", 8, how="left")
    assert lo.count() == fact.join(dim.filter(F.col("o_orderkey") % 2 == 0), "o_orderkey", "left").count()


def test_salted_group_agg_equivalence(spark, tables):
    ev = tables["events"]
    salted = {
        (r["event_type"],): (r["cnt"], r["sv"], r["mx"])
        for r in salted_group_agg(
            ev, ["event_type"],
            [("count", None, "cnt"), ("sum", "value", "sv"), ("max", "value", "mx")],
            salt_buckets=8,
        ).collect()
    }
    plain = {
        (r["event_type"],): (r["cnt"], r["sv"], r["mx"])
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv"), F.max("value").alias("mx"))
        .collect()
    }
    assert set(salted) == set(plain)
    for k in plain:
        assert salted[k][0] == plain[k][0]
        assert abs(salted[k][1] - plain[k][1]) < 1e-6
        assert salted[k][2] == plain[k][2]


def test_concurrent_queries_shared_source(spark, tables, tmp_path):
    """Bullet's raison d'être: N live queries multiplexed over one stream
    (ref FilterStreaming.scala:24) — here as N concurrent plans; each has
    independent lifecycle and results."""
    rt = EngineRuntime(spark)
    try:
        stream = file_drip(spark, tables["events"], str(tmp_path), chunks=4)
        specs = {
            "by_type": Query(
                source="events",
                aggregation=GroupAgg(fields=["event_type"], operations=[(AggOp.COUNT, None, "cnt")]),
            ),
            "hi_only": Query(
                source="events",
                filter=E.f("value") > 90,
                aggregation=GroupAgg(fields=[], operations=[(AggOp.COUNT, None, "cnt")]),
            ),
            "sum_by_user_parity": Query(
                source="events",
                aggregation=GroupAgg(fields=["event_type"], operations=[(AggOp.SUM, "value", "sv")]),
            ),
        }
        handles = {name: rt.register(spec, stream, trigger_ms=150) for name, spec in specs.items()}
        assert rt.metrics()["queries_running"] == 3
        deadline = time.time() + 90
        while time.time() < deadline:
            if all(h.sink.num_emissions >= 1 for h in handles.values()):
                break
            time.sleep(0.3)
        for name, h in handles.items():
            assert h.sink.num_emissions >= 1, f"{name} never emitted"
        rt.kill(handles["by_type"].query_id)
        assert handles["by_type"].state is QueryState.KILLED
        assert handles["hi_only"].is_active()
        m = rt.metrics()
        assert m["queries_received"] == 3 and m["queries_killed"] == 1
    finally:
        rt.stop_all()


def test_bucketed_join_no_shuffle(spark, tables, tmp_path):
    """Co-located join: both fact tables bucketed+sorted on the join key →
    SortMergeJoin with NO Exchange on either side (the bucketing strategy
    that turns the repeated fact⋈fact shuffle into a free join at 100 TB)."""
    li = tables["lineitem"].select("l_orderkey", "l_extendedprice")
    orders = tables["orders"].select("o_orderkey", "o_orderpriority")
    (
        li.write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("li_bucketed")
    )
    (
        orders.write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("ord_bucketed")
    )
    # at this tiny sf AQE would broadcast; disable so the plan shows the
    # bucket-driven SMJ a real fact⋈fact would use
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("li_bucketed").join(
            spark.table("ord_bucketed"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucket layout satisfies distribution
        assert j.count() == li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS ord_bucketed")


def test_checkpoint_recovery(spark, tables, tmp_path):
    """P12: a query restarted on the same checkpoint resumes from its offset
    instead of reprocessing (ref StreamingContext.getOrCreate,
    BulletSparkStreamingBaseJob.scala:30-38)."""
    import os

    from bullet_spark_spark.streaming.sinks import MemorySink

    data_dir = str(tmp_path / "src")
    os.makedirs(data_dir)
    ck = str(tmp_path / "ck")
    ev = tables["events"].select("event_id", "event_type", "value")
    ev.filter(F.col("event_id") < 500).write.mode("append").parquet(data_dir)

    def run_once(sink):
        stream = (
            spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(data_dir)
        )
        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    first = MemorySink()
    run_once(first)
    n_first = len(first.rows)
    assert n_first == ev.filter(F.col("event_id") < 500).count()

    # new data lands; a restarted query must process ONLY the new files
    ev.filter(F.col("event_id") >= 500).write.mode("append").parquet(data_dir)
    second = MemorySink()
    run_once(second)
    n_second = len(second.rows)
    assert n_second == ev.filter(F.col("event_id") >= 500).count()
    ids = {r[0] for r in second.rows}
    assert all(i >= 500 for i in ids)
