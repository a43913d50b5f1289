"""The dynamic multiplexer's per-batch serving path: one group key per
(record, query) in the shared aggregation, a single stage for
one-partition batches, publication at the batch boundary, and finished
queries leaving the serving path."""

from __future__ import annotations

import dataclasses
import math
import random
import threading
import time

import pytest
from pyspark.sql import functions as F

from bullet_spark_spark.functions.exprs import E
from bullet_spark_spark.plans import compile_query
from bullet_spark_spark.plans.spec import (
    AggOp,
    CountDistinctAgg,
    DistributionAgg,
    DistributionType,
    GroupAgg,
    Query,
    TopKAgg,
)
from bullet_spark_spark.streaming import dynamic
from bullet_spark_spark.streaming.control import ControlPlane, ControlTransport
from bullet_spark_spark.streaming.dynamic import DynamicHandle, DynamicMultiplexer
from bullet_spark_spark.streaming.runtime import QueryState

SCHEMA = "a string, b int, c string, v double, u int"


def _batches(spark, n=3, rows=400, seed=7):
    """Random batches with NULLs in every group-key and value column."""
    rng = random.Random(seed)

    def maybe(x):
        return None if rng.random() < 0.1 else x

    out = []
    for _ in range(n):
        data = [
            (
                maybe(rng.choice("pqrs")),
                maybe(rng.randrange(6)),
                maybe(rng.choice(["x", "y"])),
                maybe(round(rng.uniform(0, 100), 2)),
                rng.randrange(50),
            )
            for _ in range(rows)
        ]
        out.append(spark.createDataFrame(data, SCHEMA))
    return out


def _q(agg, filt=None):
    return Query(source="x", filter=filt, aggregation=agg)


# seven field sets: {a,b} (declared both ways, and the exact COUNT
# DISTINCT's), {c}, {} (the global count's and the HLL blob's), {b}, and one
# derived bucket per Distribution spec
MIXED = {
    "g_ab": _q(
        GroupAgg(
            fields=["a", "b"],
            operations=[
                (AggOp.COUNT, None, "n"),
                (AggOp.SUM, "v", "s"),
                (AggOp.AVG, "v", "av"),
                (AggOp.MIN, "v", "lo"),
                (AggOp.MAX, "v", "hi"),
                (AggOp.COUNT_FIELD, "v", "nv"),
            ],
        ),
        E.f("v") > 10,
    ),
    "g_ba": _q(
        GroupAgg(fields=["b", "a"], operations=[(AggOp.COUNT, None, "n"), (AggOp.AVG, "v", "av")]),
        E.f("u") % 2 == 0,
    ),
    "g_c": _q(GroupAgg(fields=["c"], operations=[(AggOp.COUNT, None, "n")])),
    "g_all": _q(GroupAgg(fields=[], operations=[(AggOp.COUNT, None, "n"), (AggOp.SUM, "v", "s")])),
    "top_b": _q(TopKAgg(fields=["b"], k=100), E.f("u") < 40),
    "cd_ab": _q(CountDistinctAgg(fields=["a", "b"])),
    "cd_u": _q(CountDistinctAgg(fields=["u"], approx=True), E.f("v") > 50),
    "pmf": _q(DistributionAgg(type=DistributionType.PMF, field="v", points=[0.0, 25.0, 50.0, 75.0])),
    "cdf": _q(
        DistributionAgg(type=DistributionType.CDF, field="v", start=0.0, end=100.0, num_buckets=4),
        E.f("u") > 5,
    ),
    "qnt": _q(
        DistributionAgg(type=DistributionType.QUANTILE, field="v", points=[0.5, 0.9], width=5.0)
    ),
}


def _close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _same_rows(got, want):
    key = lambda r: tuple((x is None, str(x)) for x in r)  # noqa: E731
    got, want = sorted(got, key=key), sorted(want, key=key)
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want)
    )


def test_routed_groups_equal_per_query_batch_plans(spark):
    """Merged over three batches, every query's groups equal its own
    compile_query answer over the same rows — GroupAgg with AVG, a GROUP
    BY a,b / b,a pair, TopK, exact and approx COUNT DISTINCT, PMF, CDF and
    QUANTILE, with NULL group keys and NULL values present."""
    batches = _batches(spark)
    mux = DynamicMultiplexer(spark)
    for qid, spec in MIXED.items():
        mux.register(qid, spec)
    for i, b in enumerate(batches):
        mux.process_batch(b, i)
    union = batches[0].unionByName(batches[1]).unionByName(batches[2])

    def batch_rows(qid, spec=None):
        return [tuple(r) for r in compile_query(spark, spec or MIXED[qid], df=union).collect()]

    for qid in ("g_ab", "g_ba", "g_c", "g_all", "top_b", "cd_ab", "pmf", "cdf"):
        got = mux.queries[qid].result()
        assert _same_rows(got, batch_rows(qid)), qid
    # the batch plans order these two; the routed results must agree
    assert mux.queries["pmf"].result() == batch_rows("pmf")
    assert mux.queries["cdf"].result() == batch_rows("cdf")
    # approx COUNT DISTINCT: an HLL estimate, exact at this cardinality
    exact = CountDistinctAgg(fields=["u"])
    ((want,),) = batch_rows("cd_u", _q(exact, MIXED["cd_u"].filter))
    ((est,),) = mux.queries["cd_u"].result()
    assert abs(est - want) <= 0.02 * want
    # QUANTILE over linear buckets: each estimate within one width of the
    # exact percentile
    exact_q = dict(batch_rows("qnt"))
    for p, est in mux.queries["qnt"].result():
        assert abs(est - exact_q[p]) <= 5.0, (p, est, exact_q[p])


def test_routed_frame_returns_only_each_querys_keys(spark):
    """No waste: the shared aggregation returns exactly Σ per-query
    distinct keys, and its plan has no Expand (no copy of a routed row into
    other queries' field sets)."""
    (batch,) = _batches(spark, n=1)
    mux = DynamicMultiplexer(spark)
    specs = {k: MIXED[k] for k in ("g_ab", "g_ba", "g_c", "g_all", "top_b", "cd_ab", "cd_u")}
    for qid, spec in specs.items():
        mux.register(qid, spec)
    agg_compiled, _raw = mux._compile_live([(h, h.spec) for h in mux.queries.values()])
    frame = DynamicMultiplexer._agg_frame(batch, agg_compiled)
    assert "Expand" not in frame._jdf.queryExecution().executedPlan().toString()

    def distinct_keys(spec):
        rows = batch if spec.filter is None else batch.filter(spec.filter.col())
        agg = spec.aggregation
        if not agg.fields or (isinstance(agg, CountDistinctAgg) and agg.approx):
            return min(1, rows.count())  # one global group / one HLL blob
        return rows.select(*[F.col(f) for f in agg.fields]).distinct().count()

    want = sum(distinct_keys(s) for s in specs.values())
    assert len(DynamicMultiplexer._collect_rows(frame)) == want


def test_one_partition_batch_runs_without_exchange(spark, tmp_path, monkeypatch):
    """A micro-batch of one input partition (one file) runs the shared
    aggregation with no shuffle; a batch of four files keeps its one
    exchange. Both merge the same answer."""
    plans = []
    collect = DynamicMultiplexer._collect_rows

    def capture(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return collect(df)

    monkeypatch.setattr(DynamicMultiplexer, "_collect_rows", staticmethod(capture))

    def exchanges(plan):
        return [
            line for line in plan.splitlines()
            if "Exchange" in line and "BroadcastExchange" not in line
        ]

    src = spark.range(0, 1000).selectExpr(
        "cast(id % 7 as string) as a", "cast(id as double) as v", "cast(id % 5 as int) as u"
    )
    results = []
    for files in (1, 4):
        path = str(tmp_path / f"in{files}")
        src.repartition(files).write.parquet(path)
        mux = DynamicMultiplexer(spark)
        mux.register("by_a", _q(GroupAgg(fields=["a"], operations=[(AggOp.SUM, "v", "s")]), E.f("u") > 1))
        mux.register("all", _q(GroupAgg(fields=[], operations=[(AggOp.SUM, "v", "s")])))
        mux.register("by_u", _q(GroupAgg(fields=["u"], operations=[(AggOp.COUNT, None, "n")])))
        plans.clear()
        stream = spark.readStream.schema(src.schema).parquet(path)
        mux.start(stream, checkpoint_dir=str(tmp_path / f"ck{files}"), available_now=True)
        (plan,) = plans  # one batch
        (rec,) = mux.batches
        assert rec.single_stage is (files == 1)
        assert len(exchanges(plan)) == (0 if files == 1 else 1), plan
        assert "Expand" not in plan
        results.append({q: sorted(h.result()) for q, h in mux.queries.items()})
    assert results[0] == results[1]
    assert results[0]["all"] == [(sum(range(1000)),)]


def test_recompile_reuses_columns_and_rebuilds_a_changed_spec(spark):
    """A registry change recompiles the shared plan from the columns the
    last plan built; an id re-registered with a new spec gets columns of
    its own, not the old ones."""
    b0, b1 = _batches(spark, n=2)
    mux = DynamicMultiplexer(spark)
    mux.register("g", MIXED["g_ab"])
    mux.register("q", MIXED["qnt"])
    mux.process_batch(b0, 0)
    before = dict(mux._columns)
    mux.kill("q")
    wide = _q(DistributionAgg(type=DistributionType.QUANTILE, field="v", points=[0.5], width=20.0))
    mux.register("q", wide)
    mux.process_batch(b1, 1)
    kept = [k for k in before if k in mux._columns]
    assert kept and all(mux._columns[k] is before[k] for k in kept)
    assert any(k[0] == "agg" for k in kept)  # the GroupAgg's buffers
    want: dict[int, int] = {}
    for (v,) in b1.select("v").collect():
        if v is not None:
            want[math.floor(v / 20.0)] = want.get(math.floor(v / 20.0), 0) + 1
    got = {k[0]: n for k, (n,) in mux.queries["q"].groups.items() if k[0] is not None}
    assert got == want
    assert ("key", "__bk_q", ("bucket", repr(wide.aggregation)), (1,)) in mux._columns


def test_quoted_query_ids_stay_on_the_sql_fast_path(spark):
    """An id with a quote and a backslash is an escaped SQL literal in the
    routing expression (no per-node fallback) and is routed and merged
    beside plain ids."""
    (batch,) = _batches(spark, n=1)
    odd = "a'b\\c"
    mux = DynamicMultiplexer(spark)
    mux.register(odd, MIXED["g_c"])
    mux.register("plain", MIXED["g_ab"])
    mux.register("other'", MIXED["cd_ab"])
    live = [(h, h.spec) for h in mux.queries.values()]
    route = DynamicMultiplexer._route_col(live, {h.query_id: 0 for h, _ in live})
    assert "array_compact" in str(route)  # the one-SQL-string form
    mux.process_batch(batch, 0)
    for qid, spec in ((odd, MIXED["g_c"]), ("plain", MIXED["g_ab"]), ("other'", MIXED["cd_ab"])):
        want = [tuple(r) for r in compile_query(spark, spec, df=batch).collect()]
        assert _same_rows(mux.queries[qid].result(), want), qid


class _ListTransport(ControlTransport):
    """A bus that records status events in memory, with their arrival time."""

    def __init__(self) -> None:
        self.events: list[tuple[float, dict]] = []

    def poll(self) -> list[str]:
        return []

    def emit(self, event: dict) -> None:
        self.events.append((time.time(), event))

    def of(self, kind: str) -> list[dict]:
        return [e for _, e in self.events if e["type"] == kind]


def _count(filt=None):
    return _q(GroupAgg(fields=[], operations=[(AggOp.COUNT, None, "n")]), filt)


def test_window_published_at_the_batch_boundary(spark):
    """With a 5 s publisher timer, a batch's merged result still reaches
    the bus within 1 s of process_batch returning: the batch wakes the
    publisher."""
    (batch,) = _batches(spark, n=1)
    mux = DynamicMultiplexer(spark)
    mux.register("q", _count())
    bus = _ListTransport()
    plane = ControlPlane(spark, mux, bus, poll_interval_s=5)
    plane.start()
    try:
        time.sleep(0.5)  # the publisher is parked in its 5 s wait
        mux.process_batch(batch, 0)
        done = time.time()
        deadline = done + 3
        while not bus.of("WINDOW") and time.time() < deadline:
            time.sleep(0.01)
        ((t, event),) = [(t, e) for t, e in bus.events if e["type"] == "WINDOW"]
        assert event["rows"] == [[400]] or event["rows"] == [(400,)]
        assert t - done < 1.0, t - done
    finally:
        plane.stop()
    assert all(not t.is_alive() for t in plane._threads)


def test_publish_passes_reuse_the_hll_estimate(spark):
    """An approx COUNT DISTINCT handle unions its blobs once per new blob:
    publish passes with no batch between them run no Spark job."""
    (batch,) = _batches(spark, n=1)
    mux = DynamicMultiplexer(spark)
    mux.register("acd", MIXED["cd_u"])
    bus = _ListTransport()
    plane = ControlPlane(spark, mux, bus, poll_interval_s=60)
    mux.process_batch(batch, 0)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("publish-first", "first pass after a batch")
        plane._publish_once()
        assert tracker.getJobIdsForGroup("publish-first")  # the union ran
        sc.setJobGroup("publish-again", "passes with no batch between")
        plane._publish_once()
        plane._publish_once()
        assert tracker.getJobIdsForGroup("publish-again") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(bus.of("WINDOW")) == 1


def test_finished_queries_leave_the_serving_path(spark, monkeypatch):
    """5,000 queries churn through process_batch and the publisher: each
    gets one RESULT and one SIGNAL, then leaves the serving path. The
    registry holds the live queries plus a bounded window of recently
    finished ones, a pass with no batch before it rebuilds no result, and a
    late KILL for a long-gone id stays a no-op."""
    (batch,) = _batches(spark, n=1, rows=20)
    mux = DynamicMultiplexer(spark)
    bus = _ListTransport()
    plane = ControlPlane(spark, mux, bus, poll_interval_s=60)
    standing = [f"s{i}" for i in range(10)]
    for qid in standing:
        mux.register(qid, _count())
    calls = []
    result = DynamicHandle.result
    monkeypatch.setattr(
        DynamicHandle,
        "result",
        lambda self, *a: (calls.append(self.query_id), result(self, *a))[1],
    )
    rounds, per_round = 50, 100
    for r in range(rounds):
        ids = [f"c{r}-{j}" for j in range(per_round)]
        for j, qid in enumerate(ids):
            spec = _count(E.f("u") >= j % 50)
            if j >= per_round // 2:  # expires at the batch boundary
                spec = dataclasses.replace(spec, duration_ms=0)
            mux.register(qid, spec)
        mux.process_batch(batch, r)
        for qid in ids[: per_round // 2]:
            mux.kill(qid)
        plane._publish_once()
    calls.clear()
    plane._publish_once()
    assert calls == []  # no batch and no query end since the last pass
    assert len(mux.queries) == len(standing) + dynamic._RETAIN_FINISHED
    assert sum(h.state is QueryState.RUNNING for h in mux.queries.values()) == len(standing)
    assert len(plane._published) == len(standing)
    assert len(mux.finished) == rounds * per_round
    churned = rounds * per_round
    assert len(bus.of("RESULT")) == churned
    assert len(bus.of("SIGNAL")) == churned
    # a KILL for a query that finished long ago is ignored, not deferred
    assert "c0-0" not in mux.queries
    mux.kill("c0-0")
    with pytest.raises(KeyError):
        mux.kill("never-registered")


def test_publisher_and_batches_share_handles_safely(spark):
    """Stress: batches merge and queries churn while a publisher thread
    with a short timer walks and retires handles; nothing raises and every
    churned query gets exactly one terminal RESULT."""
    import sys

    (batch,) = _batches(spark, n=1, rows=20)
    mux = DynamicMultiplexer(spark)
    bus = _ListTransport()
    plane = ControlPlane(spark, mux, bus, poll_interval_s=0.001)
    mux.register("s", _count())
    plane.start()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    errors = []

    def churn(k):
        try:
            for j in range(150):
                qid = f"t{k}-{j}"
                mux.register(qid, _count())
                mux.kill(qid)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    try:
        workers = [threading.Thread(target=churn, args=(k,)) for k in range(6)]
        for w in workers:
            w.start()
        for i in range(3):
            mux.process_batch(batch, i)
        for w in workers:
            w.join(60)
        assert not any(w.is_alive() for w in workers)
    finally:
        sys.setswitchinterval(interval)
        plane.stop()
    assert not errors
    assert not [e for e in bus.of("ERROR")]
    results = [e["query_id"] for e in bus.of("RESULT")]
    assert sorted(results) == sorted(f"t{k}-{j}" for k in range(6) for j in range(150))


def test_publish_shapes_outside_the_lock(spark, monkeypatch):
    """The publisher copies each changed handle's state under the
    multiplexer lock and shapes it outside: neither result() nor the
    approx COUNT DISTINCT union job runs while the lock is held."""
    (batch,) = _batches(spark, n=1)
    mux = DynamicMultiplexer(spark)
    for qid in ("cd_u", "top_b", "qnt"):
        mux.register(qid, MIXED[qid])
    bus = _ListTransport()
    plane = ControlPlane(spark, mux, bus, poll_interval_s=60)
    mux.process_batch(batch, 0)
    seen = []
    for name in ("result", "_hll_union"):
        fn = getattr(DynamicHandle, name)

        def spy(self, *a, fn=fn, name=name):
            seen.append((name, mux._lock.locked()))
            return fn(self, *a)

        monkeypatch.setattr(DynamicHandle, name, spy)
    plane._publish_once()
    assert ("_hll_union", False) in seen  # the union ran
    assert sorted(n for n, _ in seen).count("result") == 3
    assert not [n for n, locked in seen if locked]
    assert len(bus.of("WINDOW")) == 3


def test_a_pass_reshapes_only_what_changed(spark, monkeypatch):
    """A batch that merges into 2 of 6 live handles makes the next pass
    shape exactly those 2; a pass with no batch before it shapes none, and
    one after a KILL shapes only the killed query."""
    (batch,) = _batches(spark, n=1, rows=50)
    mux = DynamicMultiplexer(spark)
    for i in range(6):  # u is never negative: q2..q5 match no row
        mux.register(f"q{i}", _count(E.f("u") >= 0 if i < 2 else E.f("u") < 0))
    bus = _ListTransport()
    plane = ControlPlane(spark, mux, bus, poll_interval_s=60)
    calls = []
    result = DynamicHandle.result
    monkeypatch.setattr(
        DynamicHandle,
        "result",
        lambda self, *a: (calls.append(self.query_id), result(self, *a))[1],
    )
    mux.process_batch(batch, 0)
    plane._publish_once()
    assert sorted(calls) == ["q0", "q1"]
    calls.clear()
    plane._publish_once()
    assert calls == []
    mux.kill("q4")
    plane._publish_once()
    assert calls == ["q4"]
    assert [e["query_id"] for e in bus.of("SIGNAL")] == ["q4"]
    assert sorted(e["query_id"] for e in bus.of("WINDOW")) == ["q0", "q1"]


def test_status_log_keeps_the_last_entries(spark, monkeypatch):
    """The multiplexer's status log is bounded: churning more queries than
    the bound leaves the bound's worth of the most recent entries."""
    monkeypatch.setattr(dynamic, "_TOMBSTONES", 50)
    mux = DynamicMultiplexer(spark)
    for i in range(200):
        mux.register(f"c{i}", _count())
        mux.kill(f"c{i}")
    assert len(mux.status_log) == 50
    assert [q for q, _s, _t in mux.status_log] == [f"c{i}" for i in range(150, 200)]
