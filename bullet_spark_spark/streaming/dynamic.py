"""Dynamic multiplexer: the reference's queries-as-data mode, re-expressed.

bullet-spark re-collects and re-broadcasts the live query list every batch
and runs each query's partition-local Querier over the records
(FilterStreaming.scala:46-67), merging partials keyed by query id
(JoinStreaming.scala:34-58). The Structured Streaming equivalent: inside
``foreachBatch`` each micro-batch is a *batch* DataFrame, so the CURRENT
registry's specs compile and run against it directly — add/remove queries
between batches with no stage restart. Partial results merge into per-query
driver state (counts/sums/mins/maxs are trivially mergeable, exactly the
partial-aggregation contract the reference's byte blobs carried).

This is the engine's ONE shared-scan mode. The other streaming mode is
plan-per-query (EngineRuntime.register): maximal Catalyst specialization and
isolated lifecycle, at N source subscriptions; event-time stateful windows
and LATERAL VIEW EXPLODE need it. Use this mode at any query count: it
drains 100k ``events`` rows in 4 micro-batches on 4 CPUs in 1.35 / 1.95 /
3.21 s (median) at N = 1 / 32 / 128 queries.

Here: one scan, per-batch spec evaluation, fully dynamic registry;
driver-side final merge (fine for bullet-sized bounded results, which is
the reference's own constraint — results return through a message bus).
ALL live queries run as ONE routed-aggregation job per batch: each row
explodes to one (query id, field-set id) pair per query whose filter it
matches, and each group-key column keeps the row's value only where that
field set groups by it (NULL elsewhere). A single plain aggregation keyed
by (query_id, masked group keys) then computes the UNION of (op, field)
pairs any query needs — aggregate state per group is #distinct-(op,field)
pairs, not #queries × ops — and returns exactly each query's own groups:
per-batch work is Σ selectivity rows in and Σ per-query distinct keys out,
with no factor for the number of distinct field sets. One scan per batch
regardless of query or field-set count; a one-partition batch runs as one
stage with no exchange. The compiled Column tree is cached across batches
while the registry is unchanged, a registry change rebuilds only the
columns new queries add, and every batch ends by waking the control
plane's publisher.

Lifecycle: only this module changes a query's state, and every query end
(KILL, duration expiry, RAW limit, rate-limit FAIL, the end of an
``available_now`` drain) takes one path, ``DynamicMultiplexer._end``. The
publisher takes what changed since its last pass (``take_changed``) and
shapes it outside the lock.
"""

from __future__ import annotations

import threading
import time
from collections import OrderedDict, deque
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bullet_spark_spark.plans.spec import (
    AggOp,
    CountDistinctAgg,
    DistributionAgg,
    DistributionType,
    GroupAgg,
    Query,
    RawAgg,
    TopKAgg,
)
from bullet_spark_spark.sources.streaming import drain
from bullet_spark_spark.streaming.runtime import (
    _SIGNAL,
    _TOMBSTONES,
    QueryState,
    RateLimit,
    Signal,
)

_MERGEABLE = {
    AggOp.COUNT: lambda a, b: a + b,
    AggOp.COUNT_FIELD: lambda a, b: a + b,
    AggOp.SUM: lambda a, b: a + b,
    AggOp.MIN: min,
    AggOp.MAX: max,
}


# pseudo-op marker for approx COUNT DISTINCT's HLL blob partials (not an
# AggOp: it never appears in user specs, only in the compiled shared stage)
_HLL = "HLL"


def _none_safe(fn, a, b):
    return b if a is None else (a if b is None else fn(a, b))


def _merge_partial(op, a, b):
    """Merge two partials of one op; AVG partials are (sum, count) pairs;
    HLL partials accumulate as a blob list (unioned once, at emit)."""
    if op is _HLL:
        if b is None:
            return a
        acc = a if isinstance(a, list) else ([] if a is None else [a])
        return acc + [b]
    if op is AggOp.AVG:
        return (
            _none_safe(lambda x, y: x + y, a[0], b[0]),
            _none_safe(lambda x, y: x + y, a[1], b[1]),
        )
    return _none_safe(_MERGEABLE[op], a, b)


def _bucket(agg: DistributionAgg) -> Column:
    """A Distribution spec's derived group key: the linear bucket
    floor(v/width) for QUANTILE, the point-threshold index for PMF/CDF."""
    c = F.col(agg.field)
    if agg.type is DistributionType.QUANTILE:
        bucket = F.floor(c / F.lit(agg.width)).cast("long")
    else:
        from functools import reduce

        from bullet_spark_spark.plans.compiler import _bucket_points

        bucket = reduce(
            lambda acc, p: acc + F.when(c >= F.lit(p), 1).otherwise(0),
            _bucket_points(agg),
            F.lit(0),
        )
    # a NULL value has no bucket (result() skips it), as the batch plan
    # filters it out
    return F.when(c.isNotNull(), bucket)


def _shared_agg(op, fld: str | None) -> Column:
    """One aggregate buffer of the shared aggregation."""
    if op is _HLL:
        cols = fld.split("\x1f")
        key = F.concat_ws("\x1f", *[F.col(cc).cast("string") for cc in cols])
        for cc in cols:  # a NULL component voids the tuple
            key = F.when(F.col(cc).isNotNull(), key)
        return F.hll_sketch_agg(key, F.lit(12))
    if op is AggOp.COUNT:
        return F.count(F.lit(1))
    if op is AggOp.COUNT_FIELD:
        return F.count(F.col(fld))
    if op is AggOp.SUM:
        return F.sum(F.col(fld))
    if op is AggOp.MIN:
        return F.min(F.col(fld))
    return F.max(F.col(fld))  # MAX (register() rejects anything non-mergeable)


@dataclass
class DynamicHandle:
    query_id: str
    spec: Query
    state: QueryState = QueryState.RUNNING
    # group-key tuple -> [op outputs] (merged partials across batches)
    groups: dict[tuple, list] = field(default_factory=dict)
    started_at: float = field(default_factory=time.time)
    rate_limit: RateLimit | None = None
    emit_times: list[float] = field(default_factory=list)
    error: str | None = None
    # RAW: matched records accumulated up to the spec's limit (Q16)
    raw_rows: list[tuple] = field(default_factory=list)
    raw_columns: list[str] | None = None
    # sketch metadata for estimated results (bullet's result meta [D]):
    # set by result() when the value came from a sketch, None when exact
    meta: dict | None = None
    # session for the HLL blob-combine job: getActiveSession() is
    # THREAD-LOCAL and returns None on the control plane's publisher
    # thread, so result() must not rely on it
    spark: SparkSession | None = None
    # approx COUNT DISTINCT: (#blobs unioned, estimate) — blobs only
    # accumulate, so an unchanged count means an unchanged estimate and
    # result() skips the union job
    hll_estimate: tuple[int, int] | None = None

    def result(self, state: dict | list | None = None) -> list[tuple]:
        """Current merged result rows, shaped per aggregation family:
        GroupAgg → (keys..., ops...); TopK → (keys..., count) ranked;
        CountDistinct → [(n,)]; Distribution → (bucket, count|cum) or
        (q, est) for QUANTILE; RAW → the collected records. ``state`` is a
        copy of ``groups`` (or ``raw_rows``) taken under the multiplexer
        lock (``DynamicMultiplexer.take_changed``); by default the handle's
        own state is read."""
        agg = self.spec.aggregation
        if isinstance(agg, RawAgg):
            return list(self.raw_rows if state is None else state)
        groups = self.groups if state is None else state
        if isinstance(agg, TopKAgg):
            ranked = sorted(groups.items(), key=lambda kv: (-kv[1][0], str(kv[0])))
            if agg.threshold:
                ranked = [kv for kv in ranked if kv[1][0] >= agg.threshold]
            return [(*k, v[0]) for k, v in ranked[: agg.k]]
        if isinstance(agg, CountDistinctAgg):
            if agg.approx:
                blobs: list[bytes] = []
                for v in groups.values():
                    x = v[0]
                    blobs.extend(x if isinstance(x, list) else [x])
                blobs = [bytes(b) for b in blobs if b is not None]
                if self.hll_estimate is None or self.hll_estimate[0] != len(blobs):
                    self.hll_estimate = (len(blobs), self._hll_union(blobs))
                from bullet_spark_spark.operators.sketch import hll_result_meta

                est = self.hll_estimate[1]
                self.meta = hll_result_meta(est)
                return [(est,)]
            n = sum(1 for k in groups if k and all(v is not None for v in k))
            return [(n,)]
        if isinstance(agg, DistributionAgg):
            buckets = sorted(
                (k[0], v[0]) for k, v in groups.items() if k[0] is not None
            )
            if agg.type is DistributionType.PMF:
                return buckets
            if agg.type is DistributionType.CDF:
                out, run = [], 0
                for b, c in buckets:
                    run += c
                    out.append((b, run))
                return out
            # QUANTILE: targeted rank over merged linear-bucket counts
            import math

            total = sum(c for _, c in buckets)
            rows = []
            for p in [float(x) for x in (agg.points or [0.5])]:
                rank = max(1, math.ceil(p * total)) if total else 0
                run, est = 0, None
                for b, c in buckets:
                    run += c
                    if run >= rank:
                        est = (b + 0.5) * agg.width
                        break
                rows.append((p, est))
            return rows
        # GroupAgg: finalize AVG from its merged (sum, count) partial pair
        ops = list(agg.operations) or [(AggOp.COUNT, None, "count")]
        out = []
        for k, v in sorted(groups.items(), key=lambda kv: str(kv[0])):
            vals = []
            for (op, _fld, _name), x in zip(ops, v):
                if op is AggOp.AVG:
                    s, c = x
                    vals.append(s / c if (s is not None and c) else None)
                else:
                    vals.append(x)
            out.append((*k, *vals))
        return out

    def _hll_union(self, blobs: list[bytes]) -> int:
        """ONE tiny job over #batches blobs — the byte-blob combine step
        (JoinStreaming.scala:126 querier.combine) on DataSketches-compatible
        state."""
        if not blobs:
            return 0
        spark = self.spark or SparkSession.getActiveSession()
        est = (
            spark.createDataFrame([(b,) for b in blobs], "s binary")
            .agg(F.hll_sketch_estimate(F.hll_union_agg(F.col("s"))).alias("n"))
            .collect()[0]["n"]
        )
        return int(est)


# finished handles stay readable in ``DynamicMultiplexer.queries`` after
# they retire until this many newer ones have (as Spark keeps its most
# recent progress updates); retired ids keep a terminal-state tombstone up
# to ``_TOMBSTONES``, so that a late KILL for them stays a no-op
_RETAIN_FINISHED = 100
_BATCH_RECORDS = 100
# reducer count for the routed-aggregation job of a batch with more than
# one input partition (a one-partition batch needs no exchange, see
# _serve). The job's OUTPUT is bounded partials (per-query groups, not
# data), and map-side partial aggregation collapses the batch before the
# exchange, so reducer fan-out buys nothing — but AQE (which would coalesce
# those reducers at runtime) is DISABLED inside streaming foreachBatch, so
# the session default (sized for data-plane shuffles) schedules dead tasks
# every batch: 32 reducers ≈ +90 ms per micro-batch at sf0.1 (measured).
_BATCH_SHUFFLE_PARTITIONS = 8


@dataclass
class BatchRecord:
    """Where one micro-batch's serving time went (``DynamicMultiplexer.batches``)."""

    epoch_id: int
    compile_hit: bool = True
    compile_ms: float = 0.0
    # partition count, batch confs and the routed-aggregation DataFrame
    frame_ms: float = 0.0
    # aggregation job plus Arrow transfer of its partial rows
    job_ms: float = 0.0
    # driver merge into the handles, lock wait included
    merge_ms: float = 0.0
    # RAW take: job, transfer and append
    raw_ms: float = 0.0
    partial_rows: int = 0
    # a one-partition batch runs as one stage; otherwise one exchange
    single_stage: bool = False


def _ms_since(t: float) -> float:
    return (time.perf_counter() - t) * 1000


class DynamicMultiplexer:
    """Per-batch query evaluation over one shared stream (add/remove live).

    SESSION CONFS: ``process_batch`` temporarily sets SQL confs
    (shuffle.partitions, AQE, constraint propagation — restored in a
    ``finally``) on the session the batch frame is bound to, for the
    duration of each micro-batch. A ``foreachBatch`` frame belongs to the
    stream's own clone of the session, so the confs stay inside the
    stream. A frame passed in directly belongs to the caller's session: any
    concurrent job planned on that SAME SparkSession during the batch
    inherits the batch confs. Run unrelated batch/data-plane work on its
    own session (``spark.newSession()``), or accept the multiplexer owning
    this one — the deployment posture matching the reference, where the
    streaming harness is the application."""

    def __init__(
        self, spark: SparkSession, rate_limit: RateLimit | None = None
    ) -> None:
        self.spark = spark
        # live handles, plus the most recently retired ones (retire())
        self.queries: dict[str, DynamicHandle] = {}
        # retired id -> terminal state, oldest dropped first
        self.finished: OrderedDict[str, QueryState] = OrderedDict()
        self._retired: deque[DynamicHandle] = deque()
        # (id, signal, ts) of the most recent query ends
        self.status_log: deque[tuple[str, Signal, float]] = deque(maxlen=_TOMBSTONES)
        # handles a merge touched or that ended since the publisher's last
        # take_changed(), keyed by identity (a re-registered id is a new
        # handle, and the old one still owes its RESULT)
        self._changed: dict[int, DynamicHandle] = {}
        self.rate_limit = rate_limit  # default for every registered query
        self._lock = threading.Lock()
        self._stream: Any = None
        # set at the end of every batch: the control plane's publisher
        # waits on it, so merged partials go out at the batch boundary
        self.merged = threading.Event()
        self.batches: deque[BatchRecord] = deque(maxlen=_BATCH_RECORDS)
        # compiled-plan cache, keyed by the registry epoch, which every
        # register and every query end bumps: building the conditional-agg
        # Column tree costs ~0.35 s of py4j round-trips for 32 queries
        # (measured) — pure per-batch overhead when the registry hasn't
        # changed between batches, which is the common case (the reference
        # pays the same shape of cost in its per-batch re-broadcast,
        # FilterStreaming.scala:48-53)
        self._epoch = 0
        self._plan_cache: tuple[int, tuple] | None = None
        # the key and aggregate Columns of the last compiled plan, by what
        # they compute (see _compile_agg)
        self._columns: dict[tuple, Column] = {}

    def register(
        self, query_id: str, spec: Query, rate_limit: RateLimit | None = None
    ) -> DynamicHandle:
        if spec.explode is not None:
            raise ValueError(
                f"query {query_id!r} uses LATERAL VIEW EXPLODE — the shared-"
                "scan dynamic multiplexer evaluates all queries over ONE row "
                "space; run explode queries through EngineRuntime.register()"
            )
        agg = spec.aggregation
        if isinstance(agg, GroupAgg):
            for op, _, _ in agg.operations or [(AggOp.COUNT, None, "count")]:
                if op not in _MERGEABLE and op is not AggOp.AVG:
                    raise ValueError(f"{op} is not mergeable across batches")
        elif isinstance(agg, CountDistinctAgg):
            pass  # exact rides the group-key map; approx rides HLL blobs
            # (hll_sketch_agg in the shared stage, DataSketches-compatible
            # binary partials accumulated per batch and unioned at emit —
            # the reference's byte-blob contract, FilterStreaming.scala:124)
        elif isinstance(agg, DistributionAgg):
            if agg.type is DistributionType.QUANTILE and not agg.width:
                raise ValueError(
                    "dynamic-multiplexed QUANTILE needs DistributionAgg.width "
                    "(linear mergeable bucketing) — or use register()"
                )
            if agg.type is not DistributionType.QUANTILE and not (
                agg.points or (agg.start is not None and agg.num_buckets)
            ):
                raise ValueError("PMF/CDF needs points or a (start,end,n) region")
        elif not isinstance(agg, (TopKAgg, RawAgg)):
            raise ValueError(
                f"{type(agg).__name__} is not dynamically multiplexable"
            )
        # NOTE: shared-stage RAW emits FULL records; a RAW projection applies in
        # plan-per-query mode (EngineRuntime.register), where the compiled
        # plan owns the select list.
        handle = DynamicHandle(
            query_id=query_id,
            spec=spec,
            rate_limit=rate_limit or self.rate_limit,
            spark=self.spark,
        )
        with self._lock:
            if query_id in self.queries and self.queries[query_id].state is QueryState.RUNNING:
                return self.queries[query_id]  # dedup, as in the union state
            self.queries[query_id] = handle
            self._epoch += 1
        return handle

    def kill(self, query_id: str) -> None:
        """KILL a running query. A finished query — also a retired one
        still in the tombstones — ignores it; an unknown id raises
        KeyError."""
        with self._lock:
            h = self.queries.get(query_id)
            if h is None:
                if query_id in self.finished:
                    return
                raise KeyError(query_id)
            self._end(h, QueryState.KILLED, time.time())

    def _end(self, handle: DynamicHandle, state: QueryState, now: float) -> None:
        """The one end-of-query path (caller holds ``_lock``): a running
        handle takes its terminal state, the status log its signal, and the
        publisher's next ``take_changed`` the handle."""
        if handle.state is not QueryState.RUNNING:
            return
        handle.state = state
        self.status_log.append((handle.query_id, _SIGNAL[state], now))
        self._changed[id(handle)] = handle
        self._epoch += 1

    def _expire(self, now: float) -> None:
        """Duration expiry (caller holds ``_lock``): at every batch
        boundary, the reference's clock (JoinStreaming.scala:118-122), and
        on every publisher pass, so that it does not stall when data stops."""
        for h in self.queries.values():
            if (
                h.spec.duration_ms is not None
                and (now - h.started_at) * 1000 >= h.spec.duration_ms
            ):
                self._end(h, QueryState.COMPLETED, now)

    def take_changed(self) -> list[tuple[DynamicHandle, QueryState, dict | list]]:
        """Sweep expiry, then take every handle a merge touched or that
        ended since the last call, with its state and a copy of its merged
        state (RAW rows, else groups) for ``DynamicHandle.result`` to shape
        outside the lock. A merge replaces a group's value list rather than
        mutating it, so a shallow copy is consistent."""
        with self._lock:
            self._expire(time.time())
            handles, self._changed = self._changed.values(), {}
            out = []
            for h in handles:
                raw = isinstance(h.spec.aggregation, RawAgg)
                out.append((h, h.state, list(h.raw_rows) if raw else dict(h.groups)))
            return out

    def retire(self, handle: DynamicHandle) -> None:
        """Take a finished handle off the serving path once its terminal
        RESULT and SIGNAL are out (the reference drops a query's state once
        it is done, JoinStreaming.scala:98,145,157). Its id keeps a
        tombstone; the handle stays readable in ``queries`` until
        ``_RETAIN_FINISHED`` newer handles have retired, and its merged
        state goes with it."""
        with self._lock:
            self.finished[handle.query_id] = handle.state
            self.finished.move_to_end(handle.query_id)
            if len(self.finished) > _TOMBSTONES:
                self.finished.popitem(last=False)
            self._retired.append(handle)
            if len(self._retired) > _RETAIN_FINISHED:
                old = self._retired.popleft()
                if self.queries.get(old.query_id) is old:
                    del self.queries[old.query_id]

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """The FilterStreaming.transformWith analogue: snapshot the registry,
        run every live spec against this micro-batch in one routed job (the
        reference's one pass over the records for all queries,
        FilterStreaming.scala:54-67), merge partials, then wake the
        publisher."""
        with self._lock:
            live = [
                (h, h.spec)
                for h in self.queries.values()
                if h.state is QueryState.RUNNING
            ]
            epoch = self._epoch
        if live:
            self._serve(batch_df, epoch_id, live, epoch)
        # the batch boundary is the unit of serving latency: the publisher
        # emits this batch's merge (and any lifecycle change) now, not on
        # its next timer tick
        self.merged.set()

    def _serve(self, batch_df: DataFrame, epoch_id: int, live: list, epoch: int) -> None:
        rec = BatchRecord(epoch_id)
        t = time.perf_counter()
        if self._plan_cache is not None and self._plan_cache[0] == epoch:
            compiled = self._plan_cache[1]
        else:
            rec.compile_hit = False
            compiled = self._compile_live(live)
            self._plan_cache = (epoch, compiled)
        agg_compiled, raw_compiled = compiled
        rec.compile_ms = _ms_since(t)
        t = time.perf_counter()
        # a one-partition batch (one file per trigger, the common case at
        # serving rates) needs no exchange: coalesce(1) hands the
        # aggregation a SinglePartition child, so Catalyst plans its partial
        # and final halves in ONE task instead of 1 + shuffle-partition
        # tasks. More partitions keep the exchange and its parallelism.
        if self._num_partitions(batch_df) == 1:
            batch_df = batch_df.coalesce(1)
            rec.single_stage = True
        # Per-batch job confs (restored after): the routed-aggregation job's
        # output is bounded partials, its plan is a scan→explode→hash-agg
        # with no joins — so (a) reducer fan-out buys nothing, and each
        # fresh frame would pay AQE's replan rounds as pure latency
        # (~50 ms/batch measured);
        # (b) constraint propagation walks the 32-branch routing expression
        # for join-filter inference that can never apply (~30 ms/batch).
        # Both matter because this body runs at MICRO-BATCH cadence — per-
        # batch driver latency is the control plane's serving floor.
        confs = {
            "spark.sql.shuffle.partitions": str(_BATCH_SHUFFLE_PARTITIONS),
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.constraintPropagation.enabled": "false",
        }
        # the batch frame's own session: foreachBatch binds it to the
        # stream's clone, where confs set on self.spark never arrive
        conf = batch_df.sparkSession.conf
        prev: dict[str, str] = {}
        for k, v in confs.items():
            prev[k] = conf.get(k)
            conf.set(k, v)
        rec.frame_ms = _ms_since(t)
        try:
            if agg_compiled is not None:
                self._run_agg(batch_df, agg_compiled, rec)
            if raw_compiled is not None:
                t = time.perf_counter()
                self._run_raw(batch_df, raw_compiled)
                rec.raw_ms = _ms_since(t)
        finally:
            for k, v in prev.items():
                conf.set(k, v)
        with self._lock:
            self._expire(time.time())
        self.batches.append(rec)

    @staticmethod
    def _num_partitions(batch_df: DataFrame) -> int:
        """Input partition count of a batch frame. ``foreachBatch`` hands
        over a LogicalRDD over the batch's scan, whose RDD answers in about
        1 ms; ``.rdd.getNumPartitions()`` re-plans the frame (15-50 ms per
        batch, measured) and ``inputFiles()`` is empty on a LogicalRDD.
        Frames from direct callers take the ``.rdd`` route."""
        plan = batch_df._jdf.queryExecution().logical()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            return plan.rdd().getNumPartitions()
        return batch_df.rdd.getNumPartitions()

    def _compile_live(
        self, live: list[tuple["DynamicHandle", Query]]
    ) -> tuple:
        """Build the shared routed plans for the live set — cached across
        batches by process_batch while the registry is unchanged (Column
        construction is py4j-bound and batch-invariant). Returns
        (aggregation plan or None, RAW plan or None)."""
        agg_live = [
            (h, s) for h, s in live if not isinstance(s.aggregation, RawAgg)
        ]
        raw_live = [(h, s) for h, s in live if isinstance(s.aggregation, RawAgg)]
        return (
            self._compile_agg(agg_live) if agg_live else None,
            self._compile_raw(raw_live) if raw_live else None,
        )

    @staticmethod
    def _route_col(
        members: list[tuple["DynamicHandle", Query]],
        gids: dict[str, int] | None = None,
    ):
        """Route each row to the queries whose filter it matches: a
        generator (``inline``) yielding one ``__qid`` row per matching query
        — with ``gids``, a (``__qid``, ``__gid``) row tagged with that
        query's field-set id (one array of per-query guards, prebuilt
        once).

        Fast path: render the whole routing expression as ONE SQL string
        via the expression AST's ``sql()`` (a single F.expr py4j round
        trip); ids are escaped SQL literals. Building it node-by-node
        through py4j costs ~0.24 s for 32 queries — pure driver latency
        paid on EVERY registry change, the dominant term of the control
        plane's registry-churn cost (the reference re-broadcasts hundreds
        of queries per batch; compile latency IS the serving metric).
        Falls back to the per-node Column path for filters with no SQL
        text form."""
        from bullet_spark_spark.functions.exprs import ExprSQLUnsupported, _sql_lit

        try:
            parts = []
            for h, spec in members:
                pred = "true" if spec.filter is None else spec.filter.sql()
                tag = f"'__qid', {_sql_lit(h.query_id)}"
                if gids is not None:
                    tag += f", '__gid', {gids[h.query_id]}"
                parts.append(
                    f"if(coalesce(({pred}), false), named_struct({tag}), null)"
                )
            return F.inline(F.expr(f"array_compact(array({', '.join(parts)}))"))
        except ExprSQLUnsupported:
            pass
        tagged = F.array(
            *[
                F.struct(
                    F.struct(
                        F.lit(h.query_id).alias("__qid"),
                        *([] if gids is None else [F.lit(gids[h.query_id]).alias("__gid")]),
                    ).alias("r"),
                    (
                        spec.filter.col() if spec.filter is not None else F.lit(True)
                    ).alias("m"),
                )
                for h, spec in members
            ]
        )
        return F.inline(
            F.transform(
                F.filter(tagged, lambda s: F.coalesce(s["m"], F.lit(False))),
                lambda s: s["r"],
            )
        )

    def _compile_agg(self, live: list[tuple["DynamicHandle", Query]]) -> tuple:
        """The shared routed-aggregation plan. Each row EXPLODES to one
        (query id, field-set id) pair per query whose filter it matches —
        Σ selectivity rows, not one per query. Every column of the union of
        group keys keeps its value only on routed rows whose field set
        groups by it and is NULL elsewhere, so ONE plain aggregation keyed
        by (query_id, masked keys) returns exactly each query's own groups
        (Σ per-query distinct keys), computing the UNION of (op, field)
        pairs any query needs — aggregate state per group is
        #distinct-(op,field) pairs, not #queries × ops. A routed row lands
        in its query's groups, so group presence itself is the matched-row
        sentinel (a group whose agg inputs are all NULL still surfaces —
        COUNT_FIELD=0 / MIN=NULL, matching plan-per-query). TopK and exact
        CountDistinct group on their field tuple with a count; Distribution
        specs group on a DERIVED bucket (linear floor(v/width) for
        QUANTILE, point thresholds for PMF/CDF), evaluated on that query's
        rows only. Returns (route generator, masked key columns, shared
        aggregate columns, {qid: (handle, key positions, op metadata)})."""

        def spec_ops(agg) -> list[tuple]:
            if isinstance(agg, GroupAgg):
                return list(agg.operations) or [(AggOp.COUNT, None, "count")]
            if isinstance(agg, CountDistinctAgg) and agg.approx:
                # pseudo-op: one HLL sketch blob per batch over the field
                # tuple; ~1.04/sqrt(2^12) rsd, DataSketches-compatible
                return [(_HLL, "\x1f".join(agg.fields), "hll")]
            return [(AggOp.COUNT, None, "count")]  # TopK / exact CD / Dist

        # Column construction is py4j round trips (about 100 ms for 29 live
        # queries, measured), and at serving rates the registry changes
        # nearly every batch: a recompile reuses the columns the last plan
        # built and builds only what newly registered queries add (about
        # 2 ms for one new query among 29)
        prev, built = self._columns, {}

        def column(key: tuple, build) -> Column:
            if key not in built:
                c = prev.get(key)
                built[key] = build() if c is None else c
            return built[key]

        # each query's group keys by name — plain fields, or one derived
        # bucket per Distribution spec — and how to build each key column
        keys_of: dict[str, list[str]] = {}
        builds: dict[str, tuple[tuple, Any]] = {}  # name -> (what, build)
        for handle, spec in live:
            agg = spec.aggregation
            if isinstance(agg, DistributionAgg):
                name = f"__bk_{handle.query_id}"
                builds[name] = (("bucket", repr(agg)), lambda agg=agg: _bucket(agg))
                keys_of[handle.query_id] = [name]
            elif isinstance(agg, CountDistinctAgg) and agg.approx:
                keys_of[handle.query_id] = []  # state is the HLL blob
            else:
                for f in agg.fields:
                    builds.setdefault(f, (("col", f), lambda f=f: F.col(f)))
                keys_of[handle.query_id] = list(agg.fields)

        # field sets by MEMBERSHIP (sorted), not declaration order: GROUP BY
        # a,b and GROUP BY b,a key the same groups
        gids: dict[str, int] = {}
        sets: dict[tuple[str, ...], int] = {}
        for handle, _spec in live:
            fields = tuple(sorted(keys_of[handle.query_id]))
            gids[handle.query_id] = sets.setdefault(fields, len(sets))
        key_names = list(builds)
        key_cols = []
        for name, (what, build) in builds.items():
            in_sets = [g for fields, g in sets.items() if name in fields]
            mask = tuple(in_sets) if len(in_sets) < len(sets) else None

            def key_col(name=name, build=build, mask=mask) -> Column:
                c = build()
                if mask is not None:
                    c = F.when(F.col("__gid").isin(list(mask)), c)
                return c.alias(name)

            key_cols.append(column(("key", name, what, mask), key_col))

        route_col = self._route_col(live, gids)

        # union of aggregate columns any query needs, computed once each;
        # AVG decomposes into its mergeable SUM + COUNT_FIELD partials
        # (finalized sink-side), sharing buffers with explicit SUM/COUNT ops
        shared: dict[str, Column] = {}
        for _h, spec in live:
            for op, fld, _out in spec_ops(spec.aggregation):
                needed = (
                    [(AggOp.SUM, fld), (AggOp.COUNT_FIELD, fld)]
                    if op is AggOp.AVG
                    else [(op, fld)]
                )
                for op2, fld2 in needed:
                    name = f"{getattr(op2, 'value', op2)}_{fld2 or ''}"
                    if name not in shared:
                        shared[name] = column(
                            ("agg", name),
                            lambda op2=op2, fld2=fld2, name=name: _shared_agg(op2, fld2).alias(name),
                        )
        self._columns = built
        # result row: (__qid, *key_names, *shared)
        agg_pos = {name: 1 + len(key_names) + i for i, name in enumerate(shared)}

        plans_by_qid: dict[str, tuple] = {}
        for handle, spec in live:
            op_meta = [
                (
                    op,
                    (agg_pos[f"SUM_{fld}"], agg_pos[f"COUNT_FIELD_{fld}"])
                    if op is AggOp.AVG
                    else agg_pos[f"{getattr(op, 'value', op)}_{fld or ''}"],
                )
                for op, fld, _ in spec_ops(spec.aggregation)
            ]
            key_pos = [1 + key_names.index(name) for name in keys_of[handle.query_id]]
            plans_by_qid[handle.query_id] = (handle, key_pos, op_meta)
        return (route_col, key_cols, list(shared.values()), plans_by_qid)

    def _compile_raw(self, live: list[tuple["DynamicHandle", Query]]) -> tuple:
        """Routed RAW collection plan: one explode over the raw specs'
        filters; per batch the live remainder caps each query's take
        (bullet Q16 — a RAW query completes at its limit)."""
        return (
            self._route_col(live),
            {h.query_id: h for h, _ in live},
            {h.query_id: s.aggregation.limit for h, s in live},
        )

    @staticmethod
    def _collect_rows(df: DataFrame) -> list:
        """Arrow-batched result transfer: ~5× faster than Row collect for
        the wide-and-short frames this stage produces; nulls stay None
        (to_pylist), types stay native."""
        try:
            tbl = df.toArrow()
            cols = [c.to_pylist() for c in tbl.columns]
            return list(zip(*cols)) if cols and tbl.num_rows else []
        except Exception:
            return [tuple(r) for r in df.collect()]

    def _run_raw(self, batch_df: DataFrame, compiled: tuple) -> None:
        """Routed RAW take: append matched records up to each query's
        remaining limit; reaching the limit completes the query (Q16,
        JoinStreaming.scala:142-146)."""
        route_col, handles_by_qid, limits = compiled
        with self._lock:
            live_now = {
                qid: h
                for qid, h in handles_by_qid.items()
                if h.state is QueryState.RUNNING and len(h.raw_rows) < limits[qid]
            }
        if not live_now:
            return
        from pyspark.sql.window import Window as W_spark

        remaining = F.create_map(
            *[
                F.lit(x)
                for qid, h in live_now.items()
                for x in (qid, limits[qid] - len(h.raw_rows))
            ]
        )
        routed = batch_df.select(route_col, "*").filter(
            F.col("__qid").isin(*live_now)
        )
        w = W_spark.partitionBy("__qid").orderBy(F.monotonically_increasing_id())
        picked = (
            routed.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= remaining[F.col("__qid")])
            .drop("__rn")
        )
        rows = self._collect_rows(picked)
        cols = list(batch_df.columns)
        with self._lock:
            for r in rows:
                h = live_now[r[0]]
                if h.state is not QueryState.RUNNING:
                    continue  # ended during the take: its result is final
                if h.raw_columns is None:
                    h.raw_columns = cols
                h.raw_rows.append(tuple(r[1:]))
                self._changed[id(h)] = h
            now = time.time()
            for qid, h in live_now.items():
                if len(h.raw_rows) >= limits[qid] and h.state is QueryState.RUNNING:
                    del h.raw_rows[limits[qid]:]
                    self._end(h, QueryState.COMPLETED, now)

    @staticmethod
    def _agg_frame(batch_df: DataFrame, compiled: tuple) -> DataFrame:
        """The shared routed-aggregation DataFrame for one batch (exposed
        for plan-contract tests): route, then one plain aggregation keyed by
        (query_id, masked group keys)."""
        route_col, key_cols, agg_cols, _plans = compiled
        return (
            batch_df.select(route_col, "*")
            .groupBy(F.col("__qid"), *key_cols)
            .agg(*agg_cols)
        )

    def _run_agg(self, batch_df: DataFrame, compiled: tuple, rec: BatchRecord) -> None:
        """One aggregation job for EVERY live query across all field sets."""
        plans_by_qid = compiled[3]
        t = time.perf_counter()
        frame = self._agg_frame(batch_df, compiled)
        rec.frame_ms += _ms_since(t)
        t = time.perf_counter()
        rows = self._collect_rows(frame)
        rec.job_ms = _ms_since(t)
        rec.partial_rows = len(rows)
        t = time.perf_counter()
        # merge under the registry lock: the publisher's take_changed
        # copies handle.groups concurrently, and dict insertion during its
        # iteration would raise there
        with self._lock:
            matched: dict[int, DynamicHandle] = {}
            for r in rows:
                handle, key_pos, op_meta = plans_by_qid[r[0]]
                if handle.state is not QueryState.RUNNING:
                    continue  # ended during the job: its result is final
                matched[id(handle)] = handle
                key = tuple(r[p] for p in key_pos)
                vals = [
                    (r[pos[0]], r[pos[1]]) if op is AggOp.AVG else r[pos]
                    for op, pos in op_meta
                ]
                cur = handle.groups.get(key)
                if cur is None:
                    handle.groups[key] = vals
                else:
                    # None-safe merge: a nullable agg field can yield a
                    # NULL partial for an existing group — never feed
                    # None into sum/min/max. AVG merges its (sum, count)
                    # partial pair component-wise.
                    handle.groups[key] = [
                        _merge_partial(op, a, b)
                        for (op, _pos), a, b in zip(op_meta, cur, vals)
                    ]
            # per-query emit-rate guard, enforced in the shared stage too —
            # the reference checks in BOTH stages (FilterStreaming.scala:
            # 129-133, JoinStreaming.scala:152-159): a batch that updated a
            # query's state counts as one emission
            self._changed.update(matched)
            now = time.time()
            for handle in matched.values():
                if handle.rate_limit is None:
                    continue
                handle.emit_times.append(now)
                err = handle.rate_limit.check(handle.emit_times, now)
                if err is not None:
                    handle.error = err
                    self._end(handle, QueryState.FAILED, now)
        rec.merge_ms = _ms_since(t)

    def start(
        self,
        stream_df: DataFrame,
        trigger_ms: int = 500,
        checkpoint_dir: str | None = None,
        available_now: bool = False,
        timeout_s: float = 120,
    ):
        """Serve every registered query from ``stream_df``, one
        ``process_batch`` per micro-batch, and return the stream.

        A processing-time stream keeps running until ``stop()``. With
        ``available_now`` the stream drains what its source holds
        (``sources.streaming.drain``) and every live query then ends
        COMPLETED. A drain still running after ``timeout_s`` is stopped:
        every live query ends FAILED with the timeout as its error, and
        the ``TimeoutError`` propagates; a failed stream does the same
        with its own error."""
        if available_now:
            state, error = QueryState.COMPLETED, None

            def started(stream) -> None:
                self._stream = stream

            try:
                drain(
                    stream_df,
                    foreach_batch=self.process_batch,
                    checkpoint_dir=checkpoint_dir,
                    timeout_s=timeout_s,
                    on_start=started,
                )
            except Exception as e:
                state, error = QueryState.FAILED, str(e)[:500]
                raise
            finally:
                with self._lock:
                    now = time.time()
                    for h in self.queries.values():
                        if h.state is QueryState.RUNNING:
                            h.error = error
                            self._end(h, state, now)
                self.merged.set()
            return self._stream
        writer = stream_df.writeStream.foreachBatch(self.process_batch)
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        self._stream = writer.trigger(processingTime=f"{trigger_ms} milliseconds").start()
        return self._stream

    def stop(self) -> None:
        if self._stream is not None and self._stream.isActive:
            self._stream.stop()
