"""Streaming source helpers — the Spark-first replacement for the
reference's receiver/DSL producer stack (DataProducer.scala:22-58,
DSLReceiver.scala:19-63): sources are ``readStream`` formats; deserialization
is ``from_json``/``from_avro``; converters are column projections.

``file_drip`` re-plays a batch DataFrame as a file stream in K chunks — the
deterministic test source standing in for the reference's queueStream/
MockDataProducer pattern (MockDataProducer.scala:15-47).

``drain`` is the engine's one bounded stream run (Trigger.AvailableNow, the
run-once/backfill form of a Bullet query's bounded result): every drain in
the package and the entry registry starts and waits through it. It never
returns a partial result (a run that outlives its timeout is stopped and
raises ``TimeoutError``), never leaves a stream running, and reads its
result from a memory sink named for that one call, whose view it drops
before returning. ``drain_shuffle_partitions`` sizes the run's state
partitions; the run holds that session conf only around ``start()``, under
one module lock. A stream fixes its state partition count when it starts,
so holding the conf for the whole run buys nothing, and two overlapping
runs that each restore it on exit could leave the other's value set."""

from __future__ import annotations

import os
import tempfile
import threading
import uuid
from collections.abc import Callable
from contextlib import contextmanager, nullcontext

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType, TimestampNTZType, TimestampType


@contextmanager
def drain_shuffle_partitions(
    spark: SparkSession,
    replayed: DataFrame,
    bytes_per_partition: int = 64 * 1024 * 1024,
    min_partitions: int = 8,
):
    """Scale a drain's shuffle/STATE partition count to the replayed
    frame's size instead of the session's data-plane default, for the
    start of one streaming drain (:func:`drain` holds it around
    ``start()``).

    Why: a Structured Streaming stateful operator fixes its state
    partition count from ``spark.sql.shuffle.partitions`` at query start
    (AQE does NOT coalesce inside streaming), and EVERY micro-batch then
    pays a per-partition state-store load + delta-file commit for ALL of
    them — partitions holding no keys included (measured at sf0.1: a
    10-group streaming aggregate drains in 1.13 s at 8 partitions vs
    1.95 s at the 32-partition session default; state-store
    commitTimeMs dominates addBatch). The session default is sized for
    data-plane shuffles; a drain replaying a frame of KNOWN size should
    size its state shuffle the way AQE sizes batch shuffles:
    max(ceil(input bytes / advisory partition size), a small
    parallelism floor), clamped to the session default. Scale-ADAPTIVE,
    not local-mode tuning (guide §2: derive partitioning from input
    size — a 100 TB replay keeps the full partition count; a megabyte
    drain stops paying dozens of state-store commits per micro-batch
    for one partition of keys). The floor keeps multi-group Python
    stateful stages (applyInPandasWithState) from serializing all
    groups through one task — measured pessimal at 1 partition.

    Output is unchanged by construction: every drained operator in this
    engine (window/session aggregates, bucket counts, the semilattice
    monitors, stream joins, watermark dedup) is
    partition-count-independent, which their drip ≡ one-shot parity
    tests pin."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        size = int(
            replayed._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        n = max(
            min_partitions, min(int(prev), -(-size // bytes_per_partition))
        )
        n = min(n, int(prev))  # floor never RAISES past the session conf
    except Exception:
        n = int(prev)  # stats unavailable: keep the session default
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


# one default for every bounded run; a drain that outlives it is stopped
DRAIN_TIMEOUT_S = 300
# held around a drain's start(): the shuffle-partition conf it sizes is
# session-global, and a stream reads it only when it starts
_starting = threading.Lock()


def drain(
    frame: DataFrame,
    replayed: DataFrame | None = None,
    output_mode: str = "append",
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    checkpoint_dir: str | None = None,
    timeout_s: float = DRAIN_TIMEOUT_S,
    on_start: Callable[[StreamingQuery], None] | None = None,
) -> DataFrame | None:
    """Run the streaming ``frame`` once over everything its source holds
    (Trigger.AvailableNow) and wait for it to finish.

    Without ``foreach_batch`` the rows go to a memory sink and the result
    is a DataFrame of what it holds: every row in ``append`` mode, the
    last result in ``complete`` mode. The frame keeps its rows after the
    sink's view, named for this call, is dropped, so two threads can
    drain the same query at once. With ``foreach_batch`` that function
    receives each micro-batch and the result is None.

    ``replayed`` is the batch frame the stream replays, when there is one:
    its size sets the state partition count (:func:`drain_shuffle_partitions`);
    without it the session's count stands. ``on_start`` sees the query
    once it has started. The checkpoint goes to a temporary directory
    unless ``checkpoint_dir`` is given. A failed stream raises its error;
    one still running after ``timeout_s`` is stopped and raises
    ``TimeoutError``. Either way no stream is left running."""
    spark = frame.sparkSession
    writer = frame.writeStream.outputMode(output_mode).trigger(availableNow=True)
    name = None
    if foreach_batch is None:
        name = f"__drain_{uuid.uuid4().hex}"
        writer = writer.format("memory").queryName(name)
    else:
        writer = writer.foreachBatch(foreach_batch)
    with tempfile.TemporaryDirectory(prefix="drain-ck-") as tmp:
        writer = writer.option("checkpointLocation", checkpoint_dir or tmp)
        sizing = (
            nullcontext()
            if replayed is None
            else drain_shuffle_partitions(spark, replayed)
        )
        with _starting, sizing:
            sq = writer.start()
        try:
            if on_start is not None:
                on_start(sq)
            if not sq.awaitTermination(timeout_s):
                raise TimeoutError(f"drain still running after {timeout_s} s")
            return None if name is None else spark.table(name)
        finally:
            if sq.isActive:
                sq.stop()
            if name is not None:
                spark.catalog.dropTempView(name)


def ensure_event_time(df: DataFrame, col: str) -> DataFrame:
    """Make ``col`` usable as an event-time column. Parquet ``timestamp[us]``
    without a zone arrives as TIMESTAMP_NTZ in Spark 4, and
    ``withWatermark`` / stream-stream joins require instant-typed TIMESTAMP.
    The cast is a zero-cost codegen projection; already-instant columns pass
    through untouched."""
    if isinstance(df.schema[col].dataType, TimestampNTZType):
        return df.withColumn(col, F.col(col).cast(TimestampType()))
    return df


def file_drip(
    spark: SparkSession,
    df: DataFrame,
    work_dir: str,
    chunks: int = 4,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Write ``df`` as ``chunks`` parquet files, return an unbounded reader
    that consumes them ``max_files_per_trigger`` at a time (micro-batch
    boundaries become deterministic)."""
    data_dir = os.path.join(work_dir, "data")
    os.makedirs(data_dir, exist_ok=True)
    df.repartition(chunks).write.mode("overwrite").parquet(data_dir)
    return (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(data_dir)
    )


def decode_json(df: DataFrame, schema: StructType, col: str = "value") -> DataFrame:
    """The deserialize+convert stage (ref DSLDataProducer.scala:25-30:
    ``map(deserialize).map(convert)``) as a single typed projection —
    JSON text column → flattened typed columns; works identically on batch
    and streaming frames."""
    return df.select(F.from_json(F.col(col), schema).alias("r")).select("r.*")


def decode_json_with_dlq(
    df: DataFrame, schema: StructType, col: str = "value"
) -> tuple[DataFrame, DataFrame]:
    """Deserialize with a DEAD-LETTER path instead of silent drops: returns
    (good, bad) frames from one decode. A record is bad when it fails to
    parse OR parses to all-NULL fields (from_json's PERMISSIVE output for
    schema-mismatched text). ``bad`` keeps the raw payload for replay.

    The reference logs-and-drops malformed records
    (DSLDataProducer.scala:25-30 deserialize/convert, errors swallowed per
    record); at pipeline scale a drop is data loss with no audit trail —
    the DLQ frame is writable to a quarantine sink and re-playable after a
    schema fix. Both outputs are projections of the same decode (Catalyst
    computes from_json once per branch; no shuffle, no UDF)."""
    parsed = df.withColumn("__r", F.from_json(F.col(col), schema))
    any_field = F.greatest(
        *[F.col(f"__r.{f.name}").isNotNull() for f in schema.fields], F.lit(False)
    )
    all_null = ~any_field
    bad = parsed.filter(F.col("__r").isNull() | all_null).select(
        F.col(col).alias("raw"), F.current_timestamp().alias("dlq_ts")
    )
    good = parsed.filter(F.col("__r").isNotNull() & ~all_null).select("__r.*")
    return good, bad


def union_sources(dfs: list[DataFrame]) -> DataFrame:
    """Producer fan-in (ref ``ssc.union(bulletRecordStreams)``,
    QueryDataUnioning.scala:85-91): N record streams, one logical stream.
    unionByName keeps it schema-safe; works on unbounded frames."""
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_time: str,
    right_time: str,
    max_delay: str = "10 minutes",
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: pair each left event with
    right events for the same ``key`` whose time lies in
    [left_time, left_time + max_delay] — the attribution pattern
    (click ⇄ purchase within N minutes) the reference cannot express at
    all (its only join is the per-query state merge,
    JoinStreaming.scala:20-27; SURVEY §2.5 gap ledger).

    Both sides get a watermark, and the join condition bounds BOTH event
    times, which is what lets Structured Streaming expire join state: a
    buffered left row can be dropped once the right watermark passes
    left_time + max_delay (and vice versa) — without the time bound the
    state grows forever at 100 TB/day. Outer variants emit the unmatched
    row only when the watermark proves no match can still arrive.

    The key equality keeps the join a hash join keyed on ``key`` —
    state and shuffle both partition by key, no all-pairs interval scan."""
    lt, rt = f"__l_{left_time}", f"__r_{right_time}"
    l = ensure_event_time(left, left_time).withColumnRenamed(left_time, lt)
    r = ensure_event_time(right, right_time).withColumnRenamed(right_time, rt)
    l = l.withWatermark(lt, watermark)
    r = r.withWatermark(rt, watermark)
    cond = (
        (l[key] == r[key])
        & (F.col(rt) >= F.col(lt))
        & (F.col(rt) <= F.col(lt) + F.expr(f"INTERVAL {max_delay}"))
    )
    joined = l.join(r, cond, how).drop(r[key])
    return (
        joined.withColumnRenamed(lt, left_time)
        .withColumnRenamed(rt, right_time)
    )


def file_drip_ordered(
    spark: SparkSession,
    df: DataFrame,
    work_dir: str,
    order_col: str,
    chunks: int = 4,
    extra_chunks: tuple[DataFrame, ...] = (),
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """TIME-ORDERED replay of a historical frame through the streaming
    path: like :func:`file_drip`, but chunk k contains strictly earlier
    ``order_col`` ranges than chunk k+1 (ntile over the global order) and
    the files carry strictly increasing mtimes so FileStreamSource's
    oldest-first listing replays them in event-time order. That is the
    backfill/replay posture: a watermark of any positive delay never
    drops a row as late, because cross-chunk disorder is zero by
    construction (rows inside one micro-batch are never late — the
    watermark only advances at batch end).

    ``extra_chunks``: frames appended as their OWN ordered chunk files
    after the data — the watermark-flush idiom for append-mode drains.
    Two far-future sentinel chunks guarantee every real window/session
    finalizes: the first sentinel pushes the watermark past all real
    event time once the SECOND sentinel's batch runs, independent of
    whether the engine schedules a trailing no-data micro-batch.

    Harness-scale util (the global ntile sort is one task): production
    replay at 100 TB would range-partition by event time and replay
    partition directories in order — the same contract, different writer.
    """
    import shutil
    import time as _time

    data_dir = os.path.join(work_dir, "data")
    os.makedirs(data_dir, exist_ok=True)
    from pyspark.sql.window import Window as _W

    # persist the ntile'd frame: the per-chunk writes below would otherwise
    # each recompute the GLOBAL sort the window implies — chunks+0..2 full
    # sorts of the replayed frame at construction time (measured: the
    # session drain paid 4 ntile sorts + 2 sentinel aggregate scans before
    # the drain started, r11 job-count audit). One sort fills the cache on
    # the first chunk write; the rest filter the cached single partition.
    chunked = df.withColumn(
        "__c", F.ntile(chunks).over(_W.orderBy(F.col(order_col)))
    ).persist()
    base_t = _time.time() - 3600
    seq = 0

    def _write_one(frame: DataFrame, seq: int) -> None:
        tmp = os.path.join(work_dir, f"__tmp{seq}")
        frame.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(
            p for p in sorted(os.listdir(tmp)) if p.endswith(".parquet")
        )
        dest = os.path.join(data_dir, f"chunk_{seq:04d}.parquet")
        shutil.move(os.path.join(tmp, part), dest)
        shutil.rmtree(tmp)
        t = base_t + seq * 2.0
        os.utime(dest, (t, t))

    try:
        for c in range(1, chunks + 1):
            _write_one(chunked.filter(F.col("__c") == c).drop("__c"), seq)
            seq += 1
        for ex in extra_chunks:
            _write_one(ex.select(*df.columns), seq)
            seq += 1
    finally:
        chunked.unpersist()
    return (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(data_dir)
    )
