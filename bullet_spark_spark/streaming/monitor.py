"""Stateful streaming monitors — per-key EWMA anomaly detection.

The streaming counterpart of operators/temporal.ewma and zscore_anomalies:
an unbounded per-key state (exponential mean + variance) updated every
micro-batch via ``applyInPandasWithState``, flagging records whose
deviation from the running EWMA exceeds a z-threshold — the
drift/outlier monitor a training-data ingest runs ON the stream, before
anything lands (reject a crawler gone wrong in-flight rather than in the
next day's batch profile).

State math (West 1979 exponential moments, the standard recursive form):

    d   = x − m
    m  ←  m + α·d
    v  ←  (1 − α)·(v + α·d²)

Per-key state is three scalars — bounded regardless of stream length, and
exactly the state shape the RocksDB store (session.get_spark
rocksdb_state=True) holds per key at 100× cardinality. Rows within a
micro-batch process in (ts, tiebreak) order per key; cross-batch order is
arrival order, as for any streaming fold.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("m", StringType()),  # repr(float) — exact roundtrip
        StructField("v", StringType()),
    ]
)


def ewma_anomalies(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    alpha: float = 0.1,
    z_threshold: float = 4.0,
    warmup: int = 10,
) -> DataFrame:
    """Streaming per-key EWMA anomaly flags → (keys…, ts, value, ewma,
    z, is_anomaly). ``ewma``/``z`` are the PRE-update values (the record
    is judged against history, not against itself); records inside the
    first ``warmup`` observations of a key never flag (the moments are
    still settling). State: three scalars per key."""
    keys = list(key_cols)
    out_fields = [StructField(k, df.schema[k].dataType) for k in keys]
    out_fields += [
        StructField("ts", df.schema[ts_col].dataType),
        StructField("value", DoubleType()),
        StructField("ewma", DoubleType()),
        StructField("z", DoubleType()),
        StructField("is_anomaly", BooleanType()),
    ]
    out_schema = StructType(out_fields)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import math

        if state.exists:
            n, m_s, v_s = state.get
            m, v = float(m_s), float(v_s)
        else:
            n, m, v = 0, 0.0, 0.0

        rows: list[tuple] = []
        for pdf in pdfs:
            pdf = pdf.sort_values([ts_col, value_col], kind="mergesort")
            for ts, x in zip(pdf[ts_col], pdf[value_col]):
                xv = float(x) if x is not None else None
                if xv is None:
                    continue
                if n == 0:
                    ewma_before, z = xv, 0.0
                else:
                    ewma_before = m
                    sd = math.sqrt(v) if v > 0 else 0.0
                    z = (xv - m) / sd if sd > 0 else 0.0
                flag = bool(n >= warmup and abs(z) > z_threshold)
                rows.append(key + (ts, xv, ewma_before, z, flag))
                d = xv - m if n > 0 else 0.0
                if n == 0:
                    m = xv
                else:
                    m = m + alpha * d
                    v = (1.0 - alpha) * (v + alpha * d * d)
                n += 1

        state.update((n, repr(m), repr(v)))
        yield pd.DataFrame(
            rows, columns=keys + ["ts", "value", "ewma", "z", "is_anomaly"]
        )

    return df.groupBy(*[F.col(k) for k in keys]).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("sp", StringType()),  # repr(float) — exact roundtrip
        StructField("sn", StringType()),
    ]
)


def cusum_monitor(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    mean: float,
    std: float,
    k_slack: float = 0.5,
    h_threshold: float = 4.0,
    baselines: dict[tuple, tuple[float, float]] | None = None,
) -> DataFrame:
    """Streaming per-key two-sided CUSUM against a FROZEN baseline →
    (keys…, ts, value, z, s_pos, s_neg, alarm): the in-flight companion
    of temporal.cusum_path (which standardizes against the batch's own
    statistics — a stream can't see those, and drift-from-a-pinned-
    baseline is the statistically honest streaming question anyway: the
    baseline comes from the accepted corpus, exactly like the frozen
    quality classifier and frozen drift centroids).

        s⁺ ← max(0, s⁺ + z − k)   s⁻ ← max(0, s⁻ − z − k)
        alarm iff s⁺ > h or s⁻ > h   (judged AFTER absorbing the record)

    ``baselines`` optionally maps key tuples to per-key (mean, std) —
    key-space-sized, captured in the closure like the frozen-model
    coefficient broadcasts; ``mean``/``std`` are the fallback. Per-key
    state is TWO scalars (bounded forever; RocksDB-ready). Rows within a
    micro-batch process in (ts, value) order; cross-batch order is
    arrival order, as for any streaming fold — the drip ≡ one-batch
    parity test pins that the state carries exactly."""
    keys = list(key_cols)
    base = dict(baselines or {})
    out_fields = [StructField(k, df.schema[k].dataType) for k in keys]
    out_fields += [
        StructField("ts", df.schema[ts_col].dataType),
        StructField("value", DoubleType()),
        StructField("z", DoubleType()),
        StructField("s_pos", DoubleType()),
        StructField("s_neg", DoubleType()),
        StructField("alarm", BooleanType()),
    ]
    out_schema = StructType(out_fields)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            sp_s, sn_s = state.get
            sp, sn = float(sp_s), float(sn_s)
        else:
            sp, sn = 0.0, 0.0
        m, s = base.get(key, (mean, std))
        s = s if s and s > 0 else 1.0

        rows: list[tuple] = []
        for pdf in pdfs:
            pdf = pdf.sort_values([ts_col, value_col], kind="mergesort")
            for ts, x in zip(pdf[ts_col], pdf[value_col]):
                if x is None:
                    continue
                xv = float(x)
                z = (xv - m) / s
                sp = max(0.0, sp + z - k_slack)
                sn = max(0.0, sn - z - k_slack)
                alarm = bool(sp > h_threshold or sn > h_threshold)
                rows.append(key + (ts, xv, z, sp, sn, alarm))

        state.update((repr(sp), repr(sn)))
        yield pd.DataFrame(
            rows,
            columns=keys + ["ts", "value", "z", "s_pos", "s_neg", "alarm"],
        )

    return df.groupBy(*[F.col(k) for k in keys]).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=_CUSUM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_HH_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("summary", StringType()),  # json {"k": [...], "c": [...], "e": [...]}
    ]
)


def heavy_hitters_monitor(
    df: DataFrame,
    key_col: str,
    m: int = 64,
    n_shards: int = 8,
) -> DataFrame:
    """Streaming Space-Saving heavy hitters → a per-micro-batch summary
    SNAPSHOT: (shard, key, est, err, n_seen). The continuous version of
    the batch mergeable frequent-items sketch (operators/sketch.py) and
    the answer to "which sources/domains/tokens dominate the stream
    RIGHT NOW" without a per-key state explosion — per-key counting on
    an open-vocabulary stream grows without bound; Space-Saving
    (Metwally–Agrawal–El Abbadi 2005, public knowledge) holds exactly
    ``m`` counters per shard forever.

    Guarantees (per shard, n = rows absorbed by that shard):
      * est >= true >= est − err for every tracked key;
      * any key with true count > n/m is guaranteed tracked;
      * state is EXACTLY min(m, distinct-so-far) counters — bounded for
        the life of the stream (RocksDB-ready, like the CUSUM scalars).

    Keys hash-shard via ``pmod(xxhash64(key), n_shards)`` so the state
    per group stays m-sized while throughput scales with shards; a
    consumer merges shards by summing est/err per key (the guarantees
    add). Rows within a micro-batch process in sorted key order and the
    eviction victim ties break by (count, key) — deterministic given
    the same batch boundaries; cross-batch result is order-dependent
    like every summary sketch (the exact-regime drip ≡ one-shot parity
    test pins the state carry; the constrained regime pins the
    guarantees instead). Each batch APPENDS a fresh snapshot; ``n_seen``
    is the snapshot version (consumers keep the max per shard)."""
    import json as _json

    out_schema = StructType(
        [
            StructField("shard", LongType()),
            StructField("key", StringType()),
            StructField("est", LongType()),
            StructField("err", LongType()),
            StructField("n_seen", LongType()),
        ]
    )
    sharded = df.select(
        F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(n_shards))
        .cast("bigint")
        .alias("__shard"),
        F.col(key_col).cast("string").alias("__k"),
    ).filter(F.col("__k").isNotNull())

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            n, summary_s = state.get
            d = _json.loads(summary_s)
            counters = {
                k: [c, e] for k, c, e in zip(d["k"], d["c"], d["e"])
            }
        else:
            n, counters = 0, {}

        # concat ALL Arrow chunks before the one sort: a >maxRecordsPerBatch
        # micro-batch arrives as several chunks in nondeterministic fetch
        # order, and per-chunk sorting would make eviction order (hence
        # est/err) vary across reruns of the identical batch
        chunks = [pdf for pdf in pdfs]
        batch = (
            pd.concat(chunks, ignore_index=True) if len(chunks) > 1
            else (chunks[0] if chunks else pd.DataFrame({"__k": []}))
        )
        for k in batch.sort_values("__k", kind="mergesort")["__k"]:
            n += 1
            if k in counters:
                counters[k][0] += 1
            elif len(counters) < m:
                counters[k] = [1, 0]
            else:
                vk = min(counters, key=lambda x: (counters[x][0], x))
                verr = counters.pop(vk)[0]
                counters[k] = [verr + 1, verr]

        ks = sorted(counters, key=lambda x: (-counters[x][0], x))
        state.update(
            (
                n,
                _json.dumps(
                    {
                        "k": ks,
                        "c": [counters[k][0] for k in ks],
                        "e": [counters[k][1] for k in ks],
                    }
                ),
            )
        )
        yield pd.DataFrame(
            [
                (key[0], k, counters[k][0], counters[k][1], n)
                for k in ks
            ],
            columns=["shard", "key", "est", "err", "n_seen"],
        )

    return sharded.groupBy("__shard").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=_HH_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_KMV_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("exact_lt_k", LongType()),  # 1 while below saturation
        StructField("hashes", StringType()),    # json sorted bottom-k ints
    ]
)


def distinct_monitor(
    df: DataFrame,
    key_col: str,
    value_col: str,
    k: int = 256,
) -> DataFrame:
    """Streaming distinct-count monitor → a per-micro-batch snapshot per
    group: (key, n_seen, est_distinct, is_exact). Completes the
    streaming-sketch trio (windowed quantiles, Space-Saving heavy
    hitters, THIS): "how many distinct tokens/users/domains has each
    slice produced so far" with the k smallest value hashes as the
    ENTIRE state — per-group exact counting on an open vocabulary grows
    without bound; bottom-k (KMV) never exceeds k 63-bit integers.

    The estimator is the batch Theta family's (operators/sketch.py
    theta_*, Beyer et al. 2007): EXACT while distinct-so-far < k
    (``is_exact`` true, the set IS the state), then (k−1)/θ with θ =
    kth-smallest-hash/2^63, rse = 1/√(k−2) (≈6.3% at k=256). Hashing is
    md5-derived 63-bit (stable across restarts); merging batches is
    set-union + retruncate, so cross-batch results are ORDER-INDEPENDENT
    — unlike the heavy-hitter sketch, drip ≡ one-shot exactly, at every
    regime (the parity test pins it)."""
    import hashlib as _hashlib
    import json as _json

    out_schema = StructType(
        [
            StructField("key", StringType()),
            StructField("n_seen", LongType()),
            StructField("est_distinct", DoubleType()),
            StructField("is_exact", BooleanType()),
        ]
    )
    src = df.select(
        F.col(key_col).cast("string").alias("__g"),
        F.col(value_col).cast("string").alias("__v"),
    ).filter(F.col("__g").isNotNull() & F.col("__v").isNotNull())

    def _h(v: str) -> int:
        return int.from_bytes(
            _hashlib.md5(v.encode("utf-8")).digest()[:8], "big"
        ) & ((1 << 63) - 1)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            n, _, hashes_s = state.get
            bottom = set(_json.loads(hashes_s))
        else:
            n, bottom = 0, set()

        for pdf in pdfs:
            vals = pdf["__v"]
            n += int(len(vals))
            bottom.update(_h(v) for v in set(vals))
        # retruncate to the k smallest — set-union then cut keeps the
        # result identical for ANY batch slicing of the same rows
        kept = sorted(bottom)[:k]
        is_exact = len(bottom) < k or len(kept) < k
        if len(kept) == k and not is_exact:
            theta = kept[-1] / float(1 << 63)
            est = (k - 1) / theta
        else:
            est = float(len(kept))
        state.update((n, 1 if is_exact else 0, _json.dumps(kept)))
        yield pd.DataFrame(
            [(key[0], n, est, bool(is_exact))],
            columns=["key", "n_seen", "est_distinct", "is_exact"],
        )

    return src.groupBy("__g").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=_KMV_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_SAMPLE_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("items", StringType()),  # json [[priority, key], ...]
    ]
)


def sample_monitor(
    df: DataFrame,
    key_col: str,
    k: int = 64,
    seed: int = 0,
    group_col: str | None = None,
    n_shards: int = 8,
    payload_col: str | None = None,
) -> DataFrame:
    """Streaming DETERMINISTIC uniform sample → per-micro-batch snapshot:
    (group, key, priority, n_seen). Completes the bounded-state quartet
    (EWMA, Space-Saving, KMV, THIS): "give me k representative rows of
    everything that has flowed past" with k (priority, key) pairs as the
    ENTIRE state per group.

    Instead of Vitter's Algorithm R (RNG tied to arrival order — rerun a
    stream, get a different sample), the priority is the SAMPLING HASH
    (md5 of "key:seed", operators/sampling.sample_hash): the sample is
    the k keys with the smallest hashes — a uniform k-subset under the
    md5 ordering that any engine reproduces. Bottom-k-by-hash is a
    SEMILATTICE (union then truncate), so the drained sample is
    independent of batch slicing — drip ≡ one-shot EXACTLY, and the
    fully-drained result equals the batch ``sample_exact_n``
    (ORDER BY md5 LIMIT k), which makes this streaming operator
    ORACLE-CHECKABLE, like streaming_static_enrich_parity.

    SCALE (VERDICT r10 #1): global mode (``group_col=None``) does NOT
    funnel the stream through one state partition. Keys hash-shard via
    ``pmod(xxhash64(key), n_shards)`` — the heavy_hitters_monitor
    posture — so each shard holds its own bottom-k and throughput scales
    with shards. The SAME semilattice property makes per-shard bottom-k
    + a k-truncating merge at drain (:func:`merged_sample`) EXACTLY
    equal to the single-group sample: hash-sharding sends each key to
    exactly one shard, the global bottom-k therefore lives inside the
    union of per-shard bottom-k's, and union-then-truncate is the
    semilattice join. ``n_shards=1`` reproduces the single-group plan.
    The priority is computed as a COLUMN (``F.md5``, JVM-side) before
    the stateful stage — no per-key Python hashing in the fold.

    Dedup semantics: keyed on the VALUE (a key seen twice holds one
    sample slot — it is a distinct-key sample, the useful kind for
    drawing inspection rows from a keyed stream). ``n_seen`` counts rows
    absorbed BY THAT GROUP. State: ≤ k pairs per group forever
    (RocksDB-ready).

    ``payload_col`` carries one inspection value per sampled key through
    the state (→ output column ``payload``; None without it). To keep
    drip ≡ one-shot EXACT even when one key arrives with several payloads
    across batches, the state keeps the MIN payload string per key —
    (key → min payload) is itself a semilattice, so the drained payload
    is batch-slicing-independent and any engine reproduces it
    (``min(payload) GROUP BY key`` in SQL). With k sampled payloads at
    drain this is a bounded-state streaming QUANTILE estimator: the
    percentiles of a deterministic uniform k-sample, oracle-checkable
    because the sampled key set and its payloads are both deterministic."""
    import json as _json

    out_schema = StructType(
        [
            StructField("group", StringType()),
            StructField("key", StringType()),
            StructField("priority", StringType()),
            StructField("payload", StringType()),
            StructField("n_seen", LongType()),
        ]
    )
    key_s = F.col(key_col).cast("string")
    # per-group sampling (``group_col``): one bounded k-pair state per
    # group — the per-slice inspection sample; None = GLOBAL sample,
    # hash-sharded so no single reducer absorbs the whole stream
    if group_col is not None:
        grp = F.col(group_col).cast("string")
    elif n_shards > 1:
        grp = F.concat(
            F.lit("__shard"), F.pmod(F.xxhash64(key_s), F.lit(n_shards))
        )
    else:
        grp = F.lit("__all__")
    has_payload = payload_col is not None
    pay = (
        F.col(payload_col).cast("string")
        if has_payload
        else F.lit(None).cast("string")
    )
    src = df.select(
        grp.alias("__g"),
        key_s.alias("__k"),
        F.md5(F.concat(key_s, F.lit(f":{seed}"))).alias("__p"),
        pay.alias("__v"),
    ).filter(F.col("__k").isNotNull() & F.col("__g").isNotNull())

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # state JSON: [priority, key] pairs, or [priority, key, payload]
        # triples when a payload rides along — both sorted ascending
        if state.exists:
            n, items_s = state.get
            items = {t[1]: (t[0], t[2] if len(t) > 2 else None)
                     for t in _json.loads(items_s)}
        else:
            n, items = 0, {}
        for pdf in pdfs:
            n += int(len(pdf))
            if has_payload:
                # min payload per key within the batch, then min against
                # state: (key → min payload) is a semilattice, so the
                # kept payload is independent of batch slicing
                agg = (
                    pdf.dropna(subset="__v")
                    .groupby("__k", sort=False)
                    .agg(__p=("__p", "first"), __v=("__v", "min"))
                )
                for kk, p, v in zip(agg.index, agg["__p"], agg["__v"]):
                    old = items.get(kk)
                    if old is None or old[1] is None or v < old[1]:
                        items[kk] = (p, v)
            else:
                sub = pdf.drop_duplicates(subset="__k")
                items.update(
                    (kk, (p, None)) for kk, p in zip(sub["__k"], sub["__p"])
                )
        # union then truncate: keep the k smallest (priority, key) pairs —
        # identical for ANY batch slicing of the same rows
        kept = sorted(((p, kk, v) for kk, (p, v) in items.items()))[:k]
        state.update((
            n,
            _json.dumps(
                [[p, kk, v] for p, kk, v in kept]
                if has_payload
                else [[p, kk] for p, kk, _ in kept]
            ),
        ))
        # count-carrier sentinel: a shard that absorbed rows but holds no
        # sampled key yet (payload mode, all payloads null so far) must
        # still report its n_seen or the drain's total under-counts;
        # merged_sample uses null-key rows for totals only
        out_rows = [(key[0], kk, p, v, n) for p, kk, v in kept] or [
            (key[0], None, None, None, n)
        ]
        yield pd.DataFrame(
            out_rows,
            columns=["group", "key", "priority", "payload", "n_seen"],
        )

    return src.groupBy("__g").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=_SAMPLE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def latest_snapshot(snapshot: DataFrame, by: str) -> DataFrame:
    """The newest snapshot of each ``by`` group (a shard, a key) from a
    drained monitor sink: the rows carrying the group's largest
    ``n_seen``, which is monotone per group, so the last emission wins."""
    from pyspark.sql.window import Window as W

    return (
        snapshot.withColumn("__mx", F.max("n_seen").over(W.partitionBy(by)))
        .filter(F.col("n_seen") == F.col("__mx"))
        .drop("__mx")
    )


def merged_sample(snapshot: DataFrame, k: int) -> DataFrame:
    """k-truncating merge of :func:`sample_monitor` snapshots → the
    GLOBAL bottom-k: (key, priority, n_seen) where ``n_seen`` is the
    total rows absorbed across all shards. Exact by the semilattice
    property (see sample_monitor): take each shard's LATEST snapshot
    (max n_seen per group — n_seen is monotone per shard), union, keep
    the k smallest priorities. Batch operator over the drained sink
    table; input is shards × k rows per snapshot — metadata-sized, the
    unpartitioned-window warning is cosmetic."""
    latest = latest_snapshot(snapshot, "group")
    total = (
        latest.select("group", "n_seen")
        .distinct()
        .agg(F.sum("n_seen").cast("bigint").alias("__tot"))
    )
    cols = ["key", "priority"] + (
        ["payload"] if "payload" in snapshot.columns else []
    )
    return (
        latest.filter(F.col("key").isNotNull())  # drop count-carrier rows
        .select(*cols)
        .orderBy("priority", "key")
        .limit(k)
        .crossJoin(F.broadcast(total))
        .select(*cols, F.col("__tot").alias("n_seen"))
    )
