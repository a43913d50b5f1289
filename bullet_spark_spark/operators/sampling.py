"""Deterministic sampling operators for training-data pipelines (M5).

All sampling here is *hash-threshold* sampling: a row is kept iff the
lowercase-hex md5 of ``"{key}:{seed}"`` is lexicographically below a
threshold derived from the requested fraction. Because md5 is engine-stable,
the SAME rows are selected by Spark, DuckDB, or any other engine given the
same (key, seed, fraction) — unlike ``df.sample()``, whose RNG is tied to
partition layout. That makes samples reproducible across reruns, resumable
across pipeline stages, and oracle-checkable.

Scale shape: the predicate is a pure projection (md5 + string compare) that
runs inside whole-stage codegen directly over the scan — zero shuffle, and
for stratified sampling zero per-stratum passes (one CASE expression). The
exact-N variant is ``ORDER BY md5 LIMIT n`` = TakeOrderedAndProject (per-
partition top-n, then a single merge on the driver/final stage) — never a
full global sort.

Reference parity: the reference engine has no sampling stage (it samples
implicitly via RAW LIMIT queries, ``Querier`` raw-data path); these
operators are part of the M5 training-data surface this engine adds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HEX_SPACE = 16 ** 8  # we compare on the first 8 hex chars = 32 bits


def _threshold_hex(fraction: float) -> str:
    """Lowercase 8-hex-digit threshold t such that P[md5 < t] ~= fraction
    (granularity 2^-32, exact for fractions that are multiples of it)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return format(min(int(fraction * _HEX_SPACE), _HEX_SPACE - 1), "08x")


def sample_hash(key: Column, seed: int = 0) -> Column:
    """The sampling hash itself: md5 of ``"{key}:{seed}"`` (UTF-8),
    lowercase hex. Exposed so callers can order/partition by it too."""
    return F.md5(F.encode(F.concat(key.cast("string"), F.lit(f":{seed}")), "UTF-8"))


def keep_fraction(key: Column, fraction: float, seed: int = 0) -> Column:
    """Boolean keep-predicate for deterministic fraction sampling."""
    if fraction >= 1.0:
        return F.lit(True)
    if fraction <= 0.0:
        return F.lit(False)
    return sample_hash(key, seed) < F.lit(_threshold_hex(fraction))


def hash_sample(
    df: DataFrame, key_col: str, fraction: float, seed: int = 0
) -> DataFrame:
    """Deterministic ~fraction sample keyed on ``key_col``."""
    return df.filter(keep_fraction(F.col(key_col), fraction, seed))


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    seed: int = 0,
) -> DataFrame:
    """Deterministic per-stratum sampling: each stratum value gets its own
    keep-fraction (e.g. downsample dominant languages, keep all of rare
    ones). Compiles to ONE CASE expression — a single codegen'd scan pass
    regardless of stratum count, vs ``df.sampleBy``'s non-reproducible RNG."""
    pred = keep_fraction(F.col(key_col), default_fraction, seed)
    for value, fraction in sorted(fractions.items()):
        pred = F.when(
            F.col(strata_col) == F.lit(value),
            keep_fraction(F.col(key_col), fraction, seed),
        ).otherwise(pred)
    return df.filter(pred)


def sample_exact_n(df: DataFrame, key_col: str, n: int, seed: int = 0) -> DataFrame:
    """Exactly-n deterministic sample: the n rows with the smallest sampling
    hash (a 'uniform random' n-subset under the md5 ordering, stable across
    engines and partitionings). Physical plan is TakeOrderedAndProject —
    per-partition heaps of size n, no global sort, no collect."""
    h = sample_hash(F.col(key_col), seed)
    return df.orderBy(h.asc(), F.col(key_col).asc()).limit(n)


def split_train_holdout(
    df: DataFrame, key_col: str, holdout_fraction: float, seed: int = 0
) -> tuple[DataFrame, DataFrame]:
    """Disjoint, exhaustive train/holdout split on the same hash — a row's
    assignment never changes as data grows, so the holdout stays clean
    across incremental pipeline runs."""
    keep = keep_fraction(F.col(key_col), holdout_fraction, seed)
    return df.filter(~keep), df.filter(keep)


def oracle_keep_sql(key_sql: str, fraction: float, seed: int = 0) -> str:
    """The equivalent ANSI/DuckDB SQL keep-predicate, for oracle checks:
    ``md5(CAST(key AS VARCHAR) || ':{seed}') < '{threshold}'``."""
    if fraction >= 1.0:
        return "TRUE"
    if fraction <= 0.0:
        return "FALSE"
    return (
        f"md5(CAST({key_sql} AS VARCHAR) || ':{seed}') < '{_threshold_hex(fraction)}'"
    )


_live_pack_base: DataFrame | None = None


def _persist_pack_base(base: DataFrame) -> DataFrame:
    """Persist the pack input, releasing the previous call's (plans get
    fresh expression ids per call, so the CacheManager never dedupes them
    — without the release a driver packing in a loop leaks one
    InMemoryRelation per call). Lazy since r12: the cache fills at the
    caller's action (block-level locking keeps concurrent readers
    consistent); the old eager ``count()`` was a construct-time driver
    job serialized before the action (guide §5)."""
    global _live_pack_base
    if _live_pack_base is not None:
        _live_pack_base.unpersist()
    base = base.persist()
    _live_pack_base = base
    return base


def pack_sequences(
    df: DataFrame,
    id_col: str,
    size_col: str,
    budget: int,
    order_col: str | None = None,
) -> DataFrame:
    """Assign documents to ~``budget``-sized training bins: running token
    cumsum in ``order_col`` (default: id) order, bin = which budget window
    the document's cumulative END falls in — deterministic, engine-portable
    (no stateful first-fit recurrence), every bin within one document of
    the budget. Returns (id, size, bin_id, stream_offset) — stream_offset
    is the document's global token start position, what a dataloader seeks
    to.

    Bin ids are globally sequential (the contract a dataloader wants), but
    the global cumsum is NOT a single-partition window — an unpartitioned
    ``Window.orderBy`` moves every row into one task (WindowExec warns
    exactly this). Instead, a two-level cumsum: split the order domain into
    contiguous range buckets (boundaries from one lazy in-plan percentile
    sketch — they only need to be order-ALIGNED, not exact, for the result
    to be exact), running-sum WITHIN each bucket, and add each bucket's
    prefix.
    Per-bucket totals are a #buckets-row table, so the prefix window is
    trivially small and joins back as a broadcast. The only full-data
    shuffle is the hash partition by bucket; the totals aggregation ships
    one partial row per (task, bucket). Deterministic when the order key
    is unique (id by default).

    Falls back to the single-partition window when the order key is not
    castable to double (exotic types) — correct, but not the scale path.

    The projected (id, size, order) frame is PERSISTED for the call's
    three readers — the boundary-sketch aggregate, the in-bucket
    cumsum, and the bucket totals — so a pack at the end of a long
    pipeline materializes its reduced input once instead of re-deriving
    the whole upstream lineage three times (pinned by the
    pipeline_end_to_end plan contract). Three narrow columns of the
    already-reduced corpus: ~24 GB per billion docs, MEMORY_AND_DISK."""
    from pyspark.sql.window import Window as W

    order = order_col or id_col
    base = _persist_pack_base(
        df.select(F.col(id_col), F.col(size_col), F.col(order).alias("__ord"))
    )
    # LAZY in-plan boundary pass (r12, VERDICT r11 task 3): the same
    # percentile sketch the old eager driver-side approxQuantile computed,
    # as a persisted 1-row aggregate attached by scalar subquery (a join
    # would inflate downstream size estimates — Spark's size-only join
    # estimation multiplies child sizes). The persist guarantees one
    # evaluation shared by the cumsum and totals branches (the
    # _bucketed_running_sums branch-consistency contract); a non-castable
    # order key fails analysis inside the try and falls back, and an
    # all-null cast domain yields a NULL sketch -> empty array -> every
    # row in bucket 0, the same single-window shape as the old fallback.
    try:
        nbuckets = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
        probs = [i / nbuckets for i in range(1, nbuckets)]
        bounds_df = base.agg(
            F.percentile_approx(
                F.col("__ord").cast("double"),
                F.array(*[F.lit(p) for p in probs]),
                F.lit(10000),
            ).alias("__bounds")
        )
        from bullet_spark_spark.operators._cache import persist_generation

        (bounds_df,) = persist_generation(
            "sampling.pack_sequences.bounds", bounds_df
        )
        barr = F.coalesce(F.col("__bounds"), F.array().cast("array<double>"))
    except Exception:
        bounds_df = None
    if bounds_df is not None:
        bkt = F.size(F.filter(barr, lambda b: F.col("__ord").cast("double") > b))
        w_in = (
            W.partitionBy("__bkt")
            .orderBy("__ord")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        bucketed = (
            base.withColumn("__bounds", bounds_df.scalar())
            .withColumn("__bkt", bkt)
            .drop("__bounds")
        )
        cum_in = bucketed.withColumn("__cum_in", F.sum(size_col).over(w_in))
        totals = bucketed.groupBy("__bkt").agg(F.sum(size_col).alias("__tot"))
        # unpartitioned by design: `totals` has ≤ shuffle.partitions rows
        # (one per bucket), bounded — the WindowExec warning is cosmetic
        w_pref = W.orderBy("__bkt").rowsBetween(W.unboundedPreceding, -1)
        prefix = totals.select(
            "__bkt",
            F.coalesce(F.sum("__tot").over(w_pref), F.lit(0)).alias("__prefix"),
        )
        cum = cum_in.join(F.broadcast(prefix), "__bkt").withColumn(
            "__cum", F.col("__cum_in") + F.col("__prefix")
        )
    else:  # empty input or un-castable order key: single-window fallback
        w = W.orderBy(F.col("__ord")).rowsBetween(W.unboundedPreceding, W.currentRow)
        cum = base.withColumn("__cum", F.sum(size_col).over(w))
    return cum.select(
        id_col,
        size_col,
        F.floor((F.col("__cum") - 1) / F.lit(budget)).cast("long").alias("bin_id"),
        (F.col("__cum") - F.col(size_col)).alias("stream_offset"),
    )


def sample_exact_n_per_group(
    df: DataFrame, key_col: str, group_cols: list[str], n: int, seed: int = 0
) -> DataFrame:
    """Exactly-n-per-group deterministic sample: within each group, the n
    rows with the smallest sampling hash (stable across engines,
    partitionings, and reruns — the per-stratum counterpart of
    sample_exact_n). One window pass partitioned by the group; rank
    short-circuits at n per partition."""
    from pyspark.sql.window import Window as W

    h = sample_hash(F.col(key_col), seed)
    w = W.partitionBy(*group_cols).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def temperature_mixture_sample(
    df: DataFrame,
    key_col: str,
    source_col: str,
    alpha: float = 0.5,
    seed: int = 0,
) -> DataFrame:
    """Temperature-smoothed corpus mixing (the mT5 / multilingual-BERT
    exponentiated-sampling scheme): each source s with n_s rows is kept at
    rate r_s ∝ n_s^(α−1), normalized so the smallest source's rate is 1 —
    α < 1 flattens the mixture (dominant sources downsampled, rare ones
    kept whole), α = 1 keeps everything, α = 0 equalizes expected counts.
    The standard rebalancing step between curation and packing when one
    domain/language dwarfs the rest.

    Entirely in-engine and cross-engine exact: source counts are one
    map-side-combinable aggregation (state = one counter per source); the
    per-source rate — round(pow(n, α−1), 12) ratioed against the max and
    rounded to 8 dp — converts to an md5 keep-threshold with explicit
    floor() (Spark CASTs doubles by truncation, DuckDB by rounding; floor
    pins both), and the tiny (source, rate, threshold) frame broadcasts
    back onto the scan, so sampling is the same single-pass md5 predicate
    as keep_fraction. No collect, no RNG, reproducible across engines,
    partitionings and reruns. Returns the sampled rows with the applied
    ``rate`` attached (the mixture report)."""
    from pyspark.sql.window import Window as _W

    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n"))
    weighted = counts.withColumn(
        "__w", F.round(F.pow(F.col("n").cast("double"), alpha - 1.0), 12)
    )
    # max as an unpartitioned window over the #sources-sized rows — one
    # lineage, so the source-count aggregation (and its corpus scan) runs
    # once; a re-aggregating cross join planned it per consumer
    rates = (
        weighted.withColumn("__mx", F.max("__w").over(_W.partitionBy()))
        .withColumn("rate", F.round(F.col("__w") / F.col("__mx"), 8))
        .withColumn(
            "__thresh",
            F.lower(
                F.lpad(
                    F.hex(
                        F.least(
                            F.floor(F.col("rate") * F.lit(4294967296.0)).cast(
                                "bigint"
                            ),
                            F.lit(4294967295),
                        )
                    ),
                    8,
                    "0",
                )
            ),
        )
        .select(source_col, "rate", "__thresh")
    )
    return (
        df.join(F.broadcast(rates), source_col)
        .filter(sample_hash(F.col(key_col), seed) < F.col("__thresh"))
        .drop("__thresh")
    )


# 16^13 + 1: md5's first 13 hex chars are 52 bits — exact as a double in
# both engines; +1 keeps u strictly positive so ln(u) is finite
_U_DENOM = float(16**13 + 1)


def weighted_key(key: Column, weight: Column, seed: int = 0) -> Column:
    """Efraimidis-Spirakis weighted-sampling key: ``ln(u) / w`` where
    ``u`` is a deterministic uniform in (0, 1] derived from the sampling
    hash. Taking the n LARGEST keys yields a weighted-without-replacement
    sample where P[row in sample] scales with its weight — the standard
    one-pass distributed formulation (Efraimidis & Spirakis 2006, via the
    equivalent log transform of u^(1/w)).

    Engine-portable: u = (first 13 md5 hex chars as int + 1) / (16^13+1)
    is exact integer arithmetic in doubles; ln differs in the last ulp
    across libms, so the key is rounded to 12 dp — callers must tie-break
    on the row key for a total order (weighted_sample_n does)."""
    u = (
        F.conv(F.substring(sample_hash(key, seed), 1, 13), 16, 10).cast("double")
        + F.lit(1.0)
    ) / F.lit(_U_DENOM)
    return F.round(F.log(u) / weight, 12)


def gumbel_topk_select(
    df: DataFrame,
    key_col: str,
    logweight_col: str,
    n: int,
    seed: int = 0,
) -> DataFrame:
    """Deterministic top-``n`` selection with P[row selected] ∝
    exp(logweight), WITHOUT ever exponentiating — the Gumbel-max trick
    (public knowledge; the without-replacement top-k form is the
    Efraimidis–Spirakis equivalence, Vieira 2014): key = logweight −
    ln(−ln u) with u the deterministic md5 uniform, take the n largest.
    THE closing stage of a DSIR pipeline: importance LOG-weights span
    hundreds of nats at corpus scale, so exp(logweight) under- and
    overflows doubles — the Gumbel key never leaves log space.

    Engine-portable: u = (first 13 md5 hex chars + 1)/(16¹³+1) is exact
    integer arithmetic in doubles (the weighted_key convention); the
    double-ln composition differs across libms only in the last ulps, so
    the key is rounded 9 dp and ties break on the row key — a total
    order any engine reproduces. Physical plan is TakeOrderedAndProject
    (per-partition heaps, no global sort); the rank window runs over the
    already-selected n rows."""
    u = (
        F.conv(F.substring(sample_hash(F.col(key_col), seed), 1, 13), 16, 10)
        .cast("double")
        + F.lit(1.0)
    ) / F.lit(_U_DENOM)
    g = F.round(F.col(logweight_col).cast("double") - F.log(-F.log(u)), 9)
    from pyspark.sql.window import Window as W

    picked = (
        df.withColumn("__g", g)
        .orderBy(F.col("__g").desc(), F.col(key_col).asc())
        .limit(n)
    )
    w = W.orderBy(F.col("__g").desc(), F.col(key_col).asc())
    return (
        picked.withColumn("rank", F.row_number().over(w).cast("int"))
        .drop("__g")
    )


def gumbel_topk_by_group(
    df: DataFrame,
    key_col: str,
    logweight_col: str,
    group_cols: list[str],
    n_per_group: int,
    seed: int = 0,
) -> DataFrame:
    """Per-group :func:`gumbel_topk_select` — a fixed QUOTA of
    ``n_per_group`` rows per group, selected ∝ exp(logweight) within the
    group (domain-balanced data mixing: every language/source keeps a
    seat count while quality log-weights pick WHICH rows fill the
    seats). Same deterministic Gumbel key; the rank window partitions by
    the group, so selection is one shuffle keyed by group — fully
    parallel across groups, n_per_group rows of state per group in the
    rank."""
    from pyspark.sql.window import Window as W

    u = (
        F.conv(F.substring(sample_hash(F.col(key_col), seed), 1, 13), 16, 10)
        .cast("double")
        + F.lit(1.0)
    ) / F.lit(_U_DENOM)
    g = F.round(F.col(logweight_col).cast("double") - F.log(-F.log(u)), 9)
    w = W.partitionBy(*group_cols).orderBy(
        F.col("__g").desc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("__g", g)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= n_per_group)
        .drop("__g")
    )


def weighted_sample_n(
    df: DataFrame, key_col: str, weight_col: str, n: int, seed: int = 0
) -> DataFrame:
    """Exactly-n deterministic WEIGHTED sample (without replacement):
    the n rows with the largest Efraimidis-Spirakis keys. Rows with
    NULL or non-positive weight are excluded (a zero weight must never
    be sampled; ln(u)/w would flip its sign). Physical plan is
    TakeOrderedAndProject — per-partition size-n heaps, no global sort —
    the same scale shape as sample_exact_n."""
    w = F.col(weight_col).cast("double")
    return (
        df.filter(w.isNotNull() & (w > 0))
        .orderBy(
            weighted_key(F.col(key_col), w, seed).desc(), F.col(key_col).asc()
        )
        .limit(n)
    )


def oracle_weighted_key_sql(key_sql: str, weight_sql: str, seed: int = 0) -> str:
    """The equivalent DuckDB SQL for weighted_key, for oracle checks."""
    u = (
        f"((('0x' || substr(md5(CAST({key_sql} AS VARCHAR) || ':{seed}'), 1, 13))"
        f"::UBIGINT + 1) / {_U_DENOM!r})"
    )
    return f"round(ln({u}) / ({weight_sql}), 12)"


def hash32(key: Column, seed: int = 0) -> Column:
    """First 32 bits of the sampling md5 as a non-negative BIGINT —
    engine-portable (DuckDB: ``('0x' || substr(md5(k || ':seed'), 1, 8))
    ::BIGINT``), for modulo-style assignment where the hex-compare
    predicates don't fit (shards, buckets)."""
    return F.conv(F.substring(sample_hash(key, seed), 1, 8), 16, 10).cast("long")


def shard_and_order(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    seed: int = 0,
) -> DataFrame:
    """Deterministic GLOBAL SHUFFLE for training-data export: every row
    gets (shard, pos) — a reproducible random permutation of the corpus,
    fanned into ``n_shards`` equal-ish shards. The step between packing
    and writing: raw corpus order carries source/time locality that a
    sequential trainer would see as curriculum; md5 order destroys it,
    identically on every engine and every partitioning (unlike
    ``df.orderBy(rand())``, which is neither reproducible nor stable
    under retries).

    shard = hash32(key) mod n_shards; pos = dense row index within the
    shard in (hash, key) order — key ASC breaks 32-bit collisions, so the
    permutation is a total order.

    Shape at 100 TB: ONE hash-partitioned exchange on shard + an
    in-partition sort — exactly the shuffle a sharded write needs anyway
    (follow with ``write.write_partitioned(..., ["shard"])`` and the
    files land shard-per-directory, pre-sorted). Never a global sort;
    per-shard row_number is embarrassingly parallel across shards."""
    from pyspark.sql.window import Window as W

    h = sample_hash(F.col(key_col), seed)
    out = df.withColumn("shard", F.pmod(hash32(F.col(key_col), seed), F.lit(n_shards)))
    w = W.partitionBy("shard").orderBy(h.asc(), F.col(key_col).asc())
    return out.withColumn("pos", F.row_number().over(w))


def token_budget_plan(
    df: DataFrame,
    source_col: str,
    token_count_col: Column,
    budget_tokens: int,
    weights: dict[str, float],
    max_epochs: float = 4.0,
) -> DataFrame:
    """Mixture PLAN for a fixed training-token budget → one row per
    source: (source, n_docs, n_tokens, weight, target_tokens, epochs,
    sample_rate, planned_tokens, capped). The budgeting step between
    "here is my curated corpus" and "launch the run": given target
    mixture weights (DoReMi/Pile-style domain weights — public
    knowledge) and a total token budget, how many epochs of each source
    do we take, where does over-asking hit the repeat cap, and what
    single-pass sampling rate implements the plan?

    * ``target_tokens`` = budget × weight (exact decimal product).
    * ``epochs``       = target / n_tokens, CAPPED at ``max_epochs``
      (the repeated-data degradation ceiling); ``capped`` flags sources
      whose ask exceeded the cap — the signal to re-weight or go find
      more data.
    * ``sample_rate``  = min(1, epochs) — the keep-fraction a one-pass
      :func:`keep_fraction` filter needs when epochs < 1 (oversampling
      above 1 is handled by dataset repetition at load time, not by the
      sampler).
    * ``planned_tokens`` = n_tokens × epochs after capping — what the
      run will actually see from this source.

    ONE aggregation over the corpus (token sums as exact decimals — the
    plan is engine-portable and oracle-checkable); the weight table
    rides a broadcast literal map. Sources present in the corpus but
    absent from ``weights`` get weight 0 (explicitly planned to zero,
    not silently kept)."""
    wmap = F.create_map(
        *[F.lit(x) for kv in weights.items() for x in kv]
    )
    per_src = df.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_col.cast("decimal(18,0)"))
        .cast("long")
        .alias("n_tokens"),
    )
    planned = per_src.select(
        source_col,
        "n_docs",
        "n_tokens",
        F.coalesce(wmap[F.col(source_col)], F.lit(0.0)).alias("weight"),
    ).select(
        "*",
        (
            F.col("weight").cast("decimal(18,8)")
            * F.lit(int(budget_tokens)).cast("decimal(18,0)")
        )
        .cast("double")
        .alias("target_tokens"),
    )
    raw_epochs = F.col("target_tokens") / F.col("n_tokens")
    epochs = F.least(raw_epochs, F.lit(float(max_epochs)))
    return planned.select(
        source_col,
        "n_docs",
        "n_tokens",
        F.round("weight", 8).alias("weight"),
        F.round("target_tokens", 4).alias("target_tokens"),
        F.round(epochs, 6).alias("epochs"),
        F.round(F.least(epochs, F.lit(1.0)), 6).alias("sample_rate"),
        F.round(F.col("n_tokens") * epochs, 4).alias("planned_tokens"),
        (raw_epochs > F.lit(float(max_epochs))).alias("capped"),
    )


def shard_manifest(
    df: DataFrame, shard_col: str, key_cols: list[str]
) -> DataFrame:
    """Per-shard INTEGRITY manifest → (shard, n_rows, checksum): row count
    plus an ORDER-INDEPENDENT content checksum — bit_xor over each row's
    md5-derived 60-bit integer (md5 of the '|'-joined key columns). The
    release artifact a 100 TB corpus ships next to its shards: a reader
    re-derives the manifest after transfer/rewrite and any dropped,
    duplicated, or corrupted row flips the XOR (a duplicated row pair
    cancels in XOR but trips n_rows — the two checks cover each other).

    Scale shape: one projected hash per row + ONE shard-keyed aggregate
    (both count and bit_xor are map-side combinable — per-shard state is
    16 bytes regardless of shard size). md5 → first 15 hex chars →
    integer keeps the whole pipeline engine-portable (DuckDB:
    ('0x' || substr(md5(k),1,15))::BIGINT), so the manifest itself is
    oracle-checkable, not just the row counts."""
    row_key = F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])
    h = F.conv(F.substring(F.md5(row_key), 1, 15), 16, 10).cast("long")
    return (
        df.select(F.col(shard_col).alias("shard"), h.alias("__h"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(__h)").alias("checksum"),
        )
    )


# Poisson(1) CDF, exact doubles shared by the Spark expression and the
# oracle SQL generator — identical literals on both engines by construction
_POISSON1_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
    0.9999897508033253,
    0.999998874797402,
    0.9999998885745216,
    0.9999999899522336,
    0.9999999991683892,
    0.9999999999364022,
]
_U_DENOM_60 = float(1 << 60)  # 15 hex chars = 60 uniform bits


def _poisson1_weight(u: Column) -> Column:
    """Inverse-CDF Poisson(1) draw from a uniform in [0,1): the classic
    Poisson-bootstrap resample weight. λ=1 is fixed, so the inverse CDF
    is a 13-branch CASE over precomputed cumulative terms (residual mass
    above the last threshold ~6e-11 → 13)."""
    expr = F.lit(len(_POISSON1_CDF))
    for k in range(len(_POISSON1_CDF) - 1, -1, -1):
        expr = F.when(u < F.lit(_POISSON1_CDF[k]), F.lit(k)).otherwise(expr)
    return expr


def oracle_poisson1_weight_sql(u_sql: str) -> str:
    """DuckDB CASE expression mirroring :func:`_poisson1_weight` branch
    order and literals exactly."""
    branches = " ".join(
        f"WHEN {u_sql} < {c!r} THEN {k}" for k, c in enumerate(_POISSON1_CDF)
    )
    return f"(CASE {branches} ELSE {len(_POISSON1_CDF)} END)"


def poisson_bootstrap_ci(
    df: DataFrame,
    value_col: str,
    key_col: str,
    b: int = 64,
    alpha: float = 0.05,
) -> DataFrame:
    """Bootstrap confidence interval for the corpus MEAN of ``value_col``
    → ONE row (n, b, mean, ci_lo, ci_hi) via the POISSON bootstrap —
    the one-pass distributed bootstrap (Chamandy et al., "Estimating
    Uncertainty for Massive Data Streams", Google 2012; public): instead
    of materializing B resamples (impossible at 100 TB — each is a full
    shuffle), every row draws a Poisson(1) multiplicity PER REPLICATE
    from a hash-seeded uniform, and replicate means are weighted means.
    For large n this converges to the classical multinomial bootstrap.

    Scale shape: one explode to b× rows (b is a small constant — the
    amplification is the entire cost, and it pipelines into ONE
    replicate-keyed aggregate with 2-counter state), then a b-row frame
    for the percentile-disc CI (ceil-rank over row_number — a window
    over B rows, metadata scale). Values round 6 dp before weighting;
    weighted sums accumulate as exact decimals; hash-seeded draws are
    md5-based, so the WHOLE machinery — uniforms, inverse CDF, replicate
    means, CI ranks — reproduces in any SQL engine with md5()."""
    from pyspark.sql.window import Window as W

    reps = df.select(
        F.col(key_col).cast("string").alias("__k"),
        F.round(F.col(value_col).cast("double"), 6).alias("__x"),
        F.explode(F.sequence(F.lit(0), F.lit(b - 1))).alias("__r"),
    )
    u = (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.col("__k"), F.col("__r"))), 1, 15),
            16,
            10,
        ).cast("double")
        / F.lit(_U_DENOM_60)
    )
    weighted = reps.select(
        "__r",
        _poisson1_weight(u).alias("__w"),
        "__x",
    )
    rep_means = (
        weighted.groupBy("__r")
        .agg(
            F.sum(
                F.round(F.col("__w") * F.col("__x"), 6).cast("decimal(28,6)")
            ).alias("__sx"),
            F.sum("__w").alias("__sw"),
        )
        .where(F.col("__sw") > 0)
        .select(
            "__r",
            F.round(F.col("__sx").cast("double") / F.col("__sw"), 6).alias(
                "__m"
            ),
        )
    )
    import math

    lo_rank = max(1, math.ceil(alpha / 2.0 * b))
    hi_rank = math.ceil((1.0 - alpha / 2.0) * b)
    # unpartitioned by design: `rep_means` has exactly b (=64) rows —
    # one per bootstrap replicate — bounded
    ranked = rep_means.select(
        "__m",
        F.row_number()
        .over(W.orderBy(F.col("__m").asc(), F.col("__r").asc()))
        .alias("__rk"),
    )
    ci = ranked.agg(
        F.max(F.when(F.col("__rk") == lo_rank, F.col("__m"))).alias("ci_lo"),
        F.max(F.when(F.col("__rk") == hi_rank, F.col("__m"))).alias("ci_hi"),
    )
    point = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(
                F.round(F.col(value_col).cast("double"), 6).cast(
                    "decimal(28,6)"
                )
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean"),
    )
    return point.crossJoin(F.broadcast(ci)).select(
        "n", F.lit(b).cast("long").alias("b"), "mean", "ci_lo", "ci_hi"
    )


def poisson_bootstrap_ci_by(
    df: DataFrame,
    value_col: str,
    key_col: str,
    group_cols: list[str],
    b: int = 64,
    alpha: float = 0.05,
) -> DataFrame:
    """Per-GROUP Poisson-bootstrap CIs → one row per group (group cols, n,
    b, mean, ci_lo, ci_hi): the uncertainty panel a mixture report needs —
    "is source A's quality really above source B's, or is the gap inside
    the resampling noise?" Same one-pass machinery as
    :func:`poisson_bootstrap_ci` (hash-seeded Poisson(1) multiplicities,
    weighted replicate means, percentile-disc CI), with every stage keyed
    by (group, replicate): the explode pipelines into one aggregate whose
    state is 2 counters × groups × b, and the CI window partitions the
    groups×b metadata frame. Replicate draws seed from the ROW key alone,
    so a row's resample weight is identical whichever grouping consumes
    it (group-consistent resampling). Rank thresholds derive from each
    group's surviving replicate count (a tiny group can lose replicates
    to all-zero weights; the ceil-rank stays well-defined)."""
    from pyspark.sql.window import Window as W

    reps = df.select(
        *group_cols,
        F.col(key_col).cast("string").alias("__k"),
        F.round(F.col(value_col).cast("double"), 6).alias("__x"),
        F.explode(F.sequence(F.lit(0), F.lit(b - 1))).alias("__r"),
    )
    u = (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.col("__k"), F.col("__r"))), 1, 15),
            16,
            10,
        ).cast("double")
        / F.lit(_U_DENOM_60)
    )
    weighted = reps.select(
        *group_cols, "__r", _poisson1_weight(u).alias("__w"), "__x"
    )
    rep_means = (
        weighted.groupBy(*group_cols, "__r")
        .agg(
            F.sum(
                F.round(F.col("__w") * F.col("__x"), 6).cast("decimal(28,6)")
            ).alias("__sx"),
            F.sum("__w").alias("__sw"),
        )
        .where(F.col("__sw") > 0)
        .select(
            *group_cols,
            "__r",
            F.round(F.col("__sx").cast("double") / F.col("__sw"), 6).alias(
                "__m"
            ),
        )
    )
    gw = W.partitionBy(*group_cols)
    ranked = rep_means.select(
        *group_cols,
        "__m",
        F.row_number()
        .over(gw.orderBy(F.col("__m").asc(), F.col("__r").asc()))
        .alias("__rk"),
        F.count(F.lit(1)).over(gw).alias("__cnt"),
    )
    lo_rank = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(F.lit(alpha / 2.0) * F.col("__cnt")),
    )
    hi_rank = F.ceil(F.lit(1.0 - alpha / 2.0) * F.col("__cnt"))
    ci = ranked.groupBy(*group_cols).agg(
        F.max(F.when(F.col("__rk") == lo_rank, F.col("__m"))).alias("ci_lo"),
        F.max(F.when(F.col("__rk") == hi_rank, F.col("__m"))).alias("ci_hi"),
    )
    point = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(
                F.round(F.col(value_col).cast("double"), 6).cast(
                    "decimal(28,6)"
                )
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean"),
    )
    return point.join(ci, group_cols).select(
        *group_cols, "n", F.lit(b).cast("long").alias("b"),
        "mean", "ci_lo", "ci_hi",
    )


def neyman_allocation(
    df: DataFrame,
    stratum_cols: list[str],
    value_col: str,
    total_n: int,
) -> DataFrame:
    """Neyman optimal stratified-sample allocation → one row per stratum:
    (strata..., n_rows, sd, weight, share, alloc_n). Given a total
    sample budget, allocate n_h ∝ N_h·σ_h (Neyman 1934, public
    knowledge): big AND variable strata get more of the budget —
    proportional allocation wastes rows on huge near-constant slices
    and starves small volatile ones, which is exactly the shape of a
    web corpus's language/source mix. Feed ``alloc_n`` per stratum to
    sample_exact_n_per_group to draw the actual rows.

    Engine-exactness: per-stratum moments are the decimal-exact sums of
    the quality_correlations discipline (σ clamps at 0 against the
    mixed-quantization epsilon — the Welch lesson); each weight
    N_h·σ_h rounds to 6 dp and the GRAND total sums those roundings as
    exact decimals (a plain double Σ over strata would be
    order-dependent across engines). ``alloc_n`` floors — Σ alloc_n ≤
    total_n with at most one row of slack per stratum, never over
    budget. Scale shape: ONE map-side-combinable aggregate to the
    stratum frame (metadata-sized) + a broadcast one-row total.

    Magnitude bound (ADVICE r9, same as distribution.welch_ttest): the
    decimal(18,6)/decimal(28,8) moment sums hold |x| < 1e12 and
    x² < 1e20; beyond that non-ANSI Spark nulls the cast and silently
    drops the value from the sum while the count keeps the row. Pre-
    scale value columns that can exceed |x| ≈ 1e10."""
    keys = list(stratum_cols)
    v = F.col(value_col).cast("double")
    per = df.filter(v.isNotNull()).groupBy(*keys).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(v.cast("decimal(18,6)")).alias("__s"),
        F.sum(F.round(v * v, 8).cast("decimal(28,8)")).alias("__q"),
    )
    n_d = F.col("__n").cast("double")
    s_d, q_d = F.col("__s").cast("double"), F.col("__q").cast("double")
    sd = F.when(
        F.col("__n") > 1,
        F.sqrt(
            F.greatest(
                (q_d - s_d * s_d / n_d) / (n_d - 1.0), F.lit(0.0)
            )
        ),
    ).otherwise(F.lit(0.0))
    weighted = per.select(
        *keys,
        F.col("__n").cast("bigint").alias("n_rows"),
        F.round(sd, 6).alias("sd"),
        F.round(n_d * sd, 6).cast("decimal(28,6)").alias("__w"),
    )
    total = weighted.agg(F.sum("__w").alias("__tw"))
    return (
        weighted.crossJoin(F.broadcast(total))
        .select(
            *keys,
            "n_rows",
            "sd",
            F.round(F.col("__w").cast("double"), 6).alias("weight"),
            F.when(
                F.col("__tw") > 0,
                F.round(
                    F.col("__w").cast("double") / F.col("__tw").cast("double"),
                    6,
                ),
            ).alias("share"),
            F.when(
                F.col("__tw") > 0,
                F.floor(
                    F.lit(float(total_n))
                    * (
                        F.col("__w").cast("double")
                        / F.col("__tw").cast("double")
                    )
                ).cast("bigint"),
            ).alias("alloc_n"),
        )
    )


def apportion_largest_remainder(
    df: DataFrame,
    group_cols: list[str],
    weight_col: str,
    total_n: int,
) -> DataFrame:
    """Hamilton / largest-remainder apportionment (public knowledge — the
    US-House seat method): integer allocations per stratum from
    fractional quotas with ``Σ alloc_n == total_n`` EXACTLY. The closing
    step after :func:`neyman_allocation` (whose floor leaves up to one
    row of slack per stratum): quota_h = w_h/Σw · total_n, every stratum
    takes floor(quota), and the leftover seats go to the largest
    fractional remainders (ties broken by the group key — deterministic).

    → (strata..., weight, quota, alloc_n). Quotas are single IEEE
    expressions over a decimal-exact weight total, so allocations are
    engine-portable; both windows here run over the STRATUM frame
    (metadata-sized, bounded by design — the WindowExec warning is
    cosmetic)."""
    from pyspark.sql.window import Window as W

    if total_n < 0:
        raise ValueError(f"total_n must be >= 0, got {total_n}")
    w = F.col(weight_col).cast("double")
    base = df.filter(w > 0).select(
        *group_cols, F.round(w, 9).alias("__w")
    )
    if total_n > 0 and not base.take(1):
        # An all-null/non-positive weight frame would return EMPTY, so the
        # budget would silently vanish — a contract violation, not a
        # degenerate allocation. One take(1) on a metadata-sized frame.
        raise ValueError(
            f"apportion_largest_remainder: total_n={total_n} but no stratum "
            f"has a positive {weight_col!r}; cannot satisfy "
            "sum(alloc_n) == total_n"
        )
    tot = base.agg(
        F.sum(F.col("__w").cast("decimal(38,9)")).cast("double").alias("__tw")
    )
    j = base.crossJoin(F.broadcast(tot))
    quota = F.col("__w") / F.col("__tw") * F.lit(float(total_n))
    j = j.select(
        *group_cols,
        F.col("__w"),
        quota.alias("__q"),
        F.floor(quota).cast("bigint").alias("__base"),
        (quota - F.floor(quota)).alias("__rem"),
    )
    # unpartitioned by design: stratum frame, metadata-sized, bounded
    w_all = W.partitionBy()
    w_rank = W.orderBy(F.col("__rem").desc(), *[F.col(c) for c in group_cols])
    out = j.select(
        *group_cols,
        F.round("__w", 6).alias("weight"),
        F.round("__q", 6).alias("quota"),
        (
            F.col("__base")
            + F.when(
                F.row_number().over(w_rank)
                <= F.lit(total_n) - F.sum("__base").over(w_all),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).cast("bigint").alias("alloc_n"),
    )
    return out
