"""Distribution operators (SURVEY §2.2 Q7-Q9) — the scale-conscious paths.

Three quantile strategies, chosen by data volume:

- ``percentile`` (exact, built-in): a TypedImperativeAggregate that gathers
  every value into one buffer — correct and fast at small/medium volume, but
  the buffer is O(rows): wrong shape for 100 TB.
- ``exact_quantiles_distributed``: global sort (range-partitioned, spills) +
  per-partition offsets + targeted rank lookup — O(rows log rows) work but
  O(1) driver memory; the exact path that survives scale. Interpolation
  formula matches DuckDB ``quantile_cont`` (h = (n-1)p, linear between
  floor/ceil ranks).
- ``percentile_approx`` (KLL-like mergeable sketch): bullet's own posture —
  its DISTRIBUTION is a DataSketches quantile sketch [D]; bounded state,
  mergeable partials, the default at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from bullet_spark_spark.operators._cache import persist_generation


def exact_quantiles_distributed(
    df: DataFrame, col: str, probs: list[float], num_partitions: int | None = None
) -> DataFrame:
    """Exact linear-interpolation quantiles without collecting values to one
    buffer, 100% DataFrame ops (no Python-RDD row serialization):

    1. range-repartition the column (distributed sort — each partition holds
       a contiguous value range, spillable),
    2. per-partition counts → global offsets (driver sees only
       ``num_partitions`` integers — metadata, not data),
    3. global rank = offset[pid] + per-partition ``row_number`` (a window
       PARTITIONED by pid — fully parallel, never a single-partition window),
    4. fetch exactly the ≤2·|probs| boundary ranks and interpolate.

    Interpolation matches DuckDB ``quantile_cont`` (h = (n-1)p, linear
    between floor/ceil ranks). Returns (quantile, value) like
    DistributionAgg QUANTILE."""
    spark = df.sparkSession
    vals = df.select(F.col(col).cast("double").alias("v")).filter(
        F.col("v").isNotNull()
    )
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    ranged = (
        vals.repartitionByRange(num_partitions, "v")
        .sortWithinPartitions("v")
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    try:
        counts = {
            r["pid"]: r["cnt"]
            for r in ranged.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
        }
        total = sum(counts.values())
        if total == 0:
            return spark.createDataFrame([], "quantile double, value double")

        offsets: dict[int, int] = {}
        acc = 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]

        # target global ranks (floor and ceil around h = (n-1)*p)
        targets: set[int] = set()
        plan = []
        for p in probs:
            h = (total - 1) * p
            lo, hi = int(h // 1), min(int(h // 1) + 1, total - 1)
            frac = h - (h // 1)
            plan.append((p, lo, hi, frac))
            targets.update((lo, hi))

        off_map = F.create_map(
            *[F.lit(x) for pid_off in offsets.items() for x in pid_off]
        )
        rank = (
            off_map[F.col("pid")]
            + F.row_number().over(W.partitionBy("pid").orderBy("v"))
            - 1
        )
        rank_rows = (
            ranged.withColumn("rank", rank)
            .filter(F.col("rank").isin(*targets))
            .select("rank", "v")
            .collect()
        )
    finally:
        ranged.unpersist()
    rank_vals = {r["rank"]: r["v"] for r in rank_rows}
    rows = []
    for p, lo, hi, frac in plan:
        a, b = rank_vals[lo], rank_vals[hi]
        rows.append((p, a + (b - a) * frac))
    return spark.createDataFrame(rows, "quantile double, value double")


_ASINH_SCALE = 256.0  # ~0.4% relative bucket width across the double line


def exact_quantiles_histogram(
    df: DataFrame,
    col: str,
    probs: list[float],
    num_buckets: int = 8192,
    max_collect: int = 200_000,
) -> DataFrame:
    """Exact linear-interpolation quantiles via histogram targeted-rank —
    the fast 100 TB path.

    The builtin ``percentile`` buffers every value in one
    TypedImperativeAggregate (O(rows) memory, slow merge); the sort-based
    ``exact_quantiles_distributed`` pays a full range-repartition of the
    column. This path instead:

    1. one groupBy over ``floor(asinh(v)·256)`` — a data-INDEPENDENT,
       order-preserving bucketing of the whole double line (no min/max
       pre-pass): per-bucket counts (shuffle of a few thousand tiny rows)
       whose sum is also the total count, and whose cumulative offsets
       locate the bucket holding each target rank h = (n-1)p;
    2. one filtered scan collects ONLY the rows of the needed buckets
       (bucket width is ~0.4% of the local value magnitude) and selects
       the exact ranked values driver-side; interpolation matches DuckDB
       ``quantile_cont``.

    A bucket heavier than ``max_collect`` (mass points / extreme skew) is
    re-histogrammed recursively within its value range with a linear grid;
    each level divides the range by num_buckets, and an all-equal bucket
    exits via min==max, so depth is logarithmic and bounded. Every Spark
    job here is a small aggregation — no global sort, no O(rows)
    driver/executor buffer, exactly two scans in the common case (the
    information-theoretic floor for exact quantiles without buffering).
    """
    spark = df.sparkSession
    vals = df.select(F.col(col).cast("double").alias("v")).filter(
        F.col("v").isNotNull() & ~F.isnan("v")
    )
    b0 = F.floor(F.asinh(F.col("v")) * F.lit(_ASINH_SCALE)).cast("bigint")

    counts = {
        r["b"]: r["cnt"]
        for r in vals.groupBy(b0.alias("b")).agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    total = sum(counts.values())
    if not total:
        return spark.createDataFrame([], "quantile double, value double")

    # target global ranks (0-based) around h = (n-1)p per prob
    plan = []
    targets: set[int] = set()
    for p in probs:
        h = (total - 1) * p
        lo_r, hi_r = int(h // 1), min(int(h // 1) + 1, total - 1)
        plan.append((p, lo_r, hi_r, h - (h // 1)))
        targets.update((lo_r, hi_r))

    cum: dict[int, int] = {}
    acc = 0
    for b in sorted(counts):  # asinh is monotone → bucket key order = value order
        cum[b] = acc
        acc += counts[b]

    by_bucket: dict[int, list[int]] = {}
    for r in sorted(targets):
        for b in sorted(counts):
            if cum[b] <= r < cum[b] + counts[b]:
                by_bucket.setdefault(b, []).append(r)
                break

    rank_vals: dict[int, float] = {}
    light = [b for b in by_bucket if counts[b] <= max_collect]
    heavy = [b for b in by_bucket if counts[b] > max_collect]

    if light:
        # Arrow toPandas: ~16 B/row columnar on the driver vs several hundred
        # bytes per collect() Row object — the bound is max_collect rows of
        # two doubles, not a list of Python Rows
        pdf = (
            vals.withColumn("__b", b0)
            .filter(F.col("__b").isin(*light))
            .select("__b", "v")
            .toPandas()
        )
        for b, grp in pdf.groupby("__b"):
            b = int(b)
            vs = grp["v"].to_numpy()
            vs.sort()
            for r in by_bucket[b]:
                rank_vals[r] = float(vs[r - cum[b]])

    for b in heavy:
        sub = vals.filter(b0 == b)
        s_lo, s_hi = sub.agg(F.min("v"), F.max("v")).first()
        rank_vals.update(
            _ranks_by_histogram(
                sub,
                by_bucket[b],
                float(s_lo),
                float(s_hi),
                num_buckets,
                max_collect,
                _offset=cum[b],
            )
        )

    rows_out = [
        (p, rank_vals[lo_r] + (rank_vals[hi_r] - rank_vals[lo_r]) * frac)
        for p, lo_r, hi_r, frac in plan
    ]
    return spark.createDataFrame(rows_out, "quantile double, value double")


def _ranks_by_histogram(
    vals: DataFrame,
    ranks: list[int],
    lo: float,
    hi: float,
    num_buckets: int,
    max_collect: int,
    _offset: int = 0,
) -> dict[int, float]:
    """Resolve absolute ranks (within ``vals`` + _offset) to values.
    ``ranks`` are global 0-based ranks; ``vals`` holds the value subset the
    current level covers; lo/hi bound it."""
    if lo == hi:  # all remaining values equal — every rank resolves to it
        return {r: lo for r in ranks}

    width = (hi - lo) / num_buckets
    bucket = F.least(
        F.floor((F.col("v") - F.lit(lo)) / F.lit(width)),
        F.lit(num_buckets - 1),
    ).cast("int")

    counts = {
        r["b"]: r["cnt"]
        for r in vals.groupBy(bucket.alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    cum: dict[int, int] = {}
    acc = _offset
    for b in sorted(counts):
        cum[b] = acc
        acc += counts[b]

    # map each rank to its bucket
    by_bucket: dict[int, list[int]] = {}
    for r in ranks:
        target_b = None
        for b in sorted(counts):
            if cum[b] <= r < cum[b] + counts[b]:
                target_b = b
                break
        if target_b is None:  # numeric edge: clamp to last non-empty bucket
            target_b = max(counts)
        by_bucket.setdefault(target_b, []).append(r)

    out: dict[int, float] = {}
    light = [b for b in by_bucket if counts[b] <= max_collect]
    heavy = [b for b in by_bucket if counts[b] > max_collect]

    if light:
        pdf = (
            vals.withColumn("__b", bucket)
            .filter(F.col("__b").isin(*set(light)))
            .select("__b", "v")
            .toPandas()  # Arrow columnar — see exact_quantiles_histogram
        )
        for b, grp in pdf.groupby("__b"):
            b = int(b)
            vs = grp["v"].to_numpy()
            vs.sort()
            for r in by_bucket[b]:
                out[r] = float(vs[r - cum[b]])

    for b in heavy:
        b_lo = lo + b * width
        b_hi = hi if b == num_buckets - 1 else lo + (b + 1) * width
        sub = vals.filter(bucket == b)
        s_lo, s_hi = sub.agg(F.min("v"), F.max("v")).first()
        out.update(
            _ranks_by_histogram(
                sub,
                by_bucket[b],
                float(s_lo if s_lo is not None else b_lo),
                float(s_hi if s_hi is not None else b_hi),
                num_buckets,
                max_collect,
                _offset=cum[b],
            )
        )
    return out


def winsorize(
    df: DataFrame,
    col: str,
    lo: float = 0.01,
    hi: float = 0.99,
    out_col: str | None = None,
) -> DataFrame:
    """Winsorization — clip ``col`` to its [lo, hi] exact quantile range
    (linear interpolation, the repo quantile convention): the robust-
    statistics guard before means/regressions/feature scaling, and the
    outlier cap a curation pipeline applies to heavy-tailed signals
    (doc length, perplexity) so one pathological row cannot drag a
    normalization.

    Cutoffs come from exact_quantiles_histogram (three bounded
    aggregation jobs, no O(rows) buffer, no sort) and join back as a
    1-row broadcast cross — the clip itself is a single codegen
    least/greatest over the scan. NULLs pass through NULL.
    """
    out_col = out_col or col
    q = exact_quantiles_histogram(df, col, [lo, hi])
    cuts = q.groupBy().pivot("quantile", [lo, hi]).sum("value").select(
        F.col(f"`{lo}`").alias("__lo"), F.col(f"`{hi}`").alias("__hi")
    )
    clipped = F.when(
        F.col(col).isNotNull(),
        F.least(F.greatest(F.col(col), F.col("__lo")), F.col("__hi")),
    )
    return (
        df.crossJoin(F.broadcast(cuts))
        .withColumn(out_col, clipped)
        .drop("__lo", "__hi")
    )


def mad_outliers(
    df: DataFrame,
    col: str,
    k: float = 3.0,
    flag_col: str = "is_outlier",
    round_stats_dp: int | None = None,
) -> DataFrame:
    """Median-absolute-deviation outlier flags: a row is an outlier when
    |x − median| > k · MAD, MAD = median(|x − median|) — the robust
    sibling of zscore_anomalies (mean/std are dragged by the very
    outliers they hunt; median/MAD have a 50% breakdown point) and of
    winsorize (which caps instead of flagging). k≈3 on MAD corresponds
    to ≈2σ under normality (1 MAD ≈ 0.6745σ).

    Both statistics ride exact_quantiles_histogram — bounded
    aggregations, no O(rows) buffer, no sort — and broadcast back as
    1-row crosses; the flag itself is one codegen comparison over the
    scan. Zero-MAD columns (>50% constant values) flag any deviation
    from the median, not nothing. NULLs get NULL flags.
    ``round_stats_dp`` rounds med/MAD before comparing — the cross-engine
    oracle posture (interpolated medians differ in the last ulp between
    engines, which could flip a row sitting exactly on the fence)."""
    med = float(
        exact_quantiles_histogram(df, col, [0.5]).collect()[0]["value"]
    )  # bounded: one scalar
    if round_stats_dp is not None:
        med = round(med, round_stats_dp)
    dev = df.select(F.abs(F.col(col) - F.lit(med)).alias("__d"))
    mad = float(
        exact_quantiles_histogram(dev, "__d", [0.5]).collect()[0]["value"]
    )
    if round_stats_dp is not None:
        mad = round(mad, round_stats_dp)
    threshold = F.lit(k) * F.lit(mad)
    flag = F.when(
        F.col(col).isNotNull(),
        F.when(F.lit(mad) > 0, F.abs(F.col(col) - F.lit(med)) > threshold)
        .otherwise(F.abs(F.col(col) - F.lit(med)) > 0),
    )
    return df.withColumn(flag_col, flag)


def _bucketed_running_sums(
    frame: DataFrame,
    order_col: str,
    sum_cols: list[str],
    bounds_slot: str = "distribution._bucketed_running_sums.bounds",
) -> DataFrame:
    """INCLUSIVE running sums of ``sum_cols`` in ``order_col`` order via
    the two-level cumsum pattern: range-bucket the value domain with
    LAZY, IN-PLAN boundaries (a 1-row ``percentile_approx`` aggregate
    broadcast onto the frame — boundaries only need to be order-aligned,
    not exact), running-sum within each bucket, add broadcast per-bucket
    exclusive prefixes — a continuous column never lands in one
    single-partition window. Falls back to the plain global window when
    the domain can't be bucketed: non-castable, or a type whose cast to
    double is NOT order-preserving (strings sort '10' < '9'
    lexicographically but 9.0 < 10.0 as doubles — bucketing by the cast
    while ordering natively would combine prefixes in the wrong order).
    Returns the input columns plus ``__cum_<c>`` per sum column.

    r12 (VERDICT r11 task 3): the boundary pass used to be an EAGER
    driver-side ``approxQuantile`` — 4-7 serial construct-time driver
    jobs per rank-family query (measured with tools/count_jobs.py),
    including a full cache fill of the input lineage BEFORE the action.
    The lazy form computes the same sketch in-plan.

    BRANCH-CONSISTENCY CONTRACT (the group_quantiles lesson): the
    bucketed frame feeds TWO consumers (the in-bucket cumsum and the
    per-bucket totals), and ``percentile_approx`` is not merge-order-
    deterministic, so per-branch recomputation could produce DIFFERENT
    boundary sets and silently wrong prefix sums. The bounds frame is
    therefore PERSISTED under ``bounds_slot`` (1 row — the CacheManager
    replaces every consumer's subtree with one shared InMemoryRelation,
    and block-level locking guarantees a single evaluation), and the
    result is only correct while that persist survives the consumer's
    action. Consequently ``bounds_slot`` MUST be unique per live
    construction: a caller that builds two of these frames with
    DIFFERENT inputs before actioning either must pass distinct slots
    (every current call site does — audited r12; identical inputs are
    safe regardless via the persist_generation identical-call path)."""
    from pyspark.sql.types import DateType, NumericType, TimestampType

    dtype = frame.schema[order_col].dataType
    cast_preserves_order = isinstance(
        dtype, (NumericType, DateType, TimestampType)
    )
    # DATE / TIMESTAMP do not cast to double: bucket them by their
    # order-preserving integer encodings (days / microseconds since epoch)
    if isinstance(dtype, DateType):
        order_num = F.unix_date(F.col(order_col)).cast("double")
    elif isinstance(dtype, TimestampType):
        order_num = F.unix_micros(F.col(order_col)).cast("double")
    else:
        order_num = F.col(order_col).cast("double")
    try:
        # inside the try: a non-numeric conf value (e.g. "auto" under some
        # AQE configurations) degrades to the safe global-window fallback
        # instead of raising (ADVICE r9)
        nbuckets = int(
            frame.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
        if not cast_preserves_order:
            raise ValueError("order column cast is not order-preserving")
        probs = [i / nbuckets for i in range(1, nbuckets)]
    except Exception:
        probs = []
    if probs:
        bounds_df = frame.agg(
            F.percentile_approx(
                order_num,
                F.array(*[F.lit(p) for p in probs]),
                F.lit(10000),
            ).alias("__bounds")
        )
        (bounds_df,) = persist_generation(bounds_slot, bounds_df)
        # empty/all-null input: percentile_approx yields NULL — coalesce
        # to the empty array so every row lands in bucket 0 (the frame is
        # empty or single-bucket anyway; same result as the old eager
        # fallback, without a construct-time job to detect it)
        barr = F.coalesce(
            F.col("__bounds"), F.array().cast("array<double>")
        )
        bkt = F.size(
            F.filter(barr, lambda bb: order_num > bb)
        )
        # scalar-subquery attachment, NOT a crossJoin: Spark's size-only
        # join estimation MULTIPLIES child sizeInBytes, so joining even a
        # 1-row bounds frame inflates every downstream estimate by the
        # bounds frame's byte size (~2 KB for 199 doubles) — measured to
        # flip the spearman x-rank-map join from auto-broadcast to
        # SortMergeJoin. A scalar subquery leaves the main plan's stats
        # untouched; physical subquery instances dedupe via ReuseSubquery
        # and, independently of that, all read the one persisted plan.
        bucketed = (
            frame.withColumn("__bounds", bounds_df.scalar())
            .withColumn("__bkt", bkt)
            .drop("__bounds")
        )
        w_in = (
            W.partitionBy("__bkt")
            .orderBy(order_col)
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        totals = bucketed.groupBy("__bkt").agg(
            *[F.sum(c).alias(f"__t_{c}") for c in sum_cols]
        )
        # unpartitioned by design: `totals` has ≤ shuffle.partitions rows
        # (one per bucket), bounded — the WindowExec single-partition
        # warning here is cosmetic, not a scale risk
        w_pref = W.orderBy("__bkt").rowsBetween(W.unboundedPreceding, -1)
        prefix = totals.select(
            "__bkt",
            *[
                F.coalesce(F.sum(f"__t_{c}").over(w_pref), F.lit(0)).alias(
                    f"__p_{c}"
                )
                for c in sum_cols
            ],
        )
        out = bucketed
        for c in sum_cols:
            out = out.withColumn(f"__r_{c}", F.sum(c).over(w_in))
        return out.join(F.broadcast(prefix), "__bkt").select(
            *frame.columns,
            *[
                (F.col(f"__r_{c}") + F.col(f"__p_{c}")).alias(f"__cum_{c}")
                for c in sum_cols
            ],
        )
    # documented fallback: un-castable order domain / unparsable shuffle
    # conf only — the bucketed path above is the scale path (empty and
    # all-null domains now ride the bucketed path as a single bucket)
    w = W.orderBy(order_col).rowsBetween(W.unboundedPreceding, W.currentRow)
    return frame.select(
        *frame.columns,
        *[F.sum(c).over(w).alias(f"__cum_{c}") for c in sum_cols],
    )


def _merged_rank_counts(a: DataFrame, b: DataFrame, col: str):
    """Shared plumbing for the rank-based two-sample tests (KS, Mann–
    Whitney): per-distinct-value counts of both sides full-outer merged
    on value, plus INCLUSIVE running cumulative counts in value order
    (:func:`_bucketed_running_sums`). Returns ``(cum_frame,
    merged_persisted)`` where ``cum_frame`` carries (v, ca, cb, __cum_a,
    __cum_b) and ``merged_persisted`` is the (v, ca, cb) frame for
    totals aggregates."""
    ca = (
        a.select(F.col(col).alias("v"))
        .filter(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("ca"))
    )
    cb = (
        b.select(F.col(col).alias("v"))
        .filter(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    from pyspark import StorageLevel

    # SHUFFLE_HASH: both sides are distinct-value-space count frames —
    # per-partition build is a uniform hash slice of the value domain
    # (no skew, one row per distinct value), and the hint removes the
    # two full sorts a SortMergeJoin pays feeding straight into the
    # bucketed running sums (the spearman y-rank-map fix, same shape).
    merged = ca.hint("SHUFFLE_HASH").join(cb, "v", "full_outer").select(
        "v",
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    # bounded cache generation (ADVICE r9): released on the next call
    (merged,) = persist_generation(
        "distribution._merged_rank_counts",
        merged,
        storage_level=StorageLevel.MEMORY_AND_DISK,
    )
    cum = _bucketed_running_sums(
        merged,
        "v",
        ["ca", "cb"],
        bounds_slot="distribution._merged_rank_counts.bounds",
    ).select(
        "v",
        "ca",
        "cb",
        F.col("__cum_ca").alias("__cum_a"),
        F.col("__cum_cb").alias("__cum_b"),
    )
    return cum, merged


def ks_two_sample(
    a: DataFrame,
    b: DataFrame,
    col: str,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov test → one row
    (d_stat, n_a, n_b, p_approx): the distribution-level drift gate that
    complements quality.drift_report's binned PSI — KS is bin-free (the
    supremum of |F_a(x) − F_b(x)| over the EXACT empirical CDFs), so it
    catches shape drift PSI's bucketing can wash out.

    Plan: per-side value counts (map-side combinable), full-outer merged
    on value, then the running CDFs via the TWO-LEVEL cumsum pattern
    (pack_sequences, sampling.py): range-bucket the value domain with one
    approxQuantile pass (boundaries only need to be order-aligned, not
    exact), running-sum within each bucket, add broadcast per-bucket
    prefixes — a continuous column (every value distinct) never lands in
    a single-partition window. The gap maximum is a plain aggregate.
    p_approx is the asymptotic two-sided tail
    2·exp(−2·d²·n_a·n_b/(n_a+n_b)) rounded 6 dp.

    NULLs drop (no order position). Exact counts make each CDF a ratio of
    integers; the gap is rounded 9 dp before the max so evaluation order
    can't flip the supremum's last bit."""
    cum, merged = _merged_rank_counts(a, b, col)
    totals_row = merged.agg(
        F.sum("ca").alias("__na"), F.sum("cb").alias("__nb")
    )
    gaps = cum.crossJoin(F.broadcast(totals_row)).select(
        F.round(
            F.abs(
                F.col("__cum_a") / F.col("__na") - F.col("__cum_b") / F.col("__nb")
            ),
            9,
        ).alias("gap"),
        "__na",
        "__nb",
    )
    return gaps.agg(
        F.max("gap").alias("d_stat"),
        F.max("__na").cast("bigint").alias("n_a"),
        F.max("__nb").cast("bigint").alias("n_b"),
        F.round(
            # the asymptotic tail exceeds 1 at small d — clamp (a
            # probability), matching scipy's convention
            F.least(
                F.lit(1.0),
                F.lit(2.0)
                * F.exp(
                    F.lit(-2.0)
                    # plain multiply, not pow(x, 2): libm pow may differ
                    # from x*x in the last ulp across engines
                    * (F.max("gap") * F.max("gap"))
                    # doubles BEFORE the product: na*nb overflows long at
                    # ~3e9 rows per side
                    * (
                        F.max("__na").cast("double")
                        * F.max("__nb").cast("double")
                        / (F.max("__na") + F.max("__nb")).cast("double")
                    )
                ),
            ),
            6,
        ).alias("p_approx"),
    )


def mann_whitney_u(
    a: DataFrame,
    b: DataFrame,
    col: str,
) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) test → one row (n_a, n_b, u_a,
    mu_u, sigma_u, z, reject_95): does sample A tend to produce LARGER
    values than sample B? The rank-based companion of
    :func:`ks_two_sample` — KS asks "same distribution?", U asks the
    directional "is A stochastically greater?", and being rank-based it
    ignores outlier magnitude entirely (the robust alternative to a
    t-test on heavy-tailed pipeline metrics).

    Semantics (classical, tie-corrected normal approximation — Mann &
    Whitney 1947, public knowledge): ties share AVERAGE ranks; U_a =
    R_a − n_a(n_a+1)/2; σ² carries the tie correction
    n_a·n_b/12·((N+1) − Σ(t³−t)/(N(N−1))); z = (U_a − μ)/σ with no
    continuity correction (documented choice — keeps the statistic one
    IEEE expression); ``reject_95`` thresholds |z| at 1.959964 and is
    NULL when σ = 0 (every value tied). NULLs drop.

    Engine-exactness: everything through R_a is INTEGER arithmetic —
    avg ranks enter doubled (2·cum_excl + t + 1, exact bigints) and
    summed as exact decimals, so U_a is an exact half-integer; μ, σ, z
    are single IEEE expressions over those exact sums, written
    token-identically in the oracle.

    Scale shape: reuses :func:`_merged_rank_counts` — two map-side-
    combinable value-count aggregates, one full-outer merge, the
    two-level cumsum (no single-partition window), then ONE final
    aggregate. State is distinct-value-sized, never row-sized."""
    cum, merged = _merged_rank_counts(a, b, col)
    t = (F.col("ca") + F.col("cb")).alias("t")
    per_value = cum.select(
        "ca",
        "cb",
        t,
        # exclusive cumulative count of ALL pooled rows before v
        (F.col("__cum_a") + F.col("__cum_b") - (F.col("ca") + F.col("cb"))).alias(
            "cx"
        ),
    )
    agg = per_value.agg(
        F.sum("ca").alias("na"),
        F.sum("cb").alias("nb"),
        # 2·R_a = Σ ca·(2·cum_excl + t + 1): exact decimal of exact bigints
        F.sum(
            F.col("ca").cast("decimal(38,0)")
            * (2 * F.col("cx") + F.col("t") + 1)
        ).alias("ra2"),
        # tie term Σ (t³ − t), decimal-cubed to dodge bigint overflow
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
            - F.col("t")
        ).alias("ties"),
    )
    sigma = F.sqrt(
        F.col("na").cast("double")
        * F.col("nb")
        / 12.0
        * (
            (F.col("na") + F.col("nb")).cast("double")
            + 1.0
            - F.col("ties").cast("double")
            / (
                (F.col("na") + F.col("nb")).cast("double")
                * ((F.col("na") + F.col("nb")).cast("double") - 1.0)
            )
        )
    )
    zexpr = (
        (
            F.col("ra2").cast("double")
            - F.col("na").cast("double") * (F.col("na") + 1)
        )
        / 2
        - F.col("na").cast("double") * F.col("nb") / 2
    ) / sigma
    stats = agg.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.round(
            (
                F.col("ra2").cast("double")
                - F.col("na").cast("double") * (F.col("na") + 1)
            )
            / 2,
            6,
        ).alias("u_a"),
        F.round(F.col("na").cast("double") * F.col("nb") / 2, 6).alias("mu_u"),
        F.round(sigma, 6).alias("sigma_u"),
        F.when(sigma > 0, F.round(zexpr, 6)).alias("z"),
    )
    return stats.withColumn(
        "reject_95",
        F.when(F.col("z").isNotNull(), F.abs(F.col("z")) > F.lit(1.959964)),
    )


def welch_ttest(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Welch's unequal-variance t-test between two slices of one frame →
    one row (n_a, n_b, mean_a, mean_b, var_a, var_b, t_stat, dof,
    reject_95): is the MEAN genuinely different? The parametric
    companion of :func:`mann_whitney_u` (which tests stochastic order) —
    Welch because pipeline slices rarely share variance, and the classic
    equal-variance pooling is exactly the assumption that breaks
    (Welch 1947, public knowledge).

    t = (x̄_a − x̄_b)/√(s²_a/n_a + s²_b/n_b); dof is Welch–Satterthwaite.
    ``reject_95`` thresholds |t| at 1.959964 — the NORMAL approximation,
    exact for the large-n slices this runs on (dof > 60 matches the
    t-table to 2 dp); NULL when the standard error is 0. NULLs drop.

    Engine-exactness follows quality.correlation_matrix: one aggregation
    pass collects n, Σx (exact decimal) and Σ round(x², 8) (exact
    decimal) per side via conditional sums; means/variances/t/dof are
    single IEEE expressions over those exact sums, token-identical in
    the oracle. Scale shape: ONE map-side-combinable aggregate, state =
    six numbers — no shuffle beyond the final single-row reduce.

    Magnitude bound (ADVICE r9): the decimal(18,6) / decimal(28,8)
    intermediates hold |x| < 1e12 and x² < 1e20 (|x| < 1e10). In
    non-ANSI Spark an out-of-range value casts to NULL and silently
    drops from the sum while the count still includes the row; DuckDB
    raises instead. Pre-scale (divide by a unit constant) before calling
    on columns that can exceed |x| ≈ 1e10 — the same discipline as
    quality.correlation_matrix."""
    v = F.col(value_col).cast("double")
    in_a = (F.col(group_col) == F.lit(group_a)) & v.isNotNull()
    in_b = (F.col(group_col) == F.lit(group_b)) & v.isNotNull()
    agg = df.agg(
        F.count(F.when(in_a, 1)).alias("na"),
        F.count(F.when(in_b, 1)).alias("nb"),
        F.sum(F.when(in_a, v.cast("decimal(18,6)"))).alias("sa"),
        F.sum(F.when(in_b, v.cast("decimal(18,6)"))).alias("sb"),
        F.sum(F.when(in_a, F.round(v * v, 8).cast("decimal(28,8)"))).alias("qa"),
        F.sum(F.when(in_b, F.round(v * v, 8).cast("decimal(28,8)"))).alias("qb"),
    )
    na_d, nb_d = F.col("na").cast("double"), F.col("nb").cast("double")
    sa_d, sb_d = F.col("sa").cast("double"), F.col("sb").cast("double")
    qa_d, qb_d = F.col("qa").cast("double"), F.col("qb").cast("double")
    # clamp at 0: Σx quantizes at 6 dp while Σ round(x²,8) quantizes the
    # squares, so a near-constant column can compute an epsilon-NEGATIVE
    # variance from the mismatched roundings — truth is 0, surface 0
    va = F.greatest(
        (qa_d - sa_d * sa_d / na_d) / (na_d - 1.0), F.lit(0.0)
    )
    vb = F.greatest(
        (qb_d - sb_d * sb_d / nb_d) / (nb_d - 1.0), F.lit(0.0)
    )
    ea, eb = va / na_d, vb / nb_d
    texpr = (sa_d / na_d - sb_d / nb_d) / F.sqrt(ea + eb)
    dof = ((ea + eb) * (ea + eb)) / (
        ea * ea / (na_d - 1.0) + eb * eb / (nb_d - 1.0)
    )
    # n <= 1 on either side: the variance denominator is 0 — surface NULL
    # rather than a quiet IEEE Inf/NaN that differs in meaning per engine
    both_var = (F.col("na") > 1) & (F.col("nb") > 1)
    stats = agg.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.when(F.col("na") > 0, F.round(sa_d / na_d, 6)).alias("mean_a"),
        F.when(F.col("nb") > 0, F.round(sb_d / nb_d, 6)).alias("mean_b"),
        F.when(F.col("na") > 1, F.round(va, 6)).alias("var_a"),
        F.when(F.col("nb") > 1, F.round(vb, 6)).alias("var_b"),
        F.when(both_var & (ea + eb > 0), F.round(texpr, 6)).alias("t_stat"),
        F.when(both_var & (ea + eb > 0), F.round(dof, 6)).alias("dof"),
    )
    return stats.withColumn(
        "reject_95",
        F.when(
            F.col("t_stat").isNotNull(), F.abs(F.col("t_stat")) > F.lit(1.959964)
        ),
    )


def ab_power_panel(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Experiment POWER panel — the design-side companion of
    :func:`welch_ttest`: given two observed groups, what effect size was
    this test even able to see? → one row: (n_a, n_b, mean_a, mean_b,
    effect, se, mde_abs, mde_rel, powered).

    ``mde_abs = (z_{α/2} + z_{power})·SE`` is the minimum detectable
    effect at α = 0.05 two-sided and 80% power (1.959964 + 0.841621 —
    normal constants, exact for the large-n slices this runs on; Cohen
    1988, public knowledge). ``powered`` says whether the OBSERVED
    |effect| clears it — the "your A/B test was underpowered" gate every
    experimentation stack reports next to the p-value, so a null result
    can be read as "no effect" vs "couldn't have seen one". SE is the
    Welch unpooled form √(s²_a/n_a + s²_b/n_b).

    Engine-exactness and scale shape are welch_ttest's verbatim: ONE
    map-side-combinable six-number aggregate (decimal-exact Σx and
    Σ round(x²,8); |x| < 1e10 bound documented there), every derived
    column a single IEEE expression over the exact sums."""
    v = F.col(value_col).cast("double")
    in_a = (F.col(group_col) == F.lit(group_a)) & v.isNotNull()
    in_b = (F.col(group_col) == F.lit(group_b)) & v.isNotNull()
    agg = df.agg(
        F.count(F.when(in_a, 1)).alias("na"),
        F.count(F.when(in_b, 1)).alias("nb"),
        F.sum(F.when(in_a, v.cast("decimal(18,6)"))).alias("sa"),
        F.sum(F.when(in_b, v.cast("decimal(18,6)"))).alias("sb"),
        F.sum(F.when(in_a, F.round(v * v, 8).cast("decimal(28,8)"))).alias("qa"),
        F.sum(F.when(in_b, F.round(v * v, 8).cast("decimal(28,8)"))).alias("qb"),
    )
    na_d, nb_d = F.col("na").cast("double"), F.col("nb").cast("double")
    sa_d, sb_d = F.col("sa").cast("double"), F.col("sb").cast("double")
    qa_d, qb_d = F.col("qa").cast("double"), F.col("qb").cast("double")
    va = F.greatest((qa_d - sa_d * sa_d / na_d) / (na_d - 1.0), F.lit(0.0))
    vb = F.greatest((qb_d - sb_d * sb_d / nb_d) / (nb_d - 1.0), F.lit(0.0))
    se = F.sqrt(va / na_d + vb / nb_d)
    effect = sa_d / na_d - sb_d / nb_d
    mde = F.lit(1.959964 + 0.841621) * se
    ok = (F.col("na") > 1) & (F.col("nb") > 1)
    return agg.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.when(F.col("na") > 0, F.round(sa_d / na_d, 6)).alias("mean_a"),
        F.when(F.col("nb") > 0, F.round(sb_d / nb_d, 6)).alias("mean_b"),
        F.when(ok, F.round(effect, 6)).alias("effect"),
        F.when(ok, F.round(se, 6)).alias("se"),
        F.when(ok, F.round(mde, 6)).alias("mde_abs"),
        F.when(
            ok & (F.abs(sb_d / nb_d) > 0),
            F.round(mde / F.abs(sb_d / nb_d), 6),
        ).alias("mde_rel"),
        F.when(ok & (se > 0), F.abs(effect) >= mde).alias("powered"),
    )


def group_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    probs: list[float],
) -> DataFrame:
    """EXACT linear-interpolation quantiles PER GROUP → one row per
    (group, prob): (groups..., prob, value). The grouped companion of the
    global exact paths.

    Interpolation matches DuckDB ``quantile_cont`` (h = (n−1)·p, linear
    between the floor/ceil ranks), written token-identically in the
    oracle so values hash-match.

    Scale shape (r11, VERDICT r10 #3): the in-group rank is RANGE-
    partitioned on (group, v) — the column_stats / exact_quantiles_
    distributed posture — NOT a ``row_number over (partition by group
    order by v)`` window. The window form is parallel across groups but
    sorts each group on ONE task, so a hot group (one language at 80% of
    a corpus) becomes a straggler/OOM at 100×. Here repartitionByRange
    spreads a hot group across many contiguous-range partitions,
    per-(group, partition) counts roll up to in-group offsets via a
    window over the group×partition METADATA frame, and in-group rank =
    offset + row_number within the (group, partition) slice — identical
    ranks, no single-task sort anywhere. Then: per-group counts → a
    (group × prob) probe frame carrying the two boundary ranks +
    fraction (metadata-sized, broadcast) → ONE conditional aggregate
    picks both boundary values per (group, prob); the result is a
    single IEEE expression."""
    spark = df.sparkSession
    g = [F.col(c) for c in group_cols]
    vals = df.select(
        *g, F.col(value_col).cast("double").alias("v")
    ).filter(F.col("v").isNotNull())
    n_range = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    from pyspark import StorageLevel

    ranged = vals.repartitionByRange(n_range, *group_cols, "v").withColumn(
        "__pid", F.spark_partition_id()
    )
    # MUST be persisted, not merely deduped by exchange reuse:
    # repartitionByRange SAMPLES its boundaries with a fresh seed per
    # execution, so the (group, __pid) → count frame and the ranked join
    # below are only consistent when they read the SAME materialization —
    # an independent re-execution assigns different pids and silently
    # corrupts every offset (caught by the skew differential when a pc
    # persist broke the reuse pairing). Same discipline as
    # exact_quantiles_distributed's ranged.persist().
    (ranged,) = persist_generation(
        "distribution.group_quantiles.ranged",
        ranged,
        storage_level=StorageLevel.MEMORY_AND_DISK,
    )
    pc = ranged.groupBy(*group_cols, "__pid").agg(
        F.count(F.lit(1)).alias("__pc")
    )
    offsets = pc.select(
        *group_cols,
        "__pid",
        (
            F.sum("__pc").over(W.partitionBy(*group_cols).orderBy("__pid"))
            - F.col("__pc")
        ).alias("__off"),
    )
    ranked = ranged.join(F.broadcast(offsets), [*group_cols, "__pid"]).select(
        *group_cols,
        "v",
        (
            F.col("__off")
            + F.row_number().over(
                W.partitionBy(*group_cols, "__pid").orderBy("v")
            )
            - 1
        ).alias("__r"),
    )
    counts = pc.groupBy(*group_cols).agg(F.sum("__pc").alias("__n"))
    # (group × prob) probe from ONE explode over the counts frame — the
    # per-prob unionByName form gave every prob its own consumer of the
    # counts aggregate and re-executed the corpus scan per prob
    h = (F.col("__n") - 1) * F.col("prob")
    probe = counts.select(
        *group_cols,
        F.explode(
            F.array(*[F.lit(float(p)) for p in probs])
        ).alias("prob"),
        F.col("__n"),
    ).select(
        *group_cols,
        "prob",
        F.floor(h).cast("bigint").alias("__lo"),
        F.least(F.floor(h) + 1, F.col("__n") - 1).cast("bigint").alias("__hi"),
        (h - F.floor(h)).alias("__frac"),
    )
    probe_r = probe.select(
        *[F.col(c).alias(f"__g_{c}") for c in group_cols],
        "prob",
        "__lo",
        "__hi",
        "__frac",
    )
    cond = (F.col("__r") == F.col("__lo")) | (F.col("__r") == F.col("__hi"))
    for c in group_cols:
        cond = cond & (F.col(c) == F.col(f"__g_{c}"))
    j = ranked.join(F.broadcast(probe_r), on=cond)
    return (
        j.groupBy(*group_cols, "prob", "__frac")
        .agg(
            F.min(F.when(F.col("__r") == F.col("__lo"), F.col("v"))).alias("__vlo"),
            F.min(F.when(F.col("__r") == F.col("__hi"), F.col("v"))).alias("__vhi"),
        )
        .select(
            *group_cols,
            "prob",
            F.round(
                F.col("__vlo") + (F.col("__vhi") - F.col("__vlo")) * F.col("__frac"),
                6,
            ).alias("value"),
        )
    )


def kruskal_wallis(
    df: DataFrame,
    value_col: str,
    group_col: str,
    crit_95: float | None = None,
) -> DataFrame:
    """Kruskal–Wallis H test (1952, public knowledge) → one row
    (n_total, n_groups, h_stat, tie_correction, h_corrected[, reject_95]):
    the k-SAMPLE extension of Mann–Whitney — "do these k slices come from
    the same distribution?" asked rank-wise, so outlier magnitude is
    ignored. Completes the panel: KS (shape, 2), U (order, 2), Welch
    (means, 2), Spearman (association), χ² (categorical), THIS (k-sample).

    H = 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1), ties corrected by
    C = 1 − Σ(t³−t)/(N³−N), H' = H/C. ``crit_95`` (the χ²_{k−1,0.95}
    quantile for the CALLER-KNOWN group count — no χ² inverse exists as
    a builtin in either engine) adds ``reject_95 = H' > crit``.

    Engine-exactness (the mann_whitney discipline): avg ranks enter
    DOUBLED (2·cum_excl + t + 1 — exact bigints), per-group rank sums
    accumulate as exact decimals, and the k per-group H terms are rounded
    9 dp and summed as exact decimals (a raw double Σ over groups would
    be order-dependent across engines); tie cubes ride decimal(38,0).

    Scale shape: one value-count aggregate (map-side combinable), the
    two-level bucketed cumsum for ranks (no single-partition window),
    one (group, value)-count aggregate joined to the distinct-value-sized
    rank map, one k-row final reduce. State is distinct-value-sized."""
    rows = df.select(
        F.col(group_col).alias("g"), F.col(value_col).cast("double").alias("v")
    ).filter(F.col("g").isNotNull() & F.col("v").isNotNull())
    vc = rows.groupBy("v").agg(F.count(F.lit(1)).alias("t"))
    # persist the distinct-value-sized count frame: three consumers (the
    # cumsum's quantile pass, the rank map, the totals) would otherwise
    # each re-scan the base table — 2 base scans (vc + gv) is the floor
    (vc,) = persist_generation("distribution.kruskal_wallis", vc)
    cum = _bucketed_running_sums(
        vc, "v", ["t"], bounds_slot="distribution.kruskal_wallis.bounds"
    )
    rankmap = cum.select(
        "v",
        "t",
        # doubled average rank of value v: 2·cum_excl + t + 1 (exact)
        (2 * (F.col("__cum_t") - F.col("t")) + F.col("t") + 1).alias("r2"),
    )
    tot = vc.agg(
        F.sum("t").alias("n"),
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
            - F.col("t")
        ).alias("ties"),
    )
    gv = rows.groupBy("g", "v").agg(F.count(F.lit(1)).alias("c"))
    per_g = (
        gv.join(rankmap, "v")
        .groupBy("g")
        .agg(
            F.sum("c").alias("ng"),
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("r2")).alias("r2sum"),
        )
    )
    nd = F.col("n").cast("double")
    # per-group H term R_g²/n_g with doubled ranks: r2sum²/(4·n_g) —
    # rounded 9 dp and decimal-summed so the k-term Σ is order-independent
    term = F.round(
        F.col("r2sum").cast("double") * F.col("r2sum").cast("double")
        / (4.0 * F.col("ng").cast("double")),
        9,
    ).cast("decimal(38,9)")
    agg = (
        per_g.crossJoin(F.broadcast(tot))
        .agg(
            F.max("n").alias("n"),
            F.max("ties").alias("ties"),
            F.count(F.lit(1)).alias("k"),
            F.sum(term).alias("s"),
        )
    )
    h = 12.0 / (nd * (nd + 1.0)) * F.col("s").cast("double") - 3.0 * (nd + 1.0)
    n3 = F.col("n").cast("decimal(38,0)") * F.col("n") * F.col("n")
    c_expr = 1.0 - F.col("ties").cast("double") / (
        n3.cast("double") - nd
    )
    ok = (F.col("n") > 0) & (F.col("k") > 1)
    out = agg.select(
        F.col("n").cast("bigint").alias("n_total"),
        F.col("k").cast("bigint").alias("n_groups"),
        F.when(ok, F.round(h, 6)).alias("h_stat"),
        F.when(ok, F.round(c_expr, 6)).alias("tie_correction"),
        F.when(ok & (c_expr > 0), F.round(h / c_expr, 6)).alias("h_corrected"),
    )
    if crit_95 is not None:
        out = out.withColumn(
            "reject_95",
            F.when(
                F.col("h_corrected").isNotNull(),
                F.col("h_corrected") > F.lit(float(crit_95)),
            ),
        )
    return out


def _value_avg_ranks(df: DataFrame, col: str) -> DataFrame:
    """Average-rank map for one column → (v, __r2) with ``__r2`` =
    2·(average rank of v over the value-ordered rows) = 2·cum_excl + t
    + 1 — an exact BIGINT (the doubling dodges the .5 fractions; any
    rank-based statistic that is scale-invariant, like a correlation,
    can consume doubled ranks unchanged). Built on
    :func:`_bucketed_running_sums`, so no single-partition window."""
    counts = (
        df.select(F.col(col).alias("v"))
        .filter(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    # slot keyed by the ranked column: spearman builds BOTH rank maps (x
    # and y) before its action, so the two live bounds frames need
    # distinct slots (the _bucketed_running_sums contract)
    cum = _bucketed_running_sums(
        counts, "v", ["t"], bounds_slot=f"distribution._value_avg_ranks.{col}"
    )
    return cum.select(
        "v",
        (
            2 * (F.col("__cum_t") - F.col("t")) + F.col("t") + 1
        ).cast("bigint").alias("__r2"),
    )


def spearman_corr(df: DataFrame, col_x: str, col_y: str) -> DataFrame:
    """Spearman rank correlation → one row (n, rho): the monotone-
    association companion of quality.correlation_matrix's Pearson —
    rank-based, so a heavy tail or a nonlinear-but-monotone relation
    that wrecks/hides Pearson leaves Spearman untouched. Ties get
    AVERAGE ranks (the classical treatment); rho is then Pearson over
    the rank vectors, which the doubled-rank trick keeps INTEGER-exact:
    ranks enter as exact bigints 2·rank, the five moments sum as exact
    decimals, and the correlation is one IEEE expression over them
    (doubling cancels — correlation is scale-invariant). Rows with a
    NULL in either column drop.

    Scale shape: two value-count aggregates + two two-level cumsums
    (:func:`_bucketed_running_sums`, distinct-value-sized state), two
    equi-joins of the rank maps back onto the rows, ONE final
    map-side-combinable moment aggregate."""
    rows = df.select(F.col(col_x).alias("x"), F.col(col_y).alias("y")).filter(
        F.col("x").isNotNull() & F.col("y").isNotNull()
    )
    # bounded cache generation (ADVICE r9): released on the next call
    (rows,) = persist_generation("distribution.spearman_corr", rows)
    rx = _value_avg_ranks(rows, "x").select(
        F.col("v").alias("x"), F.col("__r2").alias("r2x")
    )
    ry = _value_avg_ranks(rows, "y").select(
        F.col("v").alias("y"), F.col("__r2").alias("r2y")
    )
    # x map is 50-ish values (broadcast regardless); the y map is
    # distinct-value-sized — near row-scale for a continuous column — so
    # its equi-join picks SMJ by default and pays a full sort of BOTH
    # sides that nothing downstream consumes (the very next operator is
    # a hash aggregate). Hint shuffled-hash (r11, guide §3.2): build side
    # = the map's partition slice (distinct-values/partitions rows,
    # hash-distributed, no skew — one map row per value), measured
    # 3.35 → 2.6 s at sf0.1, moments identical.
    ranked = rows.join(rx, "x").join(ry.hint("shuffle_hash"), "y")
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("r2x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("r2y").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("r2x").cast("decimal(38,0)") * F.col("r2x")).alias("sxx"),
        F.sum(F.col("r2y").cast("decimal(38,0)") * F.col("r2y")).alias("syy"),
        F.sum(F.col("r2x").cast("decimal(38,0)") * F.col("r2y")).alias("sxy"),
    )
    n_d = F.col("n").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx_d, syy_d = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy_d = F.col("sxy").cast("double")
    denom = F.sqrt(
        (n_d * sxx_d - sx_d * sx_d) * (n_d * syy_d - sy_d * sy_d)
    )
    return s.select(
        F.col("n").cast("bigint").alias("n"),
        F.when(
            denom > 0, F.round((n_d * sxy_d - sx_d * sy_d) / denom, 6)
        ).alias("rho"),
    )


def chi2_gof(
    df: DataFrame,
    category_col: str,
    expected: dict[str, float] | None = None,
) -> DataFrame:
    """Chi-square goodness-of-fit → one row (n, k, chi2, dof): does the
    observed categorical distribution match the expected one? The
    categorical counterpart of :func:`ks_two_sample` — the drift check a
    pipeline runs on event types, sources, or language mixes between
    corpus snapshots (PSI flags magnitude; chi-square carries the
    classical test statistic with known asymptotics).

    ``expected`` maps category → probability (must cover every observed
    category; probabilities need not sum exactly to 1 — they normalize).
    ``None`` tests against the UNIFORM distribution over the observed
    categories. Categories in ``expected`` but not observed contribute
    e_i = n·p_i with o_i = 0 (the full penalty, not silently skipped).
    The coverage contract is ENFORCED, not just stated: an observed
    category absent from ``expected`` raises (it is the strongest drift
    signal a drift test could see — silently dropping it from both n and
    the statistic, which is what the join would otherwise do, understates
    chi2 exactly when it matters most), and non-positive probabilities
    raise up front (a zero expected count makes (o−e)²/e a NULL term that
    sum() would silently skip). Enforcement costs one anti-join count
    over the category-bounded counts frame — metadata scale.

    Scale shape: ONE count-by-category aggregate (map-side combinable,
    state = one counter per category) + arithmetic over the
    category-space frame. Per-category terms (o−e)²/e round 8 dp and sum
    as exact decimals (order-independent), the statistic rounds 6 dp —
    engine-portable, oracle-checkable."""
    counts = df.groupBy(F.col(category_col).alias("cat")).agg(
        F.count(F.lit(1)).alias("o")
    )
    if expected is not None:
        if any(float(v) <= 0.0 for v in expected.values()):
            bad = sorted(k for k, v in expected.items() if float(v) <= 0.0)
            raise ValueError(
                "chi2_gof: expected probabilities must be positive; "
                f"non-positive for categories {bad[:5]}"
            )
        spark = df.sparkSession
        total_p = float(sum(expected.values()))
        probs = spark.createDataFrame(
            [(k, float(v) / total_p) for k, v in sorted(expected.items())],
            "cat string, p double",
        )
        uncovered = (
            counts.join(F.broadcast(probs), "cat", "left_anti")
            .select("cat")
            .limit(5)
            .collect()
        )
        if uncovered:
            raise ValueError(
                "chi2_gof: observed categories missing from `expected` "
                f"(first few: {sorted(r['cat'] for r in uncovered)}) — a "
                "new category is a drift signal, not a row to drop; add "
                "it to `expected` or test against None (uniform)"
            )
        joined = probs.join(counts, "cat", "left").select(
            "cat", F.coalesce(F.col("o"), F.lit(0)).alias("o"), "p"
        )
        stats = joined.crossJoin(
            F.broadcast(
                joined.agg(
                    F.sum("o").alias("__n"), F.count(F.lit(1)).alias("__k")
                )
            )
        ).select(
            "__n",
            "__k",
            F.round(
                F.pow(F.col("o") - F.col("p") * F.col("__n"), 2)
                / (F.col("p") * F.col("__n")),
                8,
            )
            .cast("decimal(18,8)")
            .alias("__term"),
        )
    else:
        stats = counts.crossJoin(
            F.broadcast(
                counts.agg(
                    F.sum("o").alias("__n"), F.count(F.lit(1)).alias("__k")
                )
            )
        ).select(
            "__n",
            "__k",
            F.round(
                F.pow(
                    F.col("o") - F.col("__n").cast("double") / F.col("__k"), 2
                )
                / (F.col("__n").cast("double") / F.col("__k")),
                8,
            )
            .cast("decimal(18,8)")
            .alias("__term"),
        )
    return stats.groupBy("__n", "__k").agg(
        F.round(F.sum("__term").cast("double"), 6).alias("chi2")
    ).select(
        F.col("__n").alias("n"),
        F.col("__k").alias("k"),
        "chi2",
        (F.col("__k") - 1).cast("long").alias("dof"),
    )
