"""Data-quality validation — Deequ-style declarative constraint checks
(Schelter et al., "Automating Large-Scale Data Quality Verification",
VLDB 2018) over DataFrames: completeness, ranges, patterns, accepted
values, and uniqueness, reported as one tidy violations frame.

The reference engine has no validation surface (records are schema-less
and unchecked, MockDeserializer.scala:15); a storage-owning engine wants
the pipeline gate: validate a batch BEFORE it lands, quarantine or fail
on violations — the same posture as the dead-letter split in
sources/streaming.py, but rule-driven and declarative.

Scale shape: all row-level rules evaluate in ONE aggregation pass over
one scan — each rule is a conditional count riding the same
partial/final split, so adding rules adds codegen expressions, not jobs.
Uniqueness needs its own shuffle per distinct key set (it is a grouped
cardinality question), aggregated to one row each. Everything is
engine-portable arithmetic — the report is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def complete(col: str) -> Column:
    """Rule: column is non-null."""
    return F.col(col).isNotNull()


def in_range(col: str, lo: float, hi: float) -> Column:
    """Rule: lo <= col <= hi (NULL violates — range implies presence)."""
    return F.col(col).isNotNull() & F.col(col).between(lo, hi)


def matches(col: str, pattern: str) -> Column:
    """Rule: column fully matches the regex (NULL violates)."""
    return F.col(col).isNotNull() & F.col(col).rlike(pattern)


def accepted_values(col: str, values: list) -> Column:
    """Rule: column is one of the accepted values (NULL violates)."""
    return F.col(col).isin(*values)


def non_negative(col: str) -> Column:
    """Rule: col >= 0 (NULL violates)."""
    return F.col(col).isNotNull() & (F.col(col) >= 0)


def validate(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Evaluate row-level rules in ONE aggregation pass: returns
    (rule, n_rows, violations, pass_fraction) — one row per rule,
    pass_fraction rounded to 6 dp. A rule is any boolean Column; NULL
    rule results count as violations (SQL three-valued logic would
    silently pass them)."""
    if not rules:
        raise ValueError("validate() needs at least one rule")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, (name, pred) in enumerate(rules.items()):
        aggs.append(
            F.sum(
                F.when(F.coalesce(pred, F.lit(False)), 0).otherwise(1)
            ).alias(f"__v{i}")
        )
    row = df.agg(*aggs)
    # ONE plan consuming the aggregate once: the tidy per-rule frame is an
    # explode over an array of structs (a per-rule select + union would
    # physically re-run the whole aggregation — and its scan — per rule)
    entries = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"), F.col(f"__v{i}").alias("violations")
            )
            for i, name in enumerate(rules)
        ]
    )
    return (
        row.select(F.col("__n"), F.explode(entries).alias("e"))
        .select(
            F.col("e.rule").alias("rule"),
            F.col("__n").alias("n_rows"),
            F.col("e.violations").alias("violations"),
            F.when(
                F.col("__n") > 0,
                F.round(1.0 - F.col("e.violations") / F.col("__n"), 6),
            )
            .otherwise(F.lit(1.0))
            .alias("pass_fraction"),
        )
    )


def uniqueness(df: DataFrame, cols: list[str]) -> DataFrame:
    """Key-uniqueness report for one key set: (key, n_rows, n_distinct,
    n_dup_rows, unique_fraction) — n_dup_rows counts every row whose key
    tuple occurs more than once (the rows a dedup would have to
    arbitrate). One shuffle on the key; the second aggregation runs over
    the reduced (one row per key) frame."""
    per_key = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("__c"))
    return per_key.agg(
        F.lit(",".join(cols)).alias("key"),
        F.sum("__c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.when(F.col("__c") > 1, F.col("__c")).otherwise(0)).alias(
            "n_dup_rows"
        ),
        F.round(F.count(F.lit(1)) / F.sum("__c"), 6).alias("unique_fraction"),
    )


def bucketize(col: Column, edges: list[float]) -> Column:
    """Deterministic bucket id for drift reports: the number of ``edges``
    that ``col`` is >= to (0 .. len(edges)); NULL stays NULL and is
    dropped by drift_report. Pure comparisons + integer adds — identical
    in every engine (no division, no float rounding at the boundary)."""
    if not edges:
        raise ValueError("bucketize() needs at least one edge")
    b = F.lit(0)
    for e in edges:
        b = b + F.when(col >= F.lit(float(e)), 1).otherwise(0)
    return F.when(col.isNotNull(), b)


def oracle_bucketize_sql(col_sql: str, edges: list[float]) -> str:
    """The equivalent ANSI-SQL bucket expression, for oracle checks."""
    terms = " + ".join(
        f"(CASE WHEN {col_sql} >= {float(e)!r} THEN 1 ELSE 0 END)" for e in edges
    )
    return f"(CASE WHEN {col_sql} IS NOT NULL THEN {terms} END)"


def drift_report(
    ref: DataFrame,
    cur: DataFrame,
    bucket: Column,
    eps: float = 1e-6,
) -> DataFrame:
    """Population-stability drift between a reference snapshot and a
    current one — the monitoring gate a training-data pipeline runs before
    accepting a new crawl/day against the distribution it trained on.
    ``bucket`` is any Column producing a bucket label over BOTH frames
    (``bucketize(...)`` for numeric, the raw column for categorical).

    Returns one row per bucket observed in either frame:
    (bucket, ref_count, cur_count, ref_frac, cur_frac, psi) where psi is
    this bucket's Population Stability Index contribution
    ``(cur_frac - ref_frac) * ln(cur_frac / ref_frac)`` with both
    fractions floored at ``eps`` (the standard smoothing so empty buckets
    contribute a finite penalty instead of ±inf). Total PSI = SUM(psi);
    the usual reading: <0.1 stable, 0.1-0.25 drifting, >0.25 shifted.

    Scale shape: each side aggregates to per-bucket counts independently
    (map-side combinable, state = #buckets ≪ data), the two tiny grouped
    frames full-outer-join on bucket, and totals ride a window over the
    #buckets-row frame — no corpus-sized shuffle, no second scan of
    either input. NULL buckets are excluded (a NULL never compares into a
    numeric bucket; categorical NULLs should be coalesced by the caller
    if they are meaningful).

    Determinism: counts are exact; fractions are exact double divisions;
    ln differs in the last ulp across libms, so psi is rounded to 6 dp
    (the repo-wide oracle convention)."""
    from pyspark.sql.window import Window

    r = (
        ref.select(bucket.alias("bucket"))
        .filter(F.col("bucket").isNotNull())
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("ref_count"))
    )
    c = (
        cur.select(bucket.alias("bucket"))
        .filter(F.col("bucket").isNotNull())
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cur_count"))
    )
    both = (
        r.join(c, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("ref_count", F.lit(0)).alias("ref_count"),
            F.coalesce("cur_count", F.lit(0)).alias("cur_count"),
        )
    )
    # window over the per-bucket frame: #buckets rows, driver-trivial
    w = Window.partitionBy()
    rf = F.greatest(
        F.col("ref_count") / F.sum("ref_count").over(w), F.lit(float(eps))
    )
    cf = F.greatest(
        F.col("cur_count") / F.sum("cur_count").over(w), F.lit(float(eps))
    )
    return both.select(
        "bucket",
        "ref_count",
        "cur_count",
        F.round(rf, 6).alias("ref_frac"),
        F.round(cf, 6).alias("cur_frac"),
        F.round((cf - rf) * F.log(cf / rf), 6).alias("psi"),
    )


def profile_columns(
    df: DataFrame,
    numeric_cols: list[str] = (),
    string_cols: list[str] = (),
    approx_distinct: bool = False,
) -> DataFrame:
    """Column profiling report — the 'describe this table' pass a pipeline
    runs before designing rules: one row per column with
    (column, kind, n_rows, nulls, n_distinct, min_num, max_num, mean).
    Numeric columns profile their values; string columns profile their
    LENGTHS (the classic profiler treatment — value min/max of free text
    is noise). ``mean`` is the exact-decimal-sum average rounded 6 dp
    (the repo-wide cross-engine convention).

    ALL statistics evaluate in ONE aggregation job over one scan. Exact
    multi-column count distinct compiles to Catalyst's Expand (one pass,
    data multiplied ×(k+1) into the shuffle) — fine for routine profiling;
    at extreme width × volume set ``approx_distinct=True`` to ride
    HLL++ partials instead (±2-3%, not oracle-checkable, same plan shape
    minus Expand)."""
    if not numeric_cols and not string_cols:
        raise ValueError("profile_columns() needs at least one column")
    cd = (
        (lambda c: F.approx_count_distinct(c))
        if approx_distinct
        else (lambda c: F.count_distinct(c))
    )
    aggs = [F.count(F.lit(1)).alias("__n")]
    specs: list[tuple[str, str]] = []
    for i, c in enumerate(list(numeric_cols) + list(string_cols)):
        kind = "numeric" if i < len(numeric_cols) else "string"
        v = F.col(c) if kind == "numeric" else F.length(F.col(c))
        specs.append((c, kind))
        aggs += [
            F.count(v).alias(f"__nn{i}"),
            cd(v).alias(f"__d{i}"),
            F.min(v).cast("double").alias(f"__mn{i}"),
            F.max(v).cast("double").alias(f"__mx{i}"),
            F.round(
                F.sum(v.cast("decimal(28,6)")).cast("double") / F.count(v), 6
            ).alias(f"__avg{i}"),
        ]
    row = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.lit(kind).alias("kind"),
                (F.col("__n") - F.col(f"__nn{i}")).alias("nulls"),
                F.col(f"__d{i}").cast("long").alias("n_distinct"),
                F.col(f"__mn{i}").alias("min_num"),
                F.col(f"__mx{i}").alias("max_num"),
                F.col(f"__avg{i}").alias("mean"),
            )
            for i, (c, kind) in enumerate(specs)
        ]
    )
    return row.select(F.col("__n").alias("n_rows"), F.explode(entries).alias("e")).select(
        "e.column", "e.kind", "n_rows", "e.nulls", "e.n_distinct",
        "e.min_num", "e.max_num", "e.mean",
    )


def row_fingerprint(cols: list[str]) -> Column:
    """Engine-portable row content hash: md5 over unit-separator-joined
    column values, NULL encoded as chr(0) (distinct from the empty
    string, and from a value equal to the separator). DuckDB mirror:
    ``md5(coalesce(CAST(c AS VARCHAR), chr(0)) || chr(31) || ...)`` —
    built with explicit ``||`` because concat_ws skips NULL arguments
    asymmetrically between engines."""
    parts: list[Column] = []
    for i, c in enumerate(cols):
        if i:
            parts.append(F.lit("\u001f"))
        parts.append(F.coalesce(F.col(c).cast("string"), F.lit("\u0000")))
    return F.md5(F.concat(*parts))


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
    include_unchanged: bool = False,
) -> DataFrame:
    """Change-data capture between two corpus snapshots → (keys…, change)
    with change ∈ added / removed / changed (/ unchanged): which rows an
    incremental pipeline must reprocess, and which deletions must
    propagate (the right-to-be-forgotten audit). Complements drift_report
    (distribution-level drift) with row-level lineage.

    Content equality is md5 over ``compare_cols`` (row_fingerprint) —
    engine-portable, so the diff is oracle-exact; NULL ≠ '' ≠ separator.

    Shape at 100 TB: ONE full-outer shuffle join on the key — no
    fingerprint table materialized, both hashes computed inline from each
    scan. Snapshots bucketed on the key (write_bucketed) join with zero
    Exchange; 'unchanged' rows (the overwhelming majority) are dropped
    before anything downstream sees them."""
    fp_old = old.select(
        *[F.col(k) for k in key_cols],
        row_fingerprint(compare_cols).alias("__fp_old"),
    )
    fp_new = new.select(
        *[F.col(k) for k in key_cols],
        row_fingerprint(compare_cols).alias("__fp_new"),
    )
    # null-safe key equality: with plain USING-style equality a NULL key
    # present in both snapshots never matches itself, so the same row is
    # reported as BOTH 'added' and 'removed' (r4 advisory). The new side's
    # keys are RENAMED (not referenced through dataframe instances): when
    # old and new derive from the same source frame, instance refs share
    # expression ids and the join condition is ambiguous
    fp_new = fp_new.select(
        *[F.col(k).alias(f"__nk_{k}") for k in key_cols], "__fp_new"
    )
    cond = None
    for k in key_cols:
        c = F.col(k).eqNullSafe(F.col(f"__nk_{k}"))
        cond = c if cond is None else (cond & c)
    j = fp_old.join(fp_new, cond, "full_outer")
    change = (
        F.when(F.col("__fp_old").isNull(), F.lit("added"))
        .when(F.col("__fp_new").isNull(), F.lit("removed"))
        .when(F.col("__fp_old") != F.col("__fp_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out = j.select(
        *[
            F.coalesce(F.col(k), F.col(f"__nk_{k}")).alias(k)
            for k in key_cols
        ],
        change.alias("change"),
    )
    if not include_unchanged:
        out = out.filter(F.col("change") != "unchanged")
    return out


def fd_violations(
    df: DataFrame,
    lhs_cols: list[str],
    rhs_col: str,
    examples: int = 3,
) -> DataFrame:
    """Functional-dependency check lhs -> rhs: keys whose rows disagree on
    ``rhs_col`` -> (lhs..., n_rows, n_rhs_values, rhs_examples). The
    profiling question behind normalization and join-key hygiene ("is
    zip -> city actually true in this dump?"); an empty result certifies
    the dependency holds.

    One shuffle on lhs for the counts. n_rhs_values is count(DISTINCT
    rhs) — hash-based, no per-key set. rhs_examples are BOUNDED before
    any collect: a (lhs, rhs)-distinct pass ranks each key's values
    ascending and keeps only the first ``examples`` (row_number ≤ e), so
    per-key state is e strings even for a key with millions of distinct
    rhs values (the old collect_set-then-slice held the full distinct
    set in one row — a 2 GB-row kill on far-from-functional columns).
    Pass ``examples=0`` to skip example materialization. Examples sort
    ascending — deterministic, oracle-comparable. NULL rhs counts as a
    value (a key mapping to both x and NULL is a violation); NULL
    encodes as chr(0) in the example list."""
    rhs = F.coalesce(F.col(rhs_col).cast("string"), F.lit("\x00"))
    per_key = df.groupBy(*lhs_cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(rhs).alias("n_rhs_values"),
    )
    out = per_key.filter(F.col("n_rhs_values") > 1)
    if examples > 0:
        from pyspark.sql.window import Window as W

        w = W.partitionBy(*lhs_cols).orderBy(F.col("__rhs").asc())
        ex = (
            df.select(*lhs_cols, rhs.alias("__rhs"))
            .distinct()
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= examples)
            .groupBy(*lhs_cols)
            .agg(F.sort_array(F.collect_list("__rhs")).alias("rhs_examples"))
        )
        out = out.join(ex, list(lhs_cols), "left")
    return out


def correlation_matrix(
    df: DataFrame, cols: list[str], exact: bool = True
) -> DataFrame:
    """Pairwise Pearson correlations → (col_a, col_b, corr) for every
    unordered column pair — the feature-redundancy report next to
    profile_columns. Listwise NULL handling: rows with a NULL in ANY of
    ``cols`` are excluded first (documented; pairwise-complete would need
    per-pair conditional counts).

    Moments: Σx accumulates as an exact DECIMAL(18,6); each product
    (x·x, x·y) is ONE IEEE multiplication — bit-identical in every
    engine — rounded to 8 dp and summed as exact DECIMAL(28,8) (the bm25
    posture; decimal×decimal would overflow one engine's 38-digit cap or
    silently lose scale in the other). Everything rides ONE aggregation
    pass over one scan — k(k+3)/2 codegen expressions, not jobs — and
    the correlation itself is a single double expression over the exact
    sums (rounded 6 dp), so the matrix is oracle-exact. The tidy frame
    explodes an array of structs (the validate() posture).

    ``exact=False`` swaps the decimal moment sums for plain double sums:
    Spark's Decimal aggregation path is a measured ~30× constant factor
    over Tungsten double sums (5.6 s vs 0.18 s for the 10 product moments
    over sf0.1 lineitem) — the exact regime is the CERTIFICATION
    mechanism (bit-stable hash vs the oracle), while production profiling
    at 100 TB wants the double path, whose accumulation-order wobble is
    ~1e-11 relative — far inside any statistical use of a correlation."""
    if len(cols) < 2:
        raise ValueError("correlation_matrix() needs at least two columns")
    base = df
    for c in cols:
        base = base.filter(F.col(c).isNotNull())
    if exact:
        prod = lambda a, b: F.round(F.col(a) * F.col(b), 8).cast(  # noqa: E731
            "decimal(28,8)"
        )
    else:
        prod = lambda a, b: F.col(a) * F.col(b)  # noqa: E731
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        s = (
            F.sum(F.col(c).cast("decimal(18,6)"))
            if exact
            else F.sum(F.col(c).cast("double"))
        )
        aggs.append(s.cast("double").alias(f"__s{i}"))
        aggs.append(F.sum(prod(c, c)).cast("double").alias(f"__q{i}"))
    pairs = [(i, j) for i in range(len(cols)) for j in range(i + 1, len(cols))]
    for i, j in pairs:
        aggs.append(
            F.sum(prod(cols[i], cols[j])).cast("double").alias(f"__p{i}_{j}")
        )
    row = base.agg(*aggs)
    n = F.col("__n").cast("double")

    def corr(i, j):
        num = n * F.col(f"__p{i}_{j}") - F.col(f"__s{i}") * F.col(f"__s{j}")
        den = F.sqrt(
            (n * F.col(f"__q{i}") - F.col(f"__s{i}") * F.col(f"__s{i}"))
            * (n * F.col(f"__q{j}") - F.col(f"__s{j}") * F.col(f"__s{j}"))
        )
        return F.when(den > 0, F.round(num / den, 6))

    entries = F.array(
        *[
            F.struct(
                F.lit(cols[i]).alias("col_a"),
                F.lit(cols[j]).alias("col_b"),
                corr(i, j).alias("corr"),
            )
            for i, j in pairs
        ]
    )
    return row.select(F.explode(entries).alias("e")).select(
        "e.col_a", "e.col_b", "e.corr"
    )


def benford_digit_report(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """First-significant-digit distribution vs Benford's law → one row per
    digit 1-9: (digit, n, share, expected, deviation) — the classic
    fabricated-data / broken-ETL screen for naturally-occurring amounts
    (invoice totals, populations, trade volumes): organic multi-scale data
    follows P(d) = log10(1 + 1/d); synthetic or truncated feeds don't.

    Engine-exactness: the leading digit comes from the DECIMAL STRING form
    of the value (cast to DECIMAL(28,6) → text → first [1-9]) rather than
    log10/pow arithmetic, whose libm rounding at exact powers of ten can
    disagree between engines; the nine expected shares are Python-computed
    literals, identical bytes in the plan and the oracle. One aggregation
    pass; NULLs and zeros drop (no leading significant digit).

    Reference analog: none; M5 quality-family extension (the profiling
    companion to quality.drift_psi).
    """
    import math as _math

    digit = F.regexp_extract(
        F.abs(F.col(value_col)).cast("decimal(28,6)").cast("string"), "([1-9])", 1
    )
    counts = (
        df.filter(F.col(value_col).isNotNull() & (F.col(value_col) != 0))
        .select(digit.alias("d"))
        .filter(F.col("d") != "")
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("__total"))
    expected = F.create_map(
        *[
            x
            for dd in range(1, 10)
            for x in (
                F.lit(str(dd)),
                F.lit(round(_math.log10(1.0 + 1.0 / dd), 6)),
            )
        ]
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            F.col("d").cast("int").alias("digit"),
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n") / F.col("__total"), 6).alias("share"),
            expected[F.col("d")].alias("expected"),
            F.round(
                F.round(F.col("n") / F.col("__total"), 6) - expected[F.col("d")], 6
            ).alias("deviation"),
        )
    )


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
    sensitive_col: str | None = None,
) -> DataFrame:
    """Privacy audit for a release candidate → ONE row: (k_threshold,
    n_rows, n_classes, min_class_size, anonymity_k, n_violating_classes,
    n_violating_rows[, min_l_diversity]) — k-anonymity over the quasi-
    identifier columns (every row must share its quasi tuple with ≥ k−1
    others) plus, when ``sensitive_col`` is given, the worst-case
    l-diversity (min distinct sensitive values within any equivalence
    class; a class with one sensitive value leaks it even when
    k-anonymous). The pre-publication gate for training corpora carrying
    user-derived fields (Sweeney 2002 / Machanavajjhala 2007).

    Shape: one quasi-keyed aggregation to equivalence classes (map-side
    combinable; l-diversity rides the same shuffle as a count_distinct),
    then a one-row summary over the class frame. NULL quasi values form
    their own class (SQL grouping semantics — NULLs group together,
    which is the conservative reading: a NULL tuple is still a tuple)."""
    per_class = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).alias("__n"),
        *(
            [F.count_distinct(F.col(sensitive_col)).alias("__l")]
            if sensitive_col
            else []
        ),
    )
    aggs = [
        F.lit(k).alias("k_threshold"),
        F.sum("__n").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("__n").cast("bigint").alias("min_class_size"),
        # the dataset IS min_class_size-anonymous — the headline number
        F.min("__n").cast("bigint").alias("anonymity_k"),
        F.sum(F.when(F.col("__n") < k, 1).otherwise(0)).cast("bigint").alias(
            "n_violating_classes"
        ),
        F.sum(F.when(F.col("__n") < k, F.col("__n")).otherwise(0))
        .cast("bigint")
        .alias("n_violating_rows"),
    ]
    if sensitive_col:
        aggs.append(F.min("__l").cast("bigint").alias("min_l_diversity"))
    return per_class.agg(*aggs)


def hot_keys_report(
    df: DataFrame, key_cols: list[str], top: int = 20
) -> DataFrame:
    """Skew diagnosis → the ``top`` heaviest key tuples with their share
    of all rows and a skew factor vs the mean key (keys…, n, share,
    skew_factor): the report that tells you WHICH keys need the salted
    join/agg path (operators/relational.salted_*) before a straggler
    tells you at hour three. One key-keyed aggregation (map-side
    combinable) + a TakeOrderedAndProject over the per-key frame; the
    mean rides a one-row broadcast."""
    per_key = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n"))
    stats = per_key.agg(
        F.sum("n").cast("double").alias("__total"),
        F.count(F.lit(1)).cast("double").alias("__nkeys"),
    )
    return (
        per_key.crossJoin(F.broadcast(stats))
        .select(
            *key_cols,
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n") / F.col("__total"), 6).alias("share"),
            F.round(F.col("n") / (F.col("__total") / F.col("__nkeys")), 6).alias(
                "skew_factor"
            ),
        )
        .orderBy(F.desc("n"), *key_cols)
        .limit(top)
    )


def referential_integrity_report(
    child: DataFrame,
    parent: DataFrame,
    fk_cols: list[str],
    pk_cols: list[str] | None = None,
) -> DataFrame:
    """Foreign-key audit → ONE row (n_child, n_child_null_fk, n_orphans,
    orphan_fraction): child rows whose FK tuple exists in no parent row —
    the join-integrity gate a warehouse sync runs after every load
    (orphans silently vanish from INNER joins downstream, which is how a
    revenue number loses rows without an error anywhere). NULL FKs count
    separately (SQL FK semantics: NULL never violates) and are excluded
    from the orphan fraction's denominator.

    Shape: ONE left join of the child against the distinct parent keys
    (a hit marker, not payload — dimension-sized side broadcasts) and
    ONE aggregation pass computing all three counts; no driver loops,
    one job, lazily composable."""
    pk = pk_cols or fk_cols
    par = (
        parent.select(*[F.col(p).alias(f) for p, f in zip(pk, fk_cols)])
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    null_pred = None
    for c in fk_cols:
        p = F.col(c).isNull()
        null_pred = p if null_pred is None else (null_pred | p)
    j = child.join(par, fk_cols, "left")
    n_child = F.count(F.lit(1))
    n_null = F.sum(F.when(null_pred, 1).otherwise(0))
    n_orph = F.sum(
        F.when(~null_pred & F.col("__hit").isNull(), 1).otherwise(0)
    )
    return j.agg(
        n_child.cast("bigint").alias("n_child"),
        n_null.cast("bigint").alias("n_child_null_fk"),
        n_orph.cast("bigint").alias("n_orphans"),
        F.round(
            n_orph / F.greatest(n_child - n_null, F.lit(1)), 6
        ).alias("orphan_fraction"),
    )


def profile_diff(
    old: DataFrame,
    new: DataFrame,
    numeric_cols: list[str] = (),
    string_cols: list[str] = (),
) -> DataFrame:
    """Column-profile DRIFT between two snapshots → one row per column:
    (column, kind, null_frac_old, null_frac_new, null_frac_delta,
    distinct_old, distinct_new, mean_old, mean_new, mean_delta) — the
    schema-level companion to drift_report (value distributions) and
    snapshot_diff (row lineage): a null-rate jump or a distinct-count
    collapse is usually an upstream extractor breaking, visible here
    before any value-level statistic moves.

    Each side runs ONE profile_columns aggregation pass; the diff joins
    the two column-sized reports (broadcast). Deltas are rounded 6 dp
    (the cross-engine convention)."""
    po = profile_columns(old, numeric_cols, string_cols)
    pn = profile_columns(new, numeric_cols, string_cols)
    o = po.select(
        "column",
        "kind",
        (F.col("nulls") / F.greatest(F.col("n_rows"), F.lit(1))).alias("__nfo"),
        F.col("n_distinct").alias("distinct_old"),
        F.col("mean").alias("mean_old"),
    )
    n = pn.select(
        "column",
        (F.col("nulls") / F.greatest(F.col("n_rows"), F.lit(1))).alias("__nfn"),
        F.col("n_distinct").alias("distinct_new"),
        F.col("mean").alias("mean_new"),
    )
    return (
        o.join(F.broadcast(n), "column")
        .select(
            "column",
            "kind",
            F.round("__nfo", 6).alias("null_frac_old"),
            F.round("__nfn", 6).alias("null_frac_new"),
            F.round(F.round("__nfn", 6) - F.round("__nfo", 6), 6).alias(
                "null_frac_delta"
            ),
            "distinct_old",
            "distinct_new",
            "mean_old",
            "mean_new",
            F.round(
                F.coalesce(F.col("mean_new"), F.lit(0.0))
                - F.coalesce(F.col("mean_old"), F.lit(0.0)),
                6,
            ).alias("mean_delta"),
        )
    )
