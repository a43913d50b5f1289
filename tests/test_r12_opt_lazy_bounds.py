"""r12 optimization contracts: lazy in-plan bounds for the two-level
cumsum (rank/cumsum) family (VERDICT r11 task 3).

The eager ``approxQuantile`` boundary pass cost 4-7 serial construct-time
driver jobs per rank-family query (spearman 7, KS 7, Mann-Whitney 7,
Kruskal 4 — measured with tools/count_jobs.py). The lazy form computes
the same sketch as a persisted 1-row aggregate attached by scalar
subquery. These tests pin:

1. construct-time job count == 0 for the whole family (the point of the
   change);
2. exact cumsum / rank-statistic results on a SKEWED value domain (the
   case equi-width bounds would get wrong and any bucketing
   inconsistency between the two consumer branches would corrupt);
3. the persisted-bounds branch-consistency mechanism: the bounds frame
   is registered persisted before the action.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _njobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


@pytest.fixture()
def skewed(spark, tables):
    # heavily skewed continuous-ish domain from a real scan (real size
    # stats): 90% of mass in a narrow band, long tail above
    li = tables["lineitem"]
    return li.select(
        F.when(
            F.col("l_orderkey") % 10 < 9, F.col("l_quantity")
        ).otherwise(F.col("l_extendedprice")).alias("v")
    )


def test_bucketed_running_sums_construct_runs_no_jobs(spark, skewed):
    from bullet_spark_spark.operators import distribution as dist

    counts = skewed.groupBy("v").agg(F.count(F.lit(1)).alias("t"))
    j0 = _njobs(spark)
    out = dist._bucketed_running_sums(
        counts, "v", ["t"], bounds_slot="test.lazy_bounds.construct"
    )
    assert _njobs(spark) - j0 == 0, "bounds pass must not run driver jobs"
    assert "__cum_t" in out.columns


def test_rank_family_queries_construct_run_no_jobs(spark):
    import __spark_entry__ as entry

    qs = entry.queries()
    sf = "/root/testdata/sf0.001"
    for name in (
        "distribution_spearman",
        "distribution_ks_test",
        "distribution_mannwhitney",
        "distribution_kruskal",
    ):
        qs[name](spark, sf).count()  # warm (fills generation caches)
        j0 = _njobs(spark)
        df = qs[name](spark, sf)
        assert _njobs(spark) - j0 == 0, f"{name} ran construct-time jobs"
        df.count()  # and it still executes


def test_bucketed_running_sums_exact_on_skewed_domain(spark, skewed):
    from bullet_spark_spark.operators import distribution as dist

    counts = skewed.groupBy("v").agg(F.count(F.lit(1)).alias("t"))
    got = {
        r["v"]: r["__cum_t"]
        for r in dist._bucketed_running_sums(
            counts, "v", ["t"], bounds_slot="test.lazy_bounds.skewed"
        ).collect()
    }
    rows = sorted(
        ((r["v"], r["t"]) for r in counts.collect()), key=lambda t: t[0]
    )
    run = 0
    for v, t in rows:
        run += t
        assert got[v] == run, (v, got[v], run)


def test_bounds_frame_is_persisted_before_action(spark, skewed):
    from bullet_spark_spark.operators import _cache
    from bullet_spark_spark.operators import distribution as dist

    counts = skewed.groupBy("v").agg(F.count(F.lit(1)).alias("t"))
    dist._bucketed_running_sums(
        counts, "v", ["t"], bounds_slot="test.lazy_bounds.persisted"
    )
    live = _cache._live.get("test.lazy_bounds.persisted")
    assert live is not None and len(live) == 1
    # persisted (marked in the CacheManager) even before materialization —
    # the branch-consistency guarantee is the single shared InMemoryRelation
    assert live[0].storageLevel.useMemory or live[0].storageLevel.useDisk


def test_spearman_matches_literal_rank_reference(spark, tables):
    """End-to-end guard: spearman over the lazy bounds equals a direct
    doubled-rank computation done with a plain global window."""
    from pyspark.sql.window import Window as W

    from bullet_spark_spark.operators import distribution as dist

    df = (
        tables["lineitem"]
        .select(
            F.col("l_quantity").alias("x"),
            (F.col("l_extendedprice") % 97).alias("y"),
        )
        .limit(5000)
    )
    rho = dist.spearman_corr(df, "x", "y").collect()[0]["rho"]

    rows = df.filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    import statistics as st

    data = [(r["x"], float(r["y"])) for r in rows.collect()]
    # doubled average ranks computed in pure Python
    def dranks(vals):
        s = sorted(vals)
        first = {}
        cnt = {}
        for i, v in enumerate(s):
            first.setdefault(v, i + 1)
            cnt[v] = cnt.get(v, 0) + 1
        return {v: 2 * first[v] + cnt[v] - 1 for v in first}

    rx = dranks([x for x, _ in data])
    ry = dranks([y for _, y in data])
    xs = [rx[x] for x, _ in data]
    ys = [ry[y] for _, y in data]
    n = len(data)
    mx, my = sum(xs) / n, sum(ys) / n
    cov = sum((a - mx) * (b - my) for a, b in zip(xs, ys))
    vx = sum((a - mx) ** 2 for a in xs)
    vy = sum((b - my) ** 2 for b in ys)
    ref = cov / (vx**0.5 * vy**0.5)
    assert rho == pytest.approx(ref, abs=1e-6)


@pytest.mark.parametrize("kind", ["date", "timestamp"])
def test_rank_tests_on_date_and_timestamp_columns(spark, tables, kind):
    """DATE and TIMESTAMP order columns do not cast to double; the lazy
    bounds bucket them by their order-preserving integer encodings
    (unix_date / unix_micros). KS and Mann-Whitney on the temporal column
    must equal the same tests on that encoding (both are rank-only)."""
    from pyspark.sql.types import DateType, TimestampType

    from bullet_spark_spark.operators import distribution as dist

    if kind == "date":
        t = F.to_date("ts")
        enc, dtype = F.unix_date(t), DateType
    else:
        t = F.col("ts").cast("timestamp")
        enc, dtype = F.unix_micros(t), TimestampType
    frame = tables["events"].select(
        (F.col("event_type") == "view").alias("g"), t.alias("t"), enc.alias("e")
    )
    assert isinstance(frame.schema["t"].dataType, dtype)
    a, b = frame.filter(F.col("g")), frame.filter(~F.col("g"))
    for test in (dist.ks_two_sample, dist.mann_whitney_u):
        got = test(a, b, "t").collect()
        assert got == test(a, b, "e").collect(), test.__name__
        assert got[0]["n_a"] > 0 and got[0]["n_b"] > 0
