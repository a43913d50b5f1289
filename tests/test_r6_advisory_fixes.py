"""Regression tests for the round-6 ADVICE.md + VERDICT items.

- bloom_probe / cms_lookup broadcast hints gated on sketch size (VERDICT
  "What's wrong #1": an unconditional F.broadcast of a frame auto-sized to
  the key count OOMs at ~1B keys);
- temp-column collision safety in bloom_probe / cms_lookup;
- theta_result_meta k floor (z-sigma bounds degenerate below k=12);
- cosine_near_dup_pairs(exact=True) row cap (the n² crossJoin is a
  differential reference, not a production path).
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from bullet_spark_spark.operators import sketch as sk


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# ---------------------------------------------------------------------------
# bloom_probe / cms_lookup broadcast gate
# ---------------------------------------------------------------------------

def test_bloom_probe_broadcasts_small_filter(spark):
    keys = spark.range(100).select(F.col("id").alias("k"))
    bloom = sk.bloom_build(keys, "k", m_bits=1 << 20, k=3)
    probed = sk.bloom_probe(
        spark.range(1000).select(F.col("id").alias("k")), "k", bloom,
        m_bits=1 << 20, k=3,
    )
    assert "BroadcastExchange" in _plan(probed)


@contextlib.contextmanager
def _no_auto_broadcast(spark):
    """Disable the size-based auto broadcast so ONLY a hint could force a
    BroadcastExchange — isolates the gate under test from AQE's own
    (correct) decision to broadcast a genuinely tiny frame."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bloom_probe_no_broadcast_hint_above_gate(spark):
    # m_bits chosen so m_bits/64 > SKETCH_BROADCAST_MAX_ROWS: the words
    # frame's ROW BOUND scales with the key count, so the hint must drop
    # and AQE pick the strategy. (The filter itself stays tiny here — the
    # gate is on the bound, which is what's known at plan time.)
    big_m = (sk.SKETCH_BROADCAST_MAX_ROWS + 1) * 64
    keys = spark.range(100).select(F.col("id").alias("k"))
    bloom = sk.bloom_build(keys, "k", m_bits=big_m, k=2)
    probed = sk.bloom_probe(
        spark.range(1000).select(F.col("id").alias("k")), "k", bloom,
        m_bits=big_m, k=2,
    )
    with _no_auto_broadcast(spark):
        assert "BroadcastExchange" not in _plan(probed)
        # semantics unchanged: every true key still tests positive
        n_true = probed.filter(F.col("bloom_maybe") & (F.col("k") < 100)).count()
    assert n_true == 100
    # and below the gate, the hint forces the broadcast even with auto off
    small_bloom = sk.bloom_build(keys, "k", m_bits=1 << 16, k=2)
    small = sk.bloom_probe(
        spark.range(1000).select(F.col("id").alias("k")), "k", small_bloom,
        m_bits=1 << 16, k=2,
    )
    with _no_auto_broadcast(spark):
        assert "BroadcastExchange" in _plan(small)


def test_cms_lookup_no_broadcast_hint_above_gate(spark):
    big_w = sk.SKETCH_BROADCAST_MAX_ROWS + 1
    df = spark.range(200).select((F.col("id") % 10).alias("k"))
    cms = sk.cms_build(df, "k", w=big_w, d=2)
    looked = sk.cms_lookup(df, "k", cms, w=big_w, d=2)
    with _no_auto_broadcast(spark):
        assert "BroadcastExchange" not in _plan(looked)
        got = {r["k"]: r["freq_est"] for r in looked.distinct().collect()}
    assert all(v >= 20 for v in got.values())  # CMS never underestimates


def test_no_unconditional_broadcast_of_sketch_frames():
    """Grep-level contract: every F.broadcast in sketch.py either sits
    behind the size gate (the `hint(` lambda indirection) or carries a
    `# bounded:` annotation proving the frame's row count does not scale
    with the data (literal quantile lists, 1-row global aggs)."""
    import inspect

    src = inspect.getsource(sk)
    for line in src.splitlines():
        if "F.broadcast(" in line and "lambda" not in line and "# bounded:" not in line:
            pytest.fail(f"ungated F.broadcast in sketch.py: {line.strip()}")


# ---------------------------------------------------------------------------
# temp-column collision safety
# ---------------------------------------------------------------------------

def test_bloom_probe_preserves_colliding_caller_columns(spark):
    keys = spark.range(50).select(F.col("id").alias("k"))
    bloom = sk.bloom_build(keys, "k", m_bits=1 << 16, k=3)
    df = spark.range(100).select(
        F.col("id").alias("k"), F.lit("keep-me").alias("__bw0")
    )
    out = sk.bloom_probe(df, "k", bloom, m_bits=1 << 16, k=3)
    assert "__bw0" in out.columns
    assert out.select("__bw0").distinct().collect()[0][0] == "keep-me"


def test_cms_lookup_preserves_colliding_caller_columns(spark):
    df = spark.range(100).select(
        (F.col("id") % 5).alias("k"), F.lit(7).alias("__cc0")
    )
    cms = sk.cms_build(df, "k", w=256, d=3)
    out = sk.cms_lookup(df, "k", cms, w=256, d=3)
    assert "__cc0" in out.columns
    assert out.select("__cc0").distinct().collect()[0][0] == 7
    assert out.filter(F.col("freq_est") >= 20).count() == 100


# ---------------------------------------------------------------------------
# theta_result_meta k floor
# ---------------------------------------------------------------------------

def test_theta_result_meta_rejects_small_k():
    with pytest.raises(ValueError, match="minimum 16"):
        sk.theta_result_meta(100.0, k=4)
    # at the floor every z-sigma upper bound is finite and positive
    meta = sk.theta_result_meta(100.0, k=16)
    for z in ("1", "2", "3"):
        assert meta["bounds"][z]["upper"] > meta["estimate"] > meta["bounds"][z]["lower"] > 0


# ---------------------------------------------------------------------------
# exact=True crossJoin cap
# ---------------------------------------------------------------------------

def test_exact_crossjoin_capped(spark):
    from bullet_spark_spark.operators.similarity import (
        EXACT_CROSSJOIN_MAX_ROWS,
        cosine_near_dup_pairs,
    )

    big = spark.range(EXACT_CROSSJOIN_MAX_ROWS + 1).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="differential reference"):
        cosine_near_dup_pairs(big, exact=True)

    small = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id int, embedding array<double>",
    )
    pairs = cosine_near_dup_pairs(small, threshold=0.9, exact=True).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}
