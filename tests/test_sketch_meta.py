"""Sketch error-metadata parity (VERDICT r4 task 6).

bullet attaches sketch metadata to every sketch-estimated result — whether
the value was estimated plus standard-deviation error bounds around the
estimate [D]. These tests pin the HLL meta envelope's math, its presence on
APPROX COUNT DISTINCT results in the shared-scan multiplexer, its absence
on exact results, the control-plane RESULT event carrying it, and a tolerance check
that the true cardinality sits inside the published 3-sigma bounds.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from bullet_spark_spark.functions.exprs import E
from bullet_spark_spark.operators.sketch import HLL_DEFAULT_LGK, hll_result_meta
from bullet_spark_spark.plans.spec import AggOp, CountDistinctAgg, GroupAgg, Query
from bullet_spark_spark.sources.streaming import file_drip
from bullet_spark_spark.sql import bql_result
from bullet_spark_spark.streaming.dynamic import DynamicMultiplexer


def _check_meta(meta: dict, true_n: int) -> None:
    assert meta["was_estimated"] is True
    assert meta["family"] == "HLL"
    assert meta["lg_k"] == HLL_DEFAULT_LGK
    rse = 1.04 / math.sqrt(2.0 ** HLL_DEFAULT_LGK)
    assert meta["relative_std_error"] == pytest.approx(rse)
    b = meta["bounds"]
    est = meta["estimate"]
    # bounds nest: 1σ inside 2σ inside 3σ, estimate inside all
    for z in ("1", "2", "3"):
        assert b[z]["lower"] <= est <= b[z]["upper"]
    assert b["3"]["lower"] <= b["2"]["lower"] <= b["1"]["lower"]
    assert b["1"]["upper"] <= b["2"]["upper"] <= b["3"]["upper"]
    # tolerance: the true cardinality within the 3σ envelope
    assert b["3"]["lower"] <= true_n <= b["3"]["upper"]


def test_hll_result_meta_math():
    meta = hll_result_meta(1000)
    rse = 1.04 / 64.0  # lgk=12
    assert meta["estimate"] == 1000.0
    assert meta["relative_std_error"] == pytest.approx(rse)
    assert meta["bounds"]["2"]["lower"] == pytest.approx(1000 / (1 + 2 * rse))
    assert meta["bounds"]["2"]["upper"] == pytest.approx(1000 / (1 - 2 * rse))
    _check_meta(meta, 1000)


def test_dynamic_mux_approx_cd_carries_meta(spark, tables, tmp_path):
    ev = tables["events"]
    mux = DynamicMultiplexer(spark)
    mux.register(
        "acd",
        Query(
            source="events",
            filter=E.f("value") > 50,
            aggregation=CountDistinctAgg(fields=["user_id"], approx=True),
        ),
    )
    mux.register(
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
            aggregation=GroupAgg(
                fields=["event_type"], operations=[(AggOp.COUNT, None, "n")]
            ),
        ),
    )
    stream = file_drip(spark, ev, str(tmp_path), chunks=2)
    mux.start(stream, checkpoint_dir=str(tmp_path / "ck"), available_now=True)

    exact = ev.filter(F.col("value") > 50).select("user_id").distinct().count()
    (est,) = mux.queries["acd"].result()[0]
    _check_meta(mux.queries["acd"].meta, exact)
    assert mux.queries["acd"].meta["estimate"] == est
    # exact CD and exact aggregation: no sketch meta
    for qid in ("ecd", "g"):
        mux.queries[qid].result()
        assert mux.queries[qid].meta is None


def test_control_plane_result_carries_meta(spark, tables, tmp_path):
    """The published RESULT event for a sketch-estimated query includes the
    meta section (the reference forwards sketch metadata through its PubSub
    results untouched [D])."""
    from dataclasses import replace

    from bullet_spark_spark.streaming.control import (
        ControlPlane,
        FileLogTransport,
        read_status,
        submit_query,
    )
    from tests.test_control_transport import _wait_for

    control_dir = str(tmp_path / "control")
    status_path = str(tmp_path / "status.jsonl")
    mux = DynamicMultiplexer(spark)
    plane = ControlPlane(
        spark, mux, FileLogTransport(control_dir, status_path), poll_interval_s=0.05
    )
    plane.start()
    try:
        submit_query(
            control_dir,
            "acd",
            "SELECT APPROX_COUNT_DISTINCT(user_id) AS cd FROM STREAM() WHERE value > 50",
            duration_ms=30_000,
        )
        assert _wait_for(lambda: "acd" in mux.queries)
        stream = file_drip(spark, tables["events"], str(tmp_path / "drip"), chunks=2)
        mux.start(stream, trigger_ms=200, checkpoint_dir=str(tmp_path / "ck"))
        exact = (
            tables["events"].filter(F.col("value") > 50).select("user_id").distinct().count()
        )
        # drain, then expire -> RESULT + COMPLETE with meta attached
        assert _wait_for(
            lambda: mux.queries["acd"].result() and mux.queries["acd"].result()[0][0] > 0,
            timeout=90,
        )
        mux.queries["acd"].spec = replace(mux.queries["acd"].spec, duration_ms=1)
        assert _wait_for(
            lambda: any(
                e["type"] == "RESULT" and e.get("query_id") == "acd"
                for e in read_status(status_path)
            )
        )
        result = next(
            e
            for e in read_status(status_path)
            if e["type"] == "RESULT" and e.get("query_id") == "acd"
        )
        assert "meta" in result, result
        _check_meta(result["meta"], exact)
    finally:
        plane.stop()
        mux.stop()


def test_bql_result_envelope(spark, tables):
    """Batch BQL front door returns bullet's {records, meta} envelope:
    sketch meta on APPROX_COUNT_DISTINCT, was_estimated=False on exact."""
    tables["events"].createOrReplaceTempView("events")
    exact = tables["events"].select("user_id").distinct().count()
    env = bql_result(
        spark, "SELECT APPROX_COUNT_DISTINCT(user_id) AS cd FROM events"
    )
    assert len(env["records"]) == 1
    _check_meta(env["meta"], exact)
    env2 = bql_result(spark, "SELECT COUNT(*) AS n FROM events")
    assert env2["meta"] == {"was_estimated": False}
    assert env2["records"][0]["n"] == tables["events"].count()
