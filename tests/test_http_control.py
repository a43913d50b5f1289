"""REST/HTTP control transport tests (VERDICT r4 task 5).

The reference's DEFAULT query transport is an in-memory REST pubsub
(bullet_spark_defaults.yaml:94-97; QueryReceiver.scala:29-30 opens the
config-selected PubSub). These tests run the stdlib web service + transport
against the same transport-conformance contract the file transport
passes, then a full control-plane e2e over real HTTP on
localhost: register BQL → windowed emissions → KILL → RESULT + COMPLETE,
plus restart recovery through the service's replayable status log.
"""

from __future__ import annotations

import time
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from bullet_spark_spark.sources.streaming import file_drip
from bullet_spark_spark.streaming.control import ControlPlane
from bullet_spark_spark.streaming.dynamic import DynamicMultiplexer
from bullet_spark_spark.streaming.http_control import (
    HttpTransport,
    RestPubSubServer,
    http_read_status,
    http_submit_kill,
    http_submit_query,
)
from bullet_spark_spark.streaming.runtime import QueryState
from tests.test_control_transport import _conformance_scenario, _wait_for


@pytest.fixture()
def pubsub():
    server = RestPubSubServer().serve()
    yield server
    server.close()


def test_http_transport_conformance(pubsub):
    t = HttpTransport(pubsub.base_url)
    _conformance_scenario(
        t,
        lambda qid, bql, dur, width=None: http_submit_query(
            pubsub.base_url, qid, bql, dur, width
        ),
        lambda qid, sig: http_submit_kill(pubsub.base_url, qid),
    )
    # the service's status log is replayable from offset 0 (recovery path)
    events = t.replay_status()
    assert [e["type"] for e in events] == ["WINDOW", "RESULT", "SIGNAL", "ERROR"]
    assert events[2] == {"type": "SIGNAL", "query_id": "q1", "signal": "KILL", "ts": 3.0}
    # client-side offset reads page the same log
    assert http_read_status(pubsub.base_url, offset=2) == events[2:]


def test_http_control_plane_end_to_end(spark, tables, pubsub, tmp_path):
    """The reference's default-transport serve path, over real HTTP:
    submissions register forward-looking queries, windowed results and the
    terminal RESULT + COMPLETE flow back through the web service."""
    base = pubsub.base_url
    mux = DynamicMultiplexer(spark)
    plane = ControlPlane(spark, mux, HttpTransport(base), poll_interval_s=0.1)
    plane.start()
    try:
        http_submit_query(
            base,
            "by_type",
            "SELECT event_type, COUNT(*) AS cnt FROM STREAM() "
            "WHERE value > 50 GROUP BY event_type",
            duration_ms=30_000,
        )
        http_submit_query(base, "victim", "SELECT COUNT(*) AS n FROM STREAM()", 30_000)
        http_submit_query(base, "bad", "SELECT FROM nowhere")  # malformed
        assert _wait_for(lambda: "by_type" in mux.queries and "victim" in mux.queries)

        stream = file_drip(spark, tables["events"], str(tmp_path / "drip"), chunks=4)
        mux.start(stream, trigger_ms=200, checkpoint_dir=str(tmp_path / "ck"))

        assert _wait_for(
            lambda: any(
                e["type"] == "WINDOW" and e.get("query_id") == "by_type"
                for e in http_read_status(base)
            )
        )
        assert any(e["type"] == "ERROR" for e in http_read_status(base))

        http_submit_kill(base, "victim")
        assert _wait_for(lambda: mux.queries["victim"].state is QueryState.KILLED)
        assert _wait_for(
            lambda: any(
                e["type"] == "SIGNAL"
                and e.get("query_id") == "victim"
                and e["signal"] == "KILL"
                for e in http_read_status(base)
            )
        )

        assert _wait_for(
            lambda: sum(v[0] for v in mux.queries["by_type"].groups.values())
            == tables["events"].filter(F.col("value") > 50).count(),
            timeout=90,
        )
        mux.queries["by_type"].spec = replace(
            mux.queries["by_type"].spec, duration_ms=1
        )
        assert _wait_for(
            lambda: any(
                e["type"] == "SIGNAL"
                and e.get("query_id") == "by_type"
                and e["signal"] == "COMPLETE"
                for e in http_read_status(base)
            )
        )
        results = [
            e
            for e in http_read_status(base)
            if e["type"] == "RESULT" and e.get("query_id") == "by_type"
        ]
        assert results, "final RESULT event missing"
        got = {tuple(r)[0]: tuple(r)[1] for r in results[-1]["rows"]}
        expected = {
            r["event_type"]: r["cnt"]
            for r in tables["events"]
            .filter(F.col("value") > 50)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        assert got == expected
    finally:
        plane.stop()
        mux.stop()


def test_http_restart_recovery(spark, pubsub):
    """A new ControlPlane over the same service replays the control log but
    must NOT re-register or re-signal queries whose terminal SIGNAL is
    already on the status log — identical recovery semantics to the file
    transport."""
    base = pubsub.base_url
    mux1 = DynamicMultiplexer(spark)
    plane1 = ControlPlane(spark, mux1, HttpTransport(base), poll_interval_s=0.05)
    plane1.start()
    try:
        http_submit_query(base, "done_q", "SELECT COUNT(*) AS n FROM STREAM()", 1)
        assert _wait_for(lambda: "done_q" in mux1.queries)
        # duration 1ms → sweeper completes it without any stream attached
        assert _wait_for(
            lambda: any(
                e["type"] == "SIGNAL"
                and e.get("query_id") == "done_q"
                and e["signal"] == "COMPLETE"
                for e in http_read_status(base)
            )
        )
    finally:
        plane1.stop()

    n_signals_before = sum(
        1 for e in http_read_status(base) if e["type"] == "SIGNAL"
    )
    mux2 = DynamicMultiplexer(spark)
    plane2 = ControlPlane(spark, mux2, HttpTransport(base), poll_interval_s=0.05)
    plane2.start()
    try:
        time.sleep(0.5)  # let the replayed control log drain
        assert "done_q" not in mux2.queries  # terminal query not re-registered
        assert (
            sum(1 for e in http_read_status(base) if e["type"] == "SIGNAL")
            == n_signals_before
        )  # terminal signal not re-emitted
    finally:
        plane2.stop()
