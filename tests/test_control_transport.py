"""Transport-agnostic control-plane contract tests.

The reference's PubSub layer is pluggable and config-selected
(bullet_spark_defaults.yaml:94-97, QueryReceiver.scala:29-30); here the
same pluggability is the ``ControlTransport`` interface. These tests pin
the message schema on the file transport, the registry's insensitivity to
control-message interleaving across control files, the consumer-failure
path, and restart replay semantics (BulletSparkStreamingBaseJobTest.scala:
33-76 is the reference's checkpoint-recovery e2e)."""

from __future__ import annotations

import json
import time

from bullet_spark_spark.streaming.control import (
    ControlPlane,
    FileLogTransport,
    read_status,
    submit_kill,
    submit_query,
)
from bullet_spark_spark.streaming.dynamic import DynamicMultiplexer
from bullet_spark_spark.streaming.runtime import QueryState


def _wait_for(pred, timeout=30, step=0.1):
    deadline = time.time() + timeout
    while time.time() < deadline:
        if pred():
            return True
        time.sleep(step)
    return False


# -- interface conformance (message schema, offset order, replay) -----------


def _conformance_scenario(transport, send_submission, send_signal):
    """The contract every transport must satisfy: offset-ordered delivery,
    exactly-once poll consumption, pinned message schema, status emit."""
    assert transport.poll() == []

    send_submission("q1", "SELECT COUNT(*) AS n FROM STREAM()", 5000)
    send_signal("q1", "KILL")
    msgs = transport.poll()
    assert len(msgs) == 2, msgs
    sub, sig = (json.loads(m) for m in msgs)
    # submission schema: id + bql (+ optional duration_ms), nothing else
    assert sub == {
        "id": "q1",
        "bql": "SELECT COUNT(*) AS n FROM STREAM()",
        "duration_ms": 5000,
    }
    # signal schema
    assert sig == {"id": "q1", "signal": "KILL"}
    # poll consumes: already-delivered messages never reappear
    assert transport.poll() == []
    # late messages after a drained poll still arrive, in order
    send_submission("q2", "SELECT COUNT(*) AS n FROM STREAM()", None)
    send_submission("q3", "SELECT QUANTILE(value, MANUAL, 0.5) FROM STREAM()", None, 5.0)
    later = [json.loads(m) for m in transport.poll()]
    assert [m["id"] for m in later] == ["q2", "q3"]
    assert "duration_ms" not in later[0]
    assert later[1] == {
        "id": "q3",
        "bql": "SELECT QUANTILE(value, MANUAL, 0.5) FROM STREAM()",
        "quantile_width": 5.0,
    }

    # status emit round-trips JSON; event types are the pinned set
    for event in (
        {"type": "WINDOW", "query_id": "q1", "rows": [["a", 1]], "ts": 1.0},
        {"type": "RESULT", "query_id": "q1", "rows": [], "ts": 2.0},
        {"type": "SIGNAL", "query_id": "q1", "signal": "KILL", "ts": 3.0},
        {"type": "ERROR", "error": "boom", "ts": 4.0},
    ):
        transport.emit(event)


def test_file_transport_conformance(tmp_path):
    t = FileLogTransport(str(tmp_path / "c"), str(tmp_path / "status.jsonl"))
    _conformance_scenario(
        t,
        lambda qid, bql, dur, width=None: submit_query(
            str(tmp_path / "c"), qid, bql, dur, width
        ),
        lambda qid, sig: submit_kill(str(tmp_path / "c"), qid),
    )
    # file transport replays its own status log (recovery path)
    events = t.replay_status()
    assert [e["type"] for e in events] == ["WINDOW", "RESULT", "SIGNAL", "ERROR"]
    assert events[2] == {"type": "SIGNAL", "query_id": "q1", "signal": "KILL", "ts": 3.0}


# -- interleaving across control files ---------------------------------------


def test_file_transport_interleaved_files_kill_defers_and_dedup_holds(spark, tmp_path):
    """FileLogTransport reads its control files in name order, so a KILL in
    a.jsonl is consumed BEFORE the submission it refers to in b.jsonl. The
    registry is interleaving-insensitive: the kill defers and applies the
    moment the submission lands (query ends KILLED, never runs unbounded),
    and duplicate submissions of one id across files dedupe to one
    registration."""
    control_dir = tmp_path / "control"
    control_dir.mkdir()
    bql = "SELECT COUNT(*) AS n FROM STREAM() GROUP BY event_type"

    def write(fname, *msgs):
        with open(control_dir / fname, "a") as fh:
            for m in msgs:
                fh.write(json.dumps(m) + "\n")

    write("a.jsonl", {"id": "qx", "signal": "KILL"}, {"id": "qy", "bql": bql})
    write("b.jsonl", {"id": "qx", "bql": bql}, {"id": "qy", "bql": bql})

    status_path = str(tmp_path / "status.jsonl")
    mux = DynamicMultiplexer(spark)
    qy_handles = []
    register = mux.register

    def recording_register(qid, spec, *args, **kwargs):
        handle = register(qid, spec, *args, **kwargs)
        if qid == "qy":
            qy_handles.append(handle)
        return handle

    mux.register = recording_register
    plane = ControlPlane(
        spark, mux, FileLogTransport(str(control_dir), status_path), poll_interval_s=0.05
    )
    plane.start()
    try:
        assert _wait_for(
            lambda: mux.queries.get("qx") is not None
            and mux.queries["qx"].state is QueryState.KILLED
        )
        assert _wait_for(lambda: len(qy_handles) == 2)
        assert all(h is mux.queries["qy"] for h in qy_handles)
        assert mux.queries["qy"].state is QueryState.RUNNING
        # the deferred kill surfaced as a (non-fatal) notice
        assert _wait_for(
            lambda: any(
                e["type"] == "ERROR"
                and e.get("query_id") == "qx"
                and "deferred" in e.get("error", "")
                for e in read_status(status_path)
            )
        )
    finally:
        plane.stop()


# -- consumer failure ---------------------------------------------------------


class _FailOnceTransport(FileLogTransport):
    """A file bus whose first poll raises, as a dead broker connection would."""

    def __init__(self, control_dir: str, status_path: str) -> None:
        super().__init__(control_dir, status_path)
        self.failed = False

    def poll(self) -> list[str]:
        if not self.failed:
            self.failed = True
            raise ConnectionError("bus unreachable")
        return super().poll()


def test_control_plane_reports_consumer_failure_and_keeps_consuming(spark, tmp_path):
    """A poll that raises surfaces as an ERROR status prefixed ``consumer:``
    and does not stop the consumer loop: a later submission registers."""
    control_dir = str(tmp_path / "control")
    status_path = str(tmp_path / "status.jsonl")
    transport = _FailOnceTransport(control_dir, status_path)
    mux = DynamicMultiplexer(spark)
    plane = ControlPlane(spark, mux, transport, poll_interval_s=0.05)
    plane.start()
    try:
        assert _wait_for(lambda: transport.failed)
        assert _wait_for(
            lambda: any(
                e["type"] == "ERROR" and e["error"] == "consumer: bus unreachable"
                for e in read_status(status_path)
            )
        )
        submit_query(control_dir, "after", "SELECT COUNT(*) AS n FROM STREAM()")
        assert _wait_for(lambda: "after" in mux.queries)
        assert mux.queries["after"].state is QueryState.RUNNING
    finally:
        plane.stop()


# -- restart recovery (replay semantics) ------------------------------------


def test_control_plane_recovery(spark, tmp_path):
    """A restarted ControlPlane over an existing control+status log must:
    NOT re-register completed/killed queries, NOT re-emit their terminal
    events, and resume still-running queries — the reference recovers the
    whole DAG incl. query registry from checkpoint
    (BulletSparkStreamingBaseJob.scala:30-38, its e2e test :33-76)."""
    control_dir = str(tmp_path / "control")
    status_path = str(tmp_path / "status.jsonl")

    # --- incarnation 1: one query completes, one is killed, one keeps running
    mux1 = DynamicMultiplexer(spark)
    plane1 = ControlPlane(
        spark, mux1, FileLogTransport(control_dir, status_path), poll_interval_s=0.05
    )
    plane1.start()
    try:
        submit_query(
            control_dir, "done", "SELECT COUNT(*) AS n FROM STREAM()", duration_ms=1
        )
        submit_query(control_dir, "victim", "SELECT COUNT(*) AS n FROM STREAM()")
        submit_query(control_dir, "live", "SELECT COUNT(*) AS n FROM STREAM()")
        assert _wait_for(lambda: "victim" in mux1.queries and "live" in mux1.queries)
        submit_kill(control_dir, "victim")
        assert _wait_for(
            lambda: {
                (e.get("query_id"), e.get("signal"))
                for e in read_status(status_path)
                if e["type"] == "SIGNAL"
            }
            >= {("done", "COMPLETE"), ("victim", "KILL")}
        )
    finally:
        plane1.stop()

    before = read_status(status_path)
    n_terminal_before = sum(1 for e in before if e["type"] in ("SIGNAL", "RESULT"))

    # --- incarnation 2: fresh mux + plane over the SAME logs
    mux2 = DynamicMultiplexer(spark)
    plane2 = ControlPlane(
        spark, mux2, FileLogTransport(control_dir, status_path), poll_interval_s=0.05
    )
    plane2.start()
    try:
        # running query resumes (re-registers from the replayed control log)
        assert _wait_for(lambda: "live" in mux2.queries)
        time.sleep(0.5)  # several poll intervals of replay traffic
        # terminal queries are NOT re-registered
        assert "done" not in mux2.queries
        assert "victim" not in mux2.queries
        # no duplicate terminal events were re-emitted during replay
        after = read_status(status_path)
        n_terminal_after = sum(1 for e in after if e["type"] in ("SIGNAL", "RESULT"))
        assert n_terminal_after == n_terminal_before
        # replayed KILL for an already-terminal query is ignored, not an ERROR
        assert not any(
            e["type"] == "ERROR" and e.get("query_id") == "victim" for e in after
        )
        # the resumed query is fully live: a fresh KILL terminates it once
        submit_kill(control_dir, "live")
        assert _wait_for(
            lambda: any(
                e["type"] == "SIGNAL"
                and e.get("query_id") == "live"
                and e["signal"] == "KILL"
                for e in read_status(status_path)
            )
        )
    finally:
        plane2.stop()

    final = read_status(status_path)
    for qid in ("done", "victim", "live"):
        signals = [
            e
            for e in final
            if e["type"] == "SIGNAL" and e.get("query_id") == qid
        ]
        assert len(signals) == 1, (qid, signals)
