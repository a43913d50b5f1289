"""End-to-end control plane: a query submitted over the control transport
while the stream runs receives windowed results, a final result, and a
COMPLETE signal over the status transport — the reference's e2e job test
with mock PubSub (BulletSparkStreamingBaseJobTest.scala:33-76)."""

from __future__ import annotations

import json
import time
from dataclasses import replace

from pyspark.sql import functions as F

from bullet_spark_spark.sources.streaming import file_drip
from bullet_spark_spark.streaming.control import (
    ControlPlane,
    FileLogTransport,
    read_status,
    submit_kill,
    submit_query,
)
from bullet_spark_spark.streaming.dynamic import DynamicMultiplexer
from bullet_spark_spark.streaming.runtime import QueryState


def _wait_for(pred, timeout=60, step=0.2):
    deadline = time.time() + timeout
    while time.time() < deadline:
        if pred():
            return True
        time.sleep(step)
    return False


def test_control_plane_e2e(spark, tables, tmp_path):
    control_dir = str(tmp_path / "control")
    status_path = str(tmp_path / "status" / "events.jsonl")
    mux = DynamicMultiplexer(spark)
    plane = ControlPlane(
        spark, mux, FileLogTransport(control_dir, status_path), poll_interval_s=0.1
    )
    plane.start()
    try:
        # submit BEFORE the stream starts flowing — bullet's forward-looking
        # semantics: the query runs against records that arrive afterward
        submit_query(
            control_dir,
            "by_type",
            "SELECT event_type, COUNT(*) AS cnt FROM STREAM() "
            "WHERE value > 50 GROUP BY event_type",
            duration_ms=30_000,
        )
        submit_query(
            control_dir, "victim", "SELECT COUNT(*) AS n FROM STREAM()",
            duration_ms=30_000,
        )
        submit_query(control_dir, "bad", "SELECT FROM nowhere")  # malformed
        assert _wait_for(lambda: "by_type" in mux.queries and "victim" in mux.queries)

        stream = file_drip(spark, tables["events"], str(tmp_path / "drip"), chunks=4)
        mux.start(stream, trigger_ms=200, checkpoint_dir=str(tmp_path / "ck"))

        # windowed (incremental) emissions arrive while the query runs
        assert _wait_for(
            lambda: any(
                e["type"] == "WINDOW" and e.get("query_id") == "by_type"
                for e in read_status(status_path)
            )
        )
        # malformed query produced an ERROR event, stream kept running
        assert any(
            e["type"] == "ERROR" and e.get("query_id") == "bad"
            for e in read_status(status_path)
        )

        # KILL over the control transport
        submit_kill(control_dir, "victim")
        assert _wait_for(lambda: mux.queries["victim"].state is QueryState.KILLED)
        assert _wait_for(
            lambda: any(
                e["type"] == "SIGNAL"
                and e.get("query_id") == "victim"
                and e["signal"] == "KILL"
                for e in read_status(status_path)
            )
        )

        # drain all data, then expire by_type (duration) → RESULT + COMPLETE
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
                for e in read_status(status_path)
            )
        )
        results = [
            e
            for e in read_status(status_path)
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
        # every plane-emitted event carries a ts stamp
        assert all("ts" in e for e in read_status(status_path))
    finally:
        plane.stop()
        mux.stop()


def test_control_plane_full_bql_op_set(spark, tables, tmp_path):
    """Every BQL aggregation family works THROUGH the control bus into the
    dynamic multiplexer (the reference's front door serves every query
    type): TOP K, COUNT DISTINCT, FREQ (PMF), RAW with limit-done, and
    QUANTILE with the quantile_width execution knob."""
    import math

    control_dir = str(tmp_path / "control")
    status_path = str(tmp_path / "status" / "events.jsonl")
    mux = DynamicMultiplexer(spark)
    plane = ControlPlane(
        spark, mux, FileLogTransport(control_dir, status_path), poll_interval_s=0.1
    )
    plane.start()
    ev = tables["events"]
    try:
        submit_query(
            control_dir, "topk",
            "SELECT TOP(3, event_type) AS cnt FROM STREAM()",
        )
        submit_query(
            control_dir, "cd",
            "SELECT COUNT(DISTINCT user_id) AS cd FROM STREAM() WHERE value > 50",
        )
        submit_query(
            control_dir, "freq",
            "SELECT FREQ(value, MANUAL, 0.0, 25.0, 50.0, 75.0) FROM STREAM()",
        )
        submit_query(control_dir, "raw5", "SELECT * FROM STREAM() LIMIT 5")
        submit_query(
            control_dir, "p50",
            "SELECT QUANTILE(value, MANUAL, 0.5) FROM STREAM()",
            quantile_width=5.0,
        )
        assert _wait_for(
            lambda: all(
                q in mux.queries for q in ("topk", "cd", "freq", "raw5", "p50")
            )
        )
        stream = file_drip(spark, ev, str(tmp_path / "drip"), chunks=3)
        mux.start(stream, checkpoint_dir=str(tmp_path / "ck"), available_now=True)
        plane.stop()

        exp_topk = [
            (r["event_type"], r["c"])
            for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.col("c").desc(), F.col("event_type")).limit(3).collect()
        ]
        assert mux.queries["topk"].result() == exp_topk

        exp_cd = (
            ev.filter(F.col("value") > 50).select("user_id").distinct().count()
        )
        assert mux.queries["cd"].result() == [(exp_cd,)]

        freq = dict(mux.queries["freq"].result())
        assert sum(freq.values()) == ev.count()

        assert len(mux.queries["raw5"].raw_rows) == 5
        assert mux.queries["raw5"].state is QueryState.COMPLETED

        vals = sorted(r["value"] for r in ev.select("value").collect())
        counts: dict[int, int] = {}
        for v in vals:
            counts[math.floor(v / 5.0)] = counts.get(math.floor(v / 5.0), 0) + 1
        rank, run, est = max(1, math.ceil(0.5 * len(vals))), 0, None
        for b in sorted(counts):
            run += counts[b]
            if run >= rank:
                est = (b + 0.5) * 5.0
                break
        assert mux.queries["p50"].result() == [(0.5, est)]

        # the status topic carried terminal signals for all five
        events = read_status(status_path)
        done = {
            e["query_id"]
            for e in events
            if e.get("type") == "SIGNAL" and e.get("signal") == "COMPLETE"
        }
        assert {"topk", "cd", "freq", "raw5", "p50"} <= done
    finally:
        plane.stop()


def test_control_plane_messages_are_offset_ordered(tmp_path):
    """Client helpers append to one offset-ordered log."""
    control_dir = str(tmp_path / "c")
    submit_query(control_dir, "q1", "SELECT COUNT(*) AS n FROM STREAM()")
    submit_kill(control_dir, "q1")
    lines = (tmp_path / "c" / "queries.jsonl").read_text().splitlines()
    msgs = [json.loads(ln) for ln in lines]
    assert msgs[0]["id"] == "q1" and "bql" in msgs[0]
    assert msgs[1] == {"id": "q1", "signal": "KILL"}


def test_control_plane_survives_bad_typed_message(spark, tables, tmp_path):
    """A message whose bql field has the wrong TYPE (not just bad text) must
    produce an ERROR status, not silently kill the consumer thread — later
    valid submissions still register."""
    import json
    import os
    import time as _time

    from bullet_spark_spark.streaming.control import ControlPlane, read_status
    from bullet_spark_spark.streaming.dynamic import DynamicMultiplexer

    control_dir = str(tmp_path / "ctl")
    status = str(tmp_path / "status.jsonl")
    os.makedirs(control_dir)
    mux = DynamicMultiplexer(spark)
    cp = ControlPlane(
        spark, mux, FileLogTransport(control_dir, status), poll_interval_s=0.1
    )
    cp.start()
    try:
        with open(os.path.join(control_dir, "queries.jsonl"), "a") as fh:
            fh.write(json.dumps({"id": "bad", "bql": 5}) + "\n")
            fh.write(
                json.dumps(
                    {"id": "ok", "bql": "SELECT COUNT(*) AS n FROM STREAM() GROUP BY event_type"}
                )
                + "\n"
            )
        deadline = _time.time() + 10
        while _time.time() < deadline and "ok" not in mux.queries:
            _time.sleep(0.1)
        assert "ok" in mux.queries, "consumer thread died on bad-typed message"
        errs = [e for e in read_status(status) if e.get("type") == "ERROR"]
        assert any(e.get("query_id") == "bad" for e in errs)
    finally:
        cp.stop()


def test_control_plane_concurrent_submit_kill_stress(spark, tables, tmp_path):
    """Locking smoke under real contention: queries register and die over
    the transport WHILE micro-batches merge partials and the publisher
    snapshots results. Pass = no thread dies (every query reaches a
    terminal-or-running state with consistent results, late submissions
    still land, and the status log keeps flowing)."""
    import threading

    control_dir = str(tmp_path / "control")
    status_path = str(tmp_path / "status.jsonl")
    mux = DynamicMultiplexer(spark)
    plane = ControlPlane(
        spark, mux, FileLogTransport(control_dir, status_path), poll_interval_s=0.05
    )
    plane.start()
    try:
        stream = file_drip(
            spark, tables["events"], str(tmp_path / "drip"), chunks=8
        )
        submit_query(
            control_dir, "q0",
            "SELECT event_type, COUNT(*) AS cnt FROM STREAM() GROUP BY event_type",
        )
        assert _wait_for(lambda: "q0" in mux.queries, timeout=15)
        mux.start(stream, trigger_ms=100, checkpoint_dir=str(tmp_path / "ck"))

        def submitter():
            for i in range(1, 13):
                submit_query(
                    control_dir,
                    f"q{i}",
                    "SELECT user_id, COUNT(*) AS n, MIN(value) AS mn FROM STREAM() "
                    f"WHERE user_id % 13 = {i % 13} GROUP BY user_id",
                )
                time.sleep(0.05)
                if i % 3 == 0:
                    submit_kill(control_dir, f"q{i}")

        t = threading.Thread(target=submitter)
        t.start()
        t.join(30)
        assert not t.is_alive()

        assert _wait_for(lambda: len(mux.queries) == 13, timeout=20), len(mux.queries)
        # drain remaining batches, then verify consistency
        assert _wait_for(
            lambda: mux.queries["q0"].groups and len(mux.queries["q0"].groups) == 5,
            timeout=60,
        )
        killed = {f"q{i}" for i in range(1, 13) if i % 3 == 0}
        assert _wait_for(
            lambda: all(
                mux.queries[q].state is QueryState.KILLED for q in killed
            ),
            timeout=20,
        )
        # every live per-user query's groups respect its own filter
        for i in range(1, 13):
            h = mux.queries[f"q{i}"]
            for (uid,), vals in list(h.groups.items()):
                assert uid % 13 == i % 13, (i, uid)
                assert vals[0] >= 1
        # consumer + publisher threads are still alive: a late submission
        # registers, and killing it forces a terminal RESULT + KILL signal
        # through the publisher even though the stream has drained
        submit_query(
            control_dir, "late",
            "SELECT COUNT(*) AS n FROM STREAM()",
        )
        assert _wait_for(lambda: "late" in mux.queries, timeout=15)
        submit_kill(control_dir, "late")
        assert _wait_for(
            lambda: any(
                e.get("type") == "SIGNAL"
                and e.get("query_id") == "late"
                and e.get("signal") == "KILL"
                for e in read_status(status_path)
            ),
            timeout=15,
        )
    finally:
        plane.stop()
        if mux._stream is not None:
            mux._stream.stop()
