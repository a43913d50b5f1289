"""External control plane: query transport in, result/status transport out.

The reference's entire point of entry is a pluggable PubSub: queries arrive
over a bus while the job runs (``QueryReceiver.receive()`` loop on a
dedicated receiver thread, QueryReceiver.scala:21-68, buffer/commit :49-62)
and results + lifecycle feedback return through publishers
(``ResultPublisher.publish/publishFeedback``, ResultPublisher.scala:78-99;
feedback loop :35-45 re-publishes KILL/COMPLETE into the query channel so
all stages drop state). The transport itself is config-selected
(bullet_spark_defaults.yaml:94-97) — the same pluggability lives here as
``ControlTransport`` implementations:

- ``FileLogTransport`` — append-only JSON-lines files as the bus
  (offset order within each control file, files read in name order).
- ``HttpTransport`` (streaming.http_control) — the reference's default
  in-memory REST pubsub, served by ``RestPubSubServer``.

``ControlPlane`` takes its bus as one ``ControlTransport`` argument.

Message schema (transport-agnostic, pinned by the interface-conformance
test): control messages are either a submission ``{"id": ..., "bql":
"SELECT ...", "duration_ms"?: N, "quantile_width"?: W}`` (parsed by
plans.bql — the bullet-bql front door; ``quantile_width`` supplies the
mergeable linear bucketing a dynamically-multiplexed QUANTILE needs) or a
signal ``{"id": ..., "signal": "KILL"}``. Status events
are ``{"type": WINDOW|RESULT|SIGNAL|ERROR, "ts": ..., ...}`` — WINDOW for
incremental merged results (JoinStreaming's window-close emissions), RESULT
for final rows, SIGNAL for COMPLETE/KILL/FAIL, ERROR for malformed input
(the reference's ErrorData path, BulletSparkUtils.scala:38-44).

Queries run on the ``DynamicMultiplexer`` (streaming.dynamic): ONE shared
stream, specs evaluated per micro-batch, registry mutable mid-flight —
exactly bullet's forward-looking query semantics (a query sees only records
arriving after submission, SURVEY §0).

Publication: the publisher runs a pass as soon as a micro-batch has merged
(``DynamicMultiplexer.merged``, set at the end of every batch) and every
``poll_interval_s`` otherwise, for the wall-clock duration sweep. A pass
asks the multiplexer what changed (``DynamicMultiplexer.take_changed``:
the handles a merge touched or that ended since the last pass, with copies
of their state), shapes those results outside the multiplexer's lock,
emits a WINDOW for a changed running result and RESULT plus SIGNAL for an
ended query, which then retires (``DynamicMultiplexer.retire``).

Restart recovery: a new ``ControlPlane`` over an existing bus replays the
control log from offset 0 (the reference recovers its whole DAG including
registered queries from checkpoint, BulletSparkStreamingBaseJob.scala:30-38
``getOrCreate``). Replay semantics: queries whose terminal SIGNAL already
exists on the status log are NOT re-registered and their terminal events
are NOT re-emitted; still-running queries re-register and resume.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field, replace

from pyspark.sql import SparkSession

from bullet_spark_spark.plans.bql import parse_bql
from bullet_spark_spark.plans.spec import DistributionAgg
from bullet_spark_spark.streaming.dynamic import DynamicHandle, DynamicMultiplexer
from bullet_spark_spark.streaming.runtime import _SIGNAL, QueryState


class ControlTransport:
    """The pluggable bus: poll control messages in, emit status events out.

    Implementations must return control messages in offset order (per
    control file) from ``poll`` and publish JSON-serializable status
    events from ``emit``. ``replay_status`` returns every status event
    published so far (used for restart recovery); transports that cannot
    replay may return []."""

    def poll(self) -> list[str]:
        raise NotImplementedError

    def emit(self, event: dict) -> None:
        raise NotImplementedError

    def replay_status(self) -> list[dict]:
        return []

    def close(self) -> None:
        pass


class FileLogTransport(ControlTransport):
    """Append-only JSON-lines control/status logs."""

    def __init__(self, control_dir: str, status_path: str) -> None:
        self.control_dir = control_dir
        self.status_path = status_path
        self._offsets: dict[str, int] = {}  # file -> lines consumed
        self._appending = threading.Lock()
        os.makedirs(control_dir, exist_ok=True)
        os.makedirs(os.path.dirname(status_path) or ".", exist_ok=True)

    def poll(self) -> list[str]:
        try:
            files = sorted(
                f for f in os.listdir(self.control_dir) if f.endswith((".json", ".jsonl"))
            )
        except FileNotFoundError:
            return []
        out: list[str] = []
        for fname in files:
            path = os.path.join(self.control_dir, fname)
            offset = self._offsets.get(path, 0)
            try:
                with open(path) as fh:
                    lines = fh.read().splitlines()
            except OSError:
                continue
            out.extend(line for line in lines[offset:] if line.strip())
            self._offsets[path] = len(lines)
        return out

    def emit(self, event: dict) -> None:
        with self._appending:
            with open(self.status_path, "a") as fh:
                fh.write(json.dumps(event, default=str) + "\n")

    def replay_status(self) -> list[dict]:
        return read_status(self.status_path)


@dataclass
class ControlPlane:
    """Consume a control bus, drive a DynamicMultiplexer, publish status."""

    spark: SparkSession
    mux: DynamicMultiplexer
    transport: ControlTransport
    poll_interval_s: float = 0.2

    _stop: threading.Event = field(default_factory=threading.Event)
    _threads: list[threading.Thread] = field(default_factory=list)
    # live qid -> last WINDOW rows (dropped when the query retires)
    _published: dict[str, tuple] = field(default_factory=dict)
    _recovered_terminal: set[str] = field(default_factory=set)
    # KILLs that arrived before their submission (several control files or
    # submitters give no order across them): the kill applies the moment
    # the submission lands
    _killed_early: set[str] = field(default_factory=set)

    def start(self) -> None:
        self._recover()
        for target in (self._consume_loop, self._publish_loop):
            t = threading.Thread(target=target, daemon=True)
            t.start()
            self._threads.append(t)

    def stop(self) -> None:
        self._stop.set()
        self.mux.merged.set()  # wake the publisher now
        for t in self._threads:
            t.join(timeout=5)
        self._publish_once()  # flush terminal states
        self.transport.close()

    # -- restart recovery ---------------------------------------------------

    def _recover(self) -> None:
        """Seed replay semantics from the status log: a query whose
        terminal SIGNAL is already published must not re-register when the
        control log replays, and must not re-emit RESULT/SIGNAL (the
        reference restarts from checkpoint with query state intact,
        BulletSparkStreamingBaseJob.scala:30-38)."""
        for event in self.transport.replay_status():
            if event.get("type") == "SIGNAL" and event.get("query_id"):
                self._recovered_terminal.add(event["query_id"])

    # -- control consumption (the QueryReceiver loop) -----------------------

    def _consume_loop(self) -> None:
        while not self._stop.is_set():
            try:
                for line in self.transport.poll():
                    self._handle_message(line)
            except Exception as e:  # noqa: BLE001 — a dead consumer ignores all submissions
                try:
                    self._emit_status({"type": "ERROR", "error": f"consumer: {e}"})
                except Exception:
                    pass
            self._stop.wait(self.poll_interval_s)

    def _handle_message(self, line: str) -> None:
        try:
            msg = json.loads(line)
            qid = msg["id"]
        except (json.JSONDecodeError, KeyError, TypeError) as e:
            self._emit_status({"type": "ERROR", "error": f"malformed message: {e}"})
            return
        if qid in self._recovered_terminal:
            # replayed traffic for a query that already reached a terminal
            # state before restart: neither re-register nor re-signal
            return
        if "signal" in msg:
            if msg["signal"] == "KILL":
                try:
                    self.mux.kill(qid)
                except KeyError:
                    # the registry must be insensitive to interleaving across
                    # control files or submitters (FileLogTransport reads its
                    # files in name order, so a KILL in a.jsonl arrives before
                    # the submission in b.jsonl): a KILL consumed before its
                    # submission DEFERS — the query is killed the moment its
                    # submission lands — instead of being lost
                    self._killed_early.add(qid)
                    self._emit_status(
                        {
                            "query_id": qid,
                            "type": "ERROR",
                            "error": "unknown query (kill deferred)",
                        }
                    )
            return
        try:
            spec = parse_bql(msg["bql"])
            if msg.get("duration_ms"):
                spec = replace(spec, duration_ms=int(msg["duration_ms"]))
            if msg.get("quantile_width") and isinstance(spec.aggregation, DistributionAgg):
                # mergeable linear bucketing for dynamically-multiplexed
                # QUANTILE (an execution knob, not BQL surface): estimates
                # land within one width of exact
                width = float(msg["quantile_width"])
                spec = replace(spec, aggregation=replace(spec.aggregation, width=width))
            self.mux.register(qid, spec)
            if qid in self._killed_early:
                self._killed_early.discard(qid)
                self.mux.kill(qid)
        except Exception as e:  # noqa: BLE001
            # the ErrorData path: ANY bad submission (parse error, wrong
            # types, unsupported spec) produces an ERROR status and the
            # stream keeps running (QueryDataUnioningTest.scala:40-51) —
            # a narrow except here once let a TypeError kill the consumer
            # thread silently
            self._emit_status({"query_id": qid, "type": "ERROR", "error": str(e)})

    # -- status publication (the ResultPublisher/feedback loop) -------------

    def _publish_loop(self) -> None:
        # a pass runs when a micro-batch has merged (the multiplexer sets
        # ``merged`` at its end) or when poll_interval_s passes without one:
        # the timer keeps the wall-clock duration sweep and KILL/terminal
        # publication going while no data arrives
        merged = self.mux.merged
        while not self._stop.is_set():
            merged.wait(self.poll_interval_s)
            # cleared BEFORE the pass: a batch that ends during the pass
            # sets it again and gets a pass of its own
            merged.clear()
            if self._stop.is_set():
                break
            try:
                self._publish_once()
            except Exception as e:  # noqa: BLE001 — a dying publisher is silent data loss
                try:
                    self._emit_status({"type": "ERROR", "error": f"publisher: {e}"})
                except Exception:
                    pass

    def _publish_once(self) -> None:
        for handle, state, merged in self.mux.take_changed():
            qid = handle.query_id
            # shaped here, off the multiplexer lock: the TopK sort, the
            # quantile/CDF walk and the approx COUNT DISTINCT union job
            rows = handle.result(merged)
            if state is QueryState.RUNNING:
                # incremental window emission (JoinStreaming.scala:148-151)
                if rows and self._published.get(qid) != tuple(map(tuple, rows)):
                    self._published[qid] = tuple(map(tuple, rows))
                    self._emit_rows(handle, "WINDOW", rows)
                continue
            if qid not in self._recovered_terminal:
                self._emit_rows(handle, "RESULT", rows)
                signal = _SIGNAL[state].value
                self._emit_status({"query_id": qid, "type": "SIGNAL", "signal": signal})
            # RESULT and SIGNAL are out: off the serving path
            self._published.pop(qid, None)
            self.mux.retire(handle)

    def _emit_rows(self, handle: DynamicHandle, kind: str, rows: list) -> None:
        event = {"query_id": handle.query_id, "type": kind, "rows": rows}
        # sketch-estimated results carry bullet's meta section (estimate +
        # std-error bounds) alongside the rows [D]; exact results leave it
        # unset
        if handle.meta is not None:
            event["meta"] = handle.meta
        self._emit_status(event)

    def _emit_status(self, event: dict) -> None:
        self.transport.emit({**event, "ts": time.time()})


def query_message(
    query_id: str,
    bql: str,
    duration_ms: int | None = None,
    quantile_width: float | None = None,
) -> dict:
    """The submission message every transport carries."""
    msg: dict = {"id": query_id, "bql": bql}
    if duration_ms is not None:
        msg["duration_ms"] = duration_ms
    if quantile_width is not None:
        msg["quantile_width"] = quantile_width
    return msg


def kill_message(query_id: str) -> dict:
    """The KILL signal message (the reference's KILL feedback metadata,
    JoinStreaming.scala:144-158)."""
    return {"id": query_id, "signal": "KILL"}


def submit_query(
    control_dir: str,
    query_id: str,
    bql: str,
    duration_ms: int | None = None,
    quantile_width: float | None = None,
) -> None:
    """Client-side submission helper: append a query message to the control
    log (what an external submitter does to the query log)."""
    os.makedirs(control_dir, exist_ok=True)
    _append(control_dir, query_message(query_id, bql, duration_ms, quantile_width))


def submit_kill(control_dir: str, query_id: str) -> None:
    """Client-side KILL signal."""
    _append(control_dir, kill_message(query_id))


def _append(control_dir: str, msg: dict) -> None:
    path = os.path.join(control_dir, "queries.jsonl")
    with open(path, "a") as fh:
        fh.write(json.dumps(msg) + "\n")


def read_status(status_path: str) -> list[dict]:
    """Read all status events published so far (client side)."""
    if not os.path.exists(status_path):
        return []
    with open(status_path) as fh:
        return [json.loads(line) for line in fh if line.strip()]
