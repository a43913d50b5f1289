"""Seeded load generator for the benchmark: inputs, open-loop schedule, bus.

Runs as its own process so that its CPU and its schedule stay apart from
the engine under test. It hosts the ``RestPubSubServer`` query/status bus
(the reference deploys its REST PubSub as a separate service) and talks to
the benchmark driver over stdin/stdout, one JSON object per line:

    {"cmd": "tables", "dir": D, "sf": F}          write the batch tables
    {"cmd": "backlog", "dir": D, "files": N, "rows_per_file": R}
    {"cmd": "submit", "queries": [...]}           POST submissions / KILLs
    {"cmd": "live", ...}                          start the open loop
    {"cmd": "finish", "churn_until": T, "stop_at": T2}   schedule its end
    {"cmd": "wait_live"}                          join it, return its log
    {"cmd": "quit"}

The open loop uses two threads: one writes a parquet file of stream
records every ``file_s`` seconds at ``rate`` rows/s, one submits one churn
query in each ``1/churn_rate`` slot, at a seeded point in the slot.
Poisson arrivals were tried first: how a seed clumped them set how many
churn queries were live at once, and one seed read 70% slower than
another on every run. Record content depends only on the seed; ``gen_ms``
is the wall-clock time the record's file was due.

Usage (normally spawned by run.py): python3 perfbench/loadgen.py SEED
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bullet_spark_spark.streaming.http_control import (  # noqa: E402
    RestPubSubServer,
    http_submit_kill,
    http_submit_query,
)

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
STREAM_USERS = 1500
STREAM_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
        ("seq", pa.int64()),
        ("gen_ms", pa.int64()),
    ]
)
# Spark DDL of STREAM_SCHEMA, for the engine's file-stream reader
STREAM_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string, seq long, gen_ms long"
)
_EPOCH_2024_US = 1_704_067_200_000_000
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def _values(rng: np.random.Generator, n: int) -> np.ndarray:
    # exponential with mean ~50, two decimals, like the fixture `value`
    return np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)


def stream_rows(seed: int, seq0: int, n: int, gen_ms: int) -> pa.Table:
    """``n`` stream records starting at ``seq0``; content depends only on
    (seed, seq0), so a file's rows are the same on every run."""
    rng = np.random.default_rng([seed, seq0])
    seq = np.arange(seq0, seq0 + n, dtype=np.int64)
    return pa.table(
        {
            "event_id": seq,
            "ts": pa.array(_EPOCH_2024_US + seq * 26_000_000, pa.timestamp("us", tz="UTC")),
            "user_id": rng.integers(0, STREAM_USERS, n),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
            "value": _values(rng, n),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
            "seq": seq,
            "gen_ms": np.full(n, gen_ms, dtype=np.int64),
        },
        schema=STREAM_SCHEMA,
    )


def write_atomic(table: pa.Table, path: str) -> None:
    """Write then rename, so the file source never lists a partial file
    (names starting with '.' are ignored by Spark's file listing)."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, path)


def write_tables(seed: int, out_dir: str, sf: float) -> dict[str, int]:
    """The four fixture tables the batch query set reads, with the fixture
    schemas (FIXTURES.md) and sizes scaled by ``sf`` (sf 0.01 = 60k
    lineitem rows)."""
    rng = np.random.default_rng([seed, 7])
    os.makedirs(out_dir, exist_ok=True)
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_ev, n_doc = int(1_000_000 * sf), int(50_000 * sf)
    n_cust, n_users = max(int(150_000 * sf), 10), max(int(15_000 * sf), 10)
    day_us = 86_400_000_000
    epoch_1995_us = 788_918_400_000_000

    qty = rng.integers(1, 51, n_li).astype(float)
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, max(int(200_000 * sf), 10), n_li),
            "l_suppkey": rng.integers(0, max(int(10_000 * sf), 10), n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(
                epoch_1995_us + rng.integers(1, 2500, n_li) * day_us, pa.timestamp("us")
            ),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": pa.array(
                epoch_1995_us + rng.integers(0, 2400, n_ord) * day_us, pa.timestamp("us")
            ),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, n_ord)],
        }
    )
    span_us = 30 * day_us
    gaps = rng.exponential(span_us / n_ev, n_ev).astype(np.int64)
    events = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(_EPOCH_2024_US + np.cumsum(gaps), pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_ev)],
            "value": _values(rng, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        toks = list(rng.choice(_WORDS, int(rng.integers(10, 100))))
        if i > 0 and rng.random() < 0.05:
            # near-duplicate: reuse a passage of an earlier document, so
            # the span scrub and the exact dedup have repeats to find
            src = texts[int(rng.integers(0, i))].split()
            toks = src[: max(6, len(src) // 2)] + ["dup"] + toks[:10]
        texts.append(" ".join(toks))
    documents = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": np.array(["en", "zh", "es", "de", "fr"])[
                rng.choice(5, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14])
            ],
            "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    out = {"lineitem": lineitem, "orders": orders, "events": events, "documents": documents}
    for name, tbl in out.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in out.items()}


def write_backlog(seed: int, out_dir: str, files: int, rows_per_file: int) -> int:
    os.makedirs(out_dir, exist_ok=True)
    now_ms = int(time.time() * 1000)
    for k in range(files):
        rows = stream_rows(seed, k * rows_per_file, rows_per_file, now_ms)
        write_atomic(rows, os.path.join(out_dir, f"part-{k:05d}.parquet"))
    return files * rows_per_file


class OpenLoop:
    """The live load: stream files on a fixed schedule plus Poisson churn.

    Every time is taken against the schedule, so a stalled writer or
    submitter shows up as lateness instead of as a slower offered load."""

    def __init__(self, seed: int, url: str, spec: dict) -> None:
        self.seed, self.url, self.spec = seed, url, spec
        self.files: list[dict] = []
        self.churn: list[dict] = []
        self._threads = [
            threading.Thread(target=self._write_files, daemon=True),
            threading.Thread(target=self._submit_churn, daemon=True),
        ]

    def start(self) -> None:
        for t in self._threads:
            t.start()

    def join(self) -> dict:
        for t in self._threads:
            t.join()
        late = [f["late_ms"] for f in self.files] + [c["late_ms"] for c in self.churn]
        return {"files": self.files, "churn": self.churn, "late_ms_max": max(late, default=0.0)}

    def _write_files(self) -> None:
        s = self.spec
        rows = int(s["rate"] * s["file_s"])
        k = 0
        while True:
            due = s["start"] + (k + 1) * s["file_s"]
            if due > s["stop_at"]:
                return
            table = stream_rows(self.seed, k * rows, rows, int(due * 1000))
            time.sleep(max(0.0, due - time.time()))
            write_atomic(table, os.path.join(s["dir"], f"part-{k:05d}.parquet"))
            self.files.append(
                {"k": k, "rows": rows, "due": due, "late_ms": (time.time() - due) * 1000}
            )
            k += 1

    def _submit_churn(self) -> None:
        s = self.spec
        rng = np.random.default_rng([self.seed, 11])
        i = 0
        while True:
            t = s["start"] + (i + float(rng.random())) / s["churn_rate"]
            if t >= s["churn_until"]:
                return
            m = (4, 8, 16)[i % 3]
            r = int(rng.integers(0, m))
            qid = f"churn-{i:04d}"
            bql = (
                "SELECT event_type, COUNT(*) AS n, MIN(seq) AS lo, MAX(seq) AS hi, "
                f"SUM(value) AS sv FROM STREAM() WHERE user_id % {m} = {r} "
                "GROUP BY event_type"
            )
            time.sleep(max(0.0, t - time.time()))
            http_submit_query(self.url, qid, bql, duration_ms=s["churn_duration_ms"])
            self.churn.append(
                {"id": qid, "due": t, "m": m, "r": r, "late_ms": (time.time() - t) * 1000}
            )
            i += 1


def main() -> None:
    seed = int(sys.argv[1])
    bus = RestPubSubServer().serve()
    loop: OpenLoop | None = None

    def reply(obj: dict) -> None:
        sys.stdout.write(json.dumps(obj) + "\n")
        sys.stdout.flush()

    reply({"url": bus.base_url})
    try:
        for line in sys.stdin:
            msg = json.loads(line)
            cmd = msg["cmd"]
            if cmd == "tables":
                reply({"rows": write_tables(seed, msg["dir"], msg["sf"])})
            elif cmd == "backlog":
                n = write_backlog(seed, msg["dir"], msg["files"], msg["rows_per_file"])
                reply({"rows": n})
            elif cmd == "submit":
                for q in msg["queries"]:
                    if q.get("signal") == "KILL":
                        http_submit_kill(bus.base_url, q["id"])
                    else:
                        http_submit_query(
                            bus.base_url,
                            q["id"],
                            q["bql"],
                            quantile_width=q.get("quantile_width"),
                        )
                reply({"ok": True})
            elif cmd == "live":
                loop = OpenLoop(seed, bus.base_url, msg)
                loop.start()
                reply({"ok": True})
            elif cmd == "finish":
                # the threads re-read these at every step
                loop.spec.update(churn_until=msg["churn_until"], stop_at=msg["stop_at"])
                reply({"ok": True})
            elif cmd == "wait_live":
                reply(loop.join())
            elif cmd == "quit":
                break
    finally:
        bus.close()


if __name__ == "__main__":
    main()
