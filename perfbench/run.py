"""Benchmark of what a Bullet user waits for, end to end and per layer.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--scale full|smoke]

Workloads (BENCHMARK.json says why each was chosen):

- ``live_mixed``: open loop. Records arrive at a fixed rate while 16
  standing queries plus a freshness probe run and short queries churn in
  over the REST bus (``streaming.http_control`` -> ``streaming.control``
  -> ``streaming.dynamic``).
- ``fleet_drain``: closed loop. The same standing queries drain a
  pre-written backlog with ``availableNow``, cycle after cycle. It is not
  in BENCHMARK.json (two workloads fill the time a full set of runs may
  take); it gives the single-core baseline in perfbench/METRICS.md.
- ``batch_delivered``: closed loop. Eleven ``__spark_entry__`` queries,
  each constructed and delivered with ``collect()``.

A separate load-generator process (perfbench/loadgen.py) writes every
input from the seed, runs the open-loop schedule and hosts the bus. Every
published answer is checked (perfbench/check.py); a wrong, empty or
missing answer counts as a failed operation.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``, the end-to-end metrics with ``--trace 0`` and
the per-layer metrics with ``--trace 1``. Lines before it name failing
operations, sample counts and, with ``--trace 1``, the per-layer detail and
the tracing overhead against the last untraced run of the same workload.
Spans are written to ``.perfbench_work/trace-<workload>-s<seed>.json``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from datetime import datetime  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("live_mixed", "fleet_drain", "batch_delivered")
BATCH_QUERIES = (
    "tpch_q1_pricing",
    "text_scrub_spans",
    "dedup_exact",
    "join_asof",
    "join_fact_fact",
    "bullet_quantile",
    "sketch_quantile_merge",
    "distribution_ks_test",
    "distribution_mannwhitney",
    "temporal_interval_overlap",
    "streaming_session_drain",
)
# tables each batch query reads, for its input row count
BATCH_INPUTS = {
    "tpch_q1_pricing": ("lineitem",),
    "text_scrub_spans": ("documents",),
    "dedup_exact": ("documents", "events"),
    "join_asof": ("events",),
    "join_fact_fact": ("lineitem", "orders"),
    "bullet_quantile": ("lineitem",),
    "sketch_quantile_merge": ("lineitem",),
    "distribution_ks_test": ("events",),
    "distribution_mannwhitney": ("events",),
    "temporal_interval_overlap": ("events",),
    "streaming_session_drain": ("events",),
}
SIZES = {
    "full": {
        "live": {"rate": 4000, "file_s": 0.5, "warm_windows": 5, "churn_rate": 4.0,
                 "churn_duration_ms": 3000},
        "drain": {"files": 2, "rows_per_file": 100_000, "max_files": 1},
        "batch": {"sf": 0.002},
    },
    "smoke": {
        "live": {"rate": 2000, "file_s": 0.5, "warm_windows": 3, "churn_rate": 2.0,
                 "churn_duration_ms": 2000},
        "drain": {"files": 2, "rows_per_file": 10_000, "max_files": 1},
        "batch": {"sf": 0.001},
    },
}


def log(line: str) -> None:
    print(line, flush=True)


def wait_until(cond, timeout_s: float, what: str, step: float = 0.05) -> None:
    deadline = time.time() + timeout_s
    while not cond():
        if time.time() > deadline:
            raise TimeoutError(f"timed out after {timeout_s:.0f}s waiting for {what}")
        time.sleep(step)


def sleep_until(t: float) -> None:
    time.sleep(max(0.0, t - time.time()))


class LoadGen:
    """Client of the load-generator process (one JSON line per call)."""

    def __init__(self, seed: int) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "loadgen.py"), str(seed)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        self.url = self._read()["url"]

    def _read(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("load generator exited")
        return json.loads(line)

    def call(self, **msg) -> dict:
        self.proc.stdin.write(json.dumps(msg) + "\n")
        self.proc.stdin.flush()
        return self._read()

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write('{"cmd": "quit"}\n')
                self.proc.stdin.close()
                self.proc.wait(timeout=10)
            except (OSError, subprocess.TimeoutExpired):
                self.proc.kill()
                self.proc.wait()


class Bus:
    """Client-side reader of the status log on the REST bus."""

    def __init__(self, url: str) -> None:
        from bullet_spark_spark.streaming.http_control import http_read_status

        self._read, self.url = http_read_status, url
        self.events: list[dict] = []

    def refresh(self) -> list[dict]:
        self.events.extend(self._read(self.url, len(self.events)))
        return self.events

    def of(self, qid: str) -> list[dict]:
        return [e for e in self.events if e.get("query_id") == qid]

    def result(self, qid: str) -> dict | None:
        return next((e for e in self.of(qid) if e["type"] == "RESULT"), None)


class Run:
    """State shared by the workloads: session, generator, timing, probes."""

    def __init__(self, args) -> None:
        from bullet_spark_spark import get_spark

        self.args = args
        self.seed, self.seconds, self.traced = args.seed, args.seconds, bool(args.trace)
        self.size = SIZES[args.scale]
        self.dir = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
        self.gen = LoadGen(args.seed)
        self.bus = Bus(self.gen.url)
        self.spark = get_spark(app_name="perfbench")
        self.phase("session")
        self.failures: list[str] = []
        self.attempted = 0
        self.t0 = self.t1 = 0.0
        self.detail: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.tracer = self.listener = self.store = None
        if self.traced:
            from probes import ProgressListener, StatusStore, Tracer

            self.tracer, self.listener = Tracer(), ProgressListener()
            self.store = StatusStore(self.spark)
            self.spark.streams.addListener(self.listener)
            # time BQL parsing as the control plane calls it
            import bullet_spark_spark.streaming.control as control

            control.parse_bql = self.tracer.wrap(control.parse_bql, "bql.parse")

    def phase(self, name: str) -> None:
        """Log how far into set-up a phase ended."""
        log(f"setup {name} done at {time.time() - T_START:.2f}s")

    def path(self, name: str) -> str:
        p = os.path.join(self.dir, name)
        os.makedirs(p, exist_ok=True)
        return p

    def transport(self):
        from bullet_spark_spark.streaming.http_control import HttpTransport

        t = HttpTransport(self.gen.url)
        if self.traced:
            from probes import TracedTransport

            t = TracedTransport(t, self.tracer)
        return t

    def control_plane(self):
        """A ControlPlane over a fresh DynamicMultiplexer, engine defaults."""
        from bullet_spark_spark.streaming.control import ControlPlane
        from bullet_spark_spark.streaming.dynamic import DynamicMultiplexer

        mux = DynamicMultiplexer(self.spark)
        if self.traced:
            mux.register = self.tracer.wrap(mux.register, "mux.register", qid_arg=True)
            mux.kill = self.tracer.wrap(mux.kill, "mux.kill", qid_arg=True)
        plane = ControlPlane(self.spark, mux, transport=self.transport())
        plane.start()
        return mux, plane

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def start_timing(self) -> None:
        from probes import host_cpu_ticks, proc_tree_cpu_s, self_cpu_s

        self.t0 = time.time()
        log(f"timing starts at {self.t0 - T_START:.2f}s")
        self._ticks0 = host_cpu_ticks()
        if self.traced:
            self.store.mark()
            self._cpu0 = proc_tree_cpu_s(self._jvm_pid()) + self_cpu_s()

    def end_timing(self) -> None:
        from probes import host_cpu_ticks, proc_tree_cpu_s, self_cpu_s

        self.t1 = time.time()
        # CPU time the hypervisor gave to other guests while this one wanted
        # it: wall-clock figures of a run with a high share are inflated
        steal, total = (b - a for a, b in zip(self._ticks0, host_cpu_ticks()))
        self.detail["host.steal_share"] = steal / max(1, total)
        if self.traced:
            cpu = proc_tree_cpu_s(self._jvm_pid()) + self_cpu_s()
            self.layer["host.engine_cpu_s"] = cpu - self._cpu0
            self.record_exec(self.store.collect(), self.store.new_jobs())

    def record_exec(self, totals: dict[str, float], jobs: list) -> None:
        """Executor totals over the timed window, and its Spark jobs."""
        for k, v in totals.items():
            # GC time is mostly 0 in a window this short: a detail
            (self.detail if k == "gc_ms" else self.layer)[f"exec.{k}"] = v
        self._jobs = jobs

    def _jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def in_window(self, t: float) -> bool:
        return self.t0 <= t <= self.t1

    def close(self) -> None:
        self.gen.close()
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        # the JVM exits once its stdin closes; wait so that it ends before
        # the benchmark does
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


# -- per-layer helpers ------------------------------------------------------


def _progress_in_window(run: Run) -> list[tuple[float, dict, int]]:
    out = []
    for p in run.listener.progress:
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        if run.in_window(start):
            out.append((start, dict(p.durationMs), int(p.numInputRows)))
    return out


def stream_layers(run: Run) -> list[float]:
    """stream.* from the listener, and per-batch driver time: ``addBatch``
    minus the wall time of the Spark jobs inside that trigger."""
    from probes import covered_s, median

    prog = _progress_in_window(run)
    jobs = [(a, b) for _, a, b in run._jobs]
    trig = [d.get("triggerExecution", 0) for _, d, _ in prog]
    add = [d.get("addBatch", 0) for _, d, _ in prog]
    offs = [d.get("latestOffset", 0) + d.get("walCommit", 0) + d.get("commitOffsets", 0)
            for _, d, _ in prog]
    plan = [d.get("queryPlanning", 0) for _, d, _ in prog]
    driver = [
        max(0.0, d.get("addBatch", 0) - 1000 * covered_s(jobs, s, s + d.get("triggerExecution", 0) / 1000))
        for s, d, _ in prog
    ]
    run.layer.update({
        "stream.batches": len(prog),
        "stream.input_rows": sum(n for _, _, n in prog),
        "stream.trigger_ms_p50": median(trig),
        "stream.add_batch_ms_p50": median(add),
        "stream.offsets_ms_p50": median(offs),
    })
    run.detail.update({
        "stream.planning_ms_p50": median(plan),
        "stream.trigger_ms_total": sum(trig),
        # every durationMs component except the trigger itself: these
        # should add up to the trigger, which shows nothing blocking is
        # left unmeasured
        "stream.components_ms_total": sum(
            v for _, d, _ in prog for k, v in d.items() if k != "triggerExecution"
        ),
    })
    return driver if driver else [0.0]


def serving_layers(run: Run, mux_logs: list) -> None:
    from probes import median

    tr = run.tracer
    spans = [s for s in tr.spans if run.in_window(s["start"])]

    def total(name):
        return sum((s["end"] - s["start"]) * 1000 for s in spans if s["name"] == name)

    def count(name):
        return sum(1 for s in spans if s["name"] == name)

    front = ("control.poll", "bql.parse", "mux.register", "mux.kill")
    driver = stream_layers(run)
    prog = _progress_in_window(run)
    run.layer.update({
        "front.calls": sum(count(n) for n in front),
        "front.ms": sum(total(n) for n in front),
        "deliver.calls": count("control.emit"),
        "deliver.ms": total("control.emit"),
        "driver.ms_p50": median(driver),
        "plan.ms": sum(d.get("queryPlanning", 0) for _, d, _ in prog),
    })
    expiries = sum(1 for lg in mux_logs for _q, _s, t in lg if run.in_window(t))
    run.detail.update({
        "bql.parse_ms": total("bql.parse"),
        "bql.parses": count("bql.parse"),
        "control.poll_ms": total("control.poll"),
        "control.polls": count("control.poll"),
        "control.emit_ms": total("control.emit"),
        "control.emits": count("control.emit"),
        "mux.register_ms": total("mux.register") + total("mux.kill"),
        "mux.registry_changes": count("mux.register") + count("mux.kill") + expiries,
        "mux.driver_ms_p50": median(driver),
    })


# -- workloads --------------------------------------------------------------


def _submit(run: Run, queries: list[dict], prefix: str = "") -> None:
    keep = ("bql", "quantile_width", "signal")
    run.gen.call(
        cmd="submit",
        queries=[{"id": prefix + q["id"], **{k: q[k] for k in keep if k in q}} for q in queries],
    )


def _running(mux) -> int:
    from bullet_spark_spark.streaming.runtime import QueryState

    return sum(1 for h in list(mux.queries.values()) if h.state is QueryState.RUNNING)


def _check_standing(run: Run, standing: list[dict], df, prefix: str = "") -> None:
    from check import expected, same_rows

    for q in standing:
        qid = prefix + q["id"]
        ev = run.bus.result(qid)
        errors = [e for e in run.bus.of(qid) if e["type"] == "ERROR"]
        ordered = q["kind"] in ("topk", "quantile")
        if errors or ev is None or not same_rows(ev["rows"], expected(q, df), ordered):
            run.fail(f"{qid}: {'ERROR' if errors else 'no RESULT' if ev is None else 'wrong RESULT'}")


def live_mixed(run: Run) -> dict:
    from check import PROBE_ID, churn_expected, read_stream_files, same_rows, standing_queries
    from loadgen import STREAM_DDL

    sz = run.size["live"]
    data_dir = run.path("stream")
    standing = standing_queries(run.seed)
    mux, plane = run.control_plane()
    _submit(run, standing)
    wait_until(lambda: _running(mux) == len(standing), 60, "standing queries to register")
    run.phase("registration")
    stream = run.spark.readStream.schema(STREAM_DDL).parquet(data_dir)
    mux.start(stream, checkpoint_dir=run.path("checkpoint"))
    start = time.time() + 0.5
    run.gen.call(cmd="live", dir=data_dir, rate=sz["rate"], file_s=sz["file_s"], start=start,
                 churn_rate=sz["churn_rate"], churn_duration_ms=sz["churn_duration_ms"],
                 churn_until=float("inf"), stop_at=float("inf"))

    def probe_windows() -> list[dict]:
        return [e for e in run.bus.refresh() if e.get("query_id") == PROBE_ID and e["rows"]]

    # the first micro-batches run cold (seconds each, shrinking batch by
    # batch as the JVM compiles the hot paths); timing starts once a fixed
    # number of them have published, so that they stay in set-up
    wait_until(lambda: len(probe_windows()) >= sz["warm_windows"], 90,
               "the stream to warm up", 0.2)
    run.start_timing()
    t1 = run.t0 + run.seconds
    # the load runs on past t1 so that the last churn queries see data
    # for their whole lifetime
    run.gen.call(cmd="finish", churn_until=t1,
                 stop_at=t1 + sz["churn_duration_ms"] / 1000 + 1.0)
    sleep_until(t1)
    run.end_timing()
    load = run.gen.call(cmd="wait_live")
    total = sum(f["rows"] for f in load["files"])

    def probe_rows() -> int:
        w = probe_windows()
        return w[-1]["rows"][0][1] if w else 0

    backlog_end = total - probe_rows()
    wait_until(lambda: probe_rows() >= total, 60, "the stream to consume the load", 0.2)
    _submit(run, [{"id": q["id"], "signal": "KILL"} for q in standing])
    churn = [c for c in load["churn"] if run.in_window(c["due"])]
    ids = [q["id"] for q in standing] + [c["id"] for c in load["churn"]]
    try:
        wait_until(lambda: run.bus.refresh() and all(run.bus.result(i) for i in ids),
                   30, "final results", 0.2)
    except TimeoutError:
        pass  # the missing ones are counted as failed below
    plane.stop()
    mux.stop()
    run.bus.refresh()

    df = read_stream_files(data_dir)
    _check_standing(run, standing, df)
    waits = []
    for c in churn:
        first = next((e for e in run.bus.of(c["id"])
                      if e["type"] in ("WINDOW", "RESULT") and e["rows"]), None)
        res = run.bus.result(c["id"])
        if first is None or res is None:
            run.fail(f"{c['id']}: {'no RESULT' if res is None else 'empty RESULT'}")
            continue
        waits.append((first["ts"] - c["due"]) * 1000)
        if not same_rows(res["rows"], churn_expected(c, res["rows"], df)):
            run.fail(f"{c['id']}: wrong RESULT")
    run.attempted = len(standing) + len(churn)

    windows = [e for e in run.bus.of(PROBE_ID) if e["type"] == "WINDOW" and e["rows"]]
    fresh = [(e["ts"] - e["rows"][0][0] / 1000) * 1000 for e in windows if run.in_window(e["ts"])]
    # rows consumed between the last window before the timed window and the
    # first one after it (warm-up ensures the one, the load running on past
    # the window the other)
    w0 = [e for e in windows if e["ts"] < run.t0][-1]
    w1 = next(e for e in windows if e["ts"] > run.t1)
    rate = (w1["rows"][0][1] - w0["rows"][0][1]) / (w1["ts"] - w0["ts"])
    run.detail.update({"gen.late_ms_max": load["late_ms_max"],
                       "source.backlog_rows_end": backlog_end})
    if run.traced:
        serving_layers(run, [mux.status_log])
        lags = [(run.bus.result(c["id"])["ts"] - c["due"]) * 1000 - sz["churn_duration_ms"]
                for c in churn if run.bus.result(c["id"])]
        from probes import median

        run.detail["control.final_lag_ms_p50"] = median(lags)
    return {"wait": waits, "fresh": fresh, "rows_per_s": rate}


def fleet_drain(run: Run) -> dict:
    from check import PROBE_ID, expected, read_stream_files, standing_queries
    from loadgen import STREAM_DDL

    sz = run.size["drain"]
    data_dir = run.path("backlog")
    rows = run.gen.call(cmd="backlog", dir=data_dir, files=sz["files"],
                        rows_per_file=sz["rows_per_file"])["rows"]
    run.phase("inputs")
    standing = standing_queries(run.seed)
    df = read_stream_files(data_dir)
    for q in standing:
        expected(q, df)  # fail early on a broken checker, before timing
    mux_logs: list = []

    def cycle(k: int) -> tuple[list, list, float]:
        prefix = f"d{k}-"
        mux, plane = run.control_plane()
        _submit(run, standing, prefix)
        wait_until(lambda: _running(mux) == len(standing), 60, "standing queries to register")
        stream = (run.spark.readStream.schema(STREAM_DDL)
                  .option("maxFilesPerTrigger", sz["max_files"]).parquet(data_dir))
        t0 = time.time()
        mux.start(stream, checkpoint_dir=run.path(f"checkpoint-{k}"), available_now=True)
        t1 = time.time()
        plane.stop()
        mux_logs.append(mux.status_log)
        run.bus.refresh()
        _check_standing(run, standing, df, prefix)
        waits = [(run.bus.result(prefix + q["id"])["ts"] - t0) * 1000
                 for q in standing if run.bus.result(prefix + q["id"])]
        fresh = [(e["ts"] - t0) * 1000 for e in run.bus.of(prefix + PROBE_ID)
                 if e["type"] == "WINDOW"]
        return waits, fresh, rows / (t1 - t0)

    cycle(0)  # warm-up: cold JIT and first-compile costs stay out of timing
    run.start_timing()
    waits, fresh, rates = [], [], []
    k = 1
    while True:
        w, f, r = cycle(k)
        waits += w
        fresh += f
        rates.append(r)
        k += 1
        elapsed = time.time() - run.t0
        if elapsed + 0.5 * elapsed / len(rates) > run.seconds:
            break
    run.end_timing()
    run.attempted = len(standing) * k  # the warm-up cycle is checked too
    if run.traced:
        serving_layers(run, mux_logs)
    from probes import median

    return {"wait": waits, "fresh": fresh, "rows_per_s": median(rates)}


def batch_delivered(run: Run) -> dict:
    import __spark_entry__ as entry
    from check import Oracle
    from probes import covered_s, median

    tables = run.path("tables")
    counts = run.gen.call(cmd="tables", dir=tables, sf=run.size["batch"]["sf"])["rows"]
    qs = entry.queries()
    run.phase("inputs")
    oracle = Oracle(tables, list(BATCH_QUERIES), entry.oracle_sql())
    run.phase("oracle")
    spark = run.spark
    op: dict[str, dict[str, list]] = {}
    # each query marks the status store afresh, so the window's executor
    # totals are summed over the queries
    exec_totals: dict[str, float] = {}
    all_jobs: list = []

    def one(name: str) -> tuple[float, float, float]:
        spark.catalog.clearCache()  # no query reads another's persisted frames
        if run.traced:
            run.store.mark()
        t0 = time.time()
        try:
            df = qs[name](spark, tables)
            t1 = time.time()
            jobs_construct = len(run.store.new_jobs()) if run.traced else 0
            rows = [tuple(r) for r in df.collect()]
            t2 = time.time()
            ok = oracle.matches(name, list(df.columns), rows)
        except Exception as e:  # noqa: BLE001 — a raising query is a failed operation
            print(f"{name}: {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
            t1 = t2 = time.time()
            ok, df = False, None
        if not ok:
            run.fail(f"{name}: {'raised' if df is None else 'mismatched the oracle'}")
        if run.traced and df is not None:
            run.tracer.record("op.construct", t0, t1, "batch", name)
            run.tracer.record("op.action", t1, t2, "batch", name)
            jobs = run.store.new_jobs()
            ex = run.store.collect()
            all_jobs.extend(jobs)
            for k, v in ex.items():
                exec_totals[k] = exec_totals.get(k, 0) + v
            phases = df._jdf.queryExecution().tracker().phases()
            it, plan_ms = phases.iterator(), 0.0
            while it.hasNext():
                plan_ms += it.next()._2().durationMs()
            rec = {
                "construct_ms": (t1 - t0) * 1000,
                "construct_jobs": jobs_construct,
                "plan_ms": plan_ms,
                "action_ms": (t2 - t1) * 1000,
                "cpu_ms": ex["cpu_ms"],
                "shuffle_bytes": ex["shuffle_write_bytes"],
                "driver_ms": (t2 - t0 - covered_s([(a, b) for _, a, b in jobs], t0, t2)) * 1000,
            }
            for k, v in rec.items():
                op.setdefault(name, {}).setdefault(k, []).append(v)
        return t0, t1, t2

    # the first pass in the new session is timed: a Spark batch
    # application starts its own JVM, so its users wait through cold plan
    # generation and JIT on every run (a warm pass would also double the
    # run's length)
    run.start_timing()
    passes: list[dict[str, tuple]] = []
    while True:
        passes.append({name: one(name) for name in BATCH_QUERIES})
        elapsed = time.time() - run.t0
        if elapsed + 0.5 * elapsed / len(passes) > run.seconds:
            break
    run.end_timing()
    run.attempted = len(BATCH_QUERIES) * len(passes)
    wait = {n: median([(p[n][2] - p[n][0]) * 1000 for p in passes]) for n in BATCH_QUERIES}
    fresh = {
        n: median([(p[n][2] - p[BATCH_QUERIES[0]][0]) * 1000 for p in passes])
        for n in BATCH_QUERIES
    }
    input_rows = sum(counts[t] for n in BATCH_QUERIES for t in BATCH_INPUTS[n])
    run.detail["batch_total_s"] = sum(wait.values()) / 1000
    if run.traced:
        run.record_exec(exec_totals, all_jobs)
        stream_layers(run)
        med = {n: {k: median(v) for k, v in op[n].items()} for n in BATCH_QUERIES if n in op}
        run.layer.update({
            "front.calls": sum(len(op[n]["construct_ms"]) for n in op),
            "front.ms": sum(sum(op[n]["construct_ms"]) for n in op),
            "deliver.calls": sum(len(op[n]["action_ms"]) for n in op),
            "deliver.ms": sum(sum(op[n]["action_ms"]) for n in op),
            "driver.ms_p50": median([m["driver_ms"] for m in med.values()]),
            "plan.ms": sum(m["plan_ms"] for m in med.values()),
        })
        for n, m in med.items():
            for k, v in m.items():
                run.detail[f"op.{n}.{k}"] = v
        run.detail["op.construct_plus_action_s"] = sum(
            m["construct_ms"] + m["action_ms"] for m in med.values()
        ) / 1000
    return {"wait": list(wait.values()), "fresh": list(fresh.values()),
            "rows_per_s": input_rows / (sum(wait.values()) / 1000)}


# -- entry point ------------------------------------------------------------


def _environment() -> None:
    """Engine defaults, except that every scratch file stays in the
    checkout and the session uses every CPU this process may run on."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=tuple(SIZES), default="full")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "bullet_spark_spark")):
        print(f"no engine source next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    _environment()
    os.chdir(os.path.join(WORK))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    run = Run(args)
    try:
        out = {"live_mixed": live_mixed, "fleet_drain": fleet_drain,
               "batch_delivered": batch_delivered}[args.workload](run)
        from probes import mean, pctl, proc_tree_cpu_s

        gen_cpu = proc_tree_cpu_s(run.gen.proc.pid)
    finally:
        run.close()
        shutil.rmtree(run.dir, ignore_errors=True)

    e2e = {
        "setup_s": run.t0 - T_START,
        "wait_ms_mean": mean(out["wait"]),
        "fresh_ms_mean": mean(out["fresh"]),
        "rows_per_s": out["rows_per_s"],
    }
    for k in ("wait", "fresh"):
        v = out[k]
        log(f"samples {k}: n={len(v)} mean {mean(v):.1f} p50 {pctl(v, 50):.1f} "
            f"p90 {pctl(v, 90):.1f} ms")
    log(f"timed {run.t1 - run.t0:.2f}s")
    for k, v in sorted(run.detail.items()):
        log(f"detail {k} = {v:.6g}")
    for f in run.failures:
        log(f"FAILED {f}")
    last = os.path.join(WORK, f"last-{args.workload}-trace0.json")
    if args.trace:
        run.layer["host.gen_cpu_s"] = gen_cpu
        metrics = {m["name"]: {"value": float(run.layer[m["name"]]), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        if os.path.exists(last):
            with open(last) as fh:
                base = json.load(fh)
            for k, v in e2e.items():
                log(f"tracing overhead {k}: traced {v:.6g} - untraced {base[k]:.6g} "
                    f"(seed {base['seed']}) = {v - base[k]:+.6g} {units[k]}")
        else:
            log("tracing overhead: no untraced run of this workload recorded yet")
        for k, v in e2e.items():
            log(f"traced {k} = {v:.6g} {units[k]}")
        with open(os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json"), "w") as fh:
            json.dump({"spans": run.tracer.spans, "layer": run.layer, "detail": run.detail,
                       "e2e": e2e}, fh)
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        with open(last, "w") as fh:
            json.dump({**e2e, "seed": args.seed}, fh)
    failed = len(run.failures)
    log(json.dumps({"correct": failed == 0, "attempted": run.attempted, "failed": failed,
                    "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
