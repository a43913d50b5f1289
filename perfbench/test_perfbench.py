"""Tests of the benchmark itself.

    python -m pytest perfbench/test_perfbench.py -q

The smoke tests run every workload at sf0.001-sized inputs for a couple of
seconds (three to four minutes in all on 4 CPUs); the checker tests need no
Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run as bench  # noqa: E402
from check import churn_expected, expected, same_rows, standing_queries  # noqa: E402
from loadgen import stream_rows  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _smoke(workload: str, trace: int) -> tuple[dict, dict[str, float]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace), "--scale", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    detail = {}
    for line in lines[:-1]:
        if line.startswith("detail "):
            name, value = line[len("detail "):].split(" = ")
            detail[name] = float(value)
    return json.loads(lines[-1]), detail


@pytest.fixture(scope="module")
def smoke_runs():
    cache: dict = {}

    def get(workload: str, trace: int):
        if (workload, trace) not in cache:
            cache[workload, trace] = _smoke(workload, trace)
        return cache[workload, trace]

    return get


@pytest.mark.parametrize("workload", bench.WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_prints_every_named_metric(smoke_runs, workload, trace):
    out, _ = smoke_runs(workload, trace)
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in out["metrics"].items()
    }
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values()), out["metrics"]


def test_traced_batch_layers_cover_the_delivered_time(smoke_runs):
    _, detail = smoke_runs("batch_delivered", 1)
    per_query = sum(
        detail[f"op.{q}.construct_ms"] + detail[f"op.{q}.action_ms"] for q in bench.BATCH_QUERIES
    )
    assert per_query / 1000 == pytest.approx(detail["batch_total_s"], rel=0.01)


def test_traced_stream_phases_cover_the_trigger(smoke_runs):
    _, detail = smoke_runs("live_mixed", 1)
    assert detail["stream.trigger_ms_total"] > 0
    assert detail["stream.components_ms_total"] == pytest.approx(
        detail["stream.trigger_ms_total"], rel=0.10
    )


class _FakeRun:
    """The slice of ``run.Run`` the result checkers use."""

    def __init__(self, events: list[dict]) -> None:
        self.bus = bench.Bus.__new__(bench.Bus)
        self.bus.events = events
        self.failures: list[str] = []

    def fail(self, what: str) -> None:
        self.failures.append(what)


def _records():
    return stream_rows(5, 0, 4000, 1_000).to_pandas()


def test_corrupted_standing_result_raises_failed_share():
    df = _records()
    standing = standing_queries(5)
    events = [{"query_id": q["id"], "type": "RESULT", "rows": expected(q, df)} for q in standing]
    clean = _FakeRun(events)
    bench._check_standing(clean, standing, df)
    assert clean.failures == []

    corrupt = json.loads(json.dumps(events))
    group = next(e for e in corrupt if e["query_id"].endswith("-group"))
    group["rows"][0][1] += 1  # one record more in one group's COUNT(*)
    del corrupt[-1]  # and the probe's RESULT never arrives
    run = _FakeRun(corrupt)
    bench._check_standing(run, standing, df)
    assert len(run.failures) == 2
    assert len(run.failures) / len(standing) > 0


def test_churn_result_is_checked_over_the_records_it_saw():
    df = _records()
    q = {"m": 4, "r": 1}
    seen = df[(df.seq >= 1000) & (df.seq < 3000) & (df.user_id % 4 == 1)]
    rows = [
        [k, len(g), int(g.seq.min()), int(g.seq.max()), float(g.value.sum())]
        for k, g in seen.groupby("event_type")
    ]
    assert same_rows(rows, churn_expected(q, rows, df))
    rows[0][4] += 0.5  # a SUM(value) off by half a unit
    assert not same_rows(rows, churn_expected(q, rows, df))
