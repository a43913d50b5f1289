"""Correctness side of the benchmark: the query mix and exact answers.

Every answer the engine publishes is recomputed here from the generated
files (pandas for the serving workloads, DuckDB over the registered oracle
SQL for the batch set). A mismatch is a failed operation, never a crash.
"""

from __future__ import annotations

import math
import os
import sys

import numpy as np
import pandas as pd

QUANTILE_WIDTH = 1.0
QUANTILE_POINTS = [0.0, 0.25, 0.5, 0.75, 1.0]
PROBE_ID = "probe"
PROBE_BQL = "SELECT MAX(gen_ms) AS g, COUNT(*) AS n FROM STREAM()"
KINDS = ("group", "distinct", "topk", "minmax")
# the slice moduli cycle with the query index, so that every seed routes
# the same share of records to the same query kinds and only the records
# and the residues change with the seed
SLICES = (8, 16, 32, 64)


def standing_queries(seed: int, n: int = 16) -> list[dict]:
    """``n`` bounded-result standing queries over the five aggregation
    families the shared routed plan supports, each on a seeded
    ``user_id % m = r`` slice, plus the freshness probe last.

    Only two are QUANTILE: each QUANTILE query adds its own grouping set
    to the shared aggregation. Sixteen, not more: with 64, micro-batches
    on 4 CPUs took 1-2 s, so the open loop ran back to back with no slack
    and its latency figures moved by a quarter from run to run."""
    rng = np.random.default_rng([seed, 5])
    out = []
    for i in range(n):
        kind = "quantile" if i < 2 else KINDS[i % 4]
        m = SLICES[(i // 4) % 4]
        r = int(rng.integers(0, m))
        where = f"WHERE user_id % {m} = {r}"
        bql = {
            "group": "SELECT event_type, COUNT(*) AS n, SUM(value) AS s, MIN(value) AS lo, "
            f"MAX(value) AS hi FROM STREAM() {where} GROUP BY event_type",
            "distinct": f"SELECT COUNT(DISTINCT user_id) AS u FROM STREAM() {where}",
            "topk": f"SELECT TOP(5, user_id) FROM STREAM() {where}",
            "minmax": f"SELECT MIN(value) AS lo, MAX(value) AS hi, COUNT(*) AS n FROM STREAM() {where}",
            "quantile": f"SELECT QUANTILE(value, LINEAR, 5) FROM STREAM() {where}",
        }[kind]
        q = {"id": f"s{i:02d}-{kind}", "bql": bql, "kind": kind, "m": m, "r": r}
        if kind == "quantile":
            q["quantile_width"] = QUANTILE_WIDTH
        out.append(q)
    out.append({"id": PROBE_ID, "bql": PROBE_BQL, "kind": "probe"})
    return out


def expected(q: dict, df: pd.DataFrame) -> list[list]:
    """Exact answer of standing query ``q`` over stream records ``df``, in
    the row shape the engine publishes."""
    kind = q["kind"]
    if kind == "probe":
        return [[int(df.gen_ms.max()), len(df)]] if len(df) else []
    d = df[df.user_id % q["m"] == q["r"]]
    if kind == "group":
        g = d.groupby("event_type").agg(
            n=("value", "size"), s=("value", "sum"), lo=("value", "min"), hi=("value", "max")
        )
        return [[k, int(r.n), float(r.s), float(r.lo), float(r.hi)] for k, r in g.iterrows()]
    if kind == "distinct":
        return [[int(d.user_id.nunique())]]
    if kind == "topk":
        counts = d.groupby("user_id").size()
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], str((kv[0],))))
        return [[int(k), int(c)] for k, c in ranked[:5]]
    if kind == "minmax":
        return [[float(d.value.min()), float(d.value.max()), len(d)]] if len(d) else []
    if kind == "quantile":
        buckets = np.floor(d.value.to_numpy() / QUANTILE_WIDTH).astype(np.int64)
        keys, counts = np.unique(buckets, return_counts=True)
        total, rows = int(counts.sum()), []
        for p in QUANTILE_POINTS:
            rank = max(1, math.ceil(p * total)) if total else 0
            est = None
            if total:
                est = (int(keys[np.searchsorted(np.cumsum(counts), rank)]) + 0.5) * QUANTILE_WIDTH
            rows.append([p, est])
        return rows
    raise ValueError(kind)


def churn_expected(q: dict, rows: list[list], df: pd.DataFrame) -> list[list] | None:
    """A churn query saw a contiguous run of micro-batches; its MIN(seq) and
    MAX(seq) bound that run, so its answer is recomputed over the matching
    records in [lo, hi]. Returns None when the result has no rows."""
    if not rows:
        return None
    lo, hi = min(r[2] for r in rows), max(r[3] for r in rows)
    d = df[(df.seq >= lo) & (df.seq <= hi) & (df.user_id % q["m"] == q["r"])]
    g = d.groupby("event_type").agg(
        n=("seq", "size"), lo=("seq", "min"), hi=("seq", "max"), sv=("value", "sum")
    )
    return [[k, int(r.n), int(r.lo), int(r.hi), float(r.sv)] for k, r in g.iterrows()]


def _same_value(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def same_rows(got: list, want: list, ordered: bool = False) -> bool:
    """Row-set equality with a float tolerance for sums, whose summation
    order differs between the engine and pandas."""
    if got is None or len(got) != len(want):
        return False
    if not ordered:
        got, want = sorted(got, key=str), sorted(want, key=str)
    return all(
        len(g) == len(w) and all(_same_value(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want)
    )


def read_stream_files(data_dir: str) -> pd.DataFrame:
    import pyarrow.parquet as pq

    files = sorted(
        os.path.join(data_dir, f) for f in os.listdir(data_dir) if f.endswith(".parquet")
    )
    cols = ["seq", "user_id", "event_type", "value", "gen_ms"]
    if not files:
        return pd.DataFrame({c: [] for c in cols})
    return pd.concat([pq.read_table(f, columns=cols).to_pandas() for f in files], ignore_index=True)


class Oracle:
    """DuckDB answers for the batch query set, in ``tools/check_oracle.py``'s
    canonical form, computed once during set-up."""

    def __init__(self, table_dir: str, names: list[str], oracle_sql: dict[str, str]) -> None:
        import duckdb

        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        sys.path.insert(0, os.path.join(root, "tools"))
        from check_oracle import canon_rows

        self._canon = canon_rows
        conn = duckdb.connect()
        try:
            for f in os.listdir(table_dir):
                if f.endswith(".parquet"):
                    path = os.path.join(table_dir, f)
                    conn.execute(
                        f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')"
                    )
            self.answers = {}
            for name in names:
                cur = conn.execute(oracle_sql[name])
                cols = [d[0] for d in cur.description]
                self.answers[name] = (sorted(cols), canon_rows(cols, cur.fetchall()))
        finally:
            conn.close()

    def matches(self, name: str, cols: list[str], rows: list[tuple]) -> bool:
        want_cols, want = self.answers[name]
        try:
            return sorted(cols) == want_cols and self._canon(cols, rows) == want
        except TypeError:
            return False
