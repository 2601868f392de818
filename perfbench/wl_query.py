"""``logs_query`` workload: the kobs user's path.

One closed-loop client runs a fixed, seeded rotation of the seven query
shapes against a table built in setup through the streaming ingest path —
two JSON micro-batches and one msgpack micro-batch, so the table has the
several small files per day that streaming leaves behind. Every query calls
``read_logs`` afresh and collects its result, which is compared with DuckDB
over the generator's records.
"""

from __future__ import annotations

import math
import time
from datetime import datetime, timezone

import duckdb
import numpy as np
import pyarrow as pa

import gen
import ingest
from common import Bench, median

TABLE_BATCH_ROWS = 5_000
JSON_BATCHES = 2           # then one msgpack micro-batch: ~3 files per day
# query cycles before timing: by then the JIT has queries within ~15% of
# where they level off from the sixth cycle (it keeps compiling the planner
# for many cycles more)
WARM_CYCLES = 5
SHAPES = ["count_filter", "newest", "histogram", "count_by", "number_stats",
          "log_contains", "context"]
CYCLE = len(SHAPES)
DAY_MS = gen.DAY_S * 1000


def _dt(ms: int) -> datetime:
    return datetime.fromtimestamp(ms / 1000, tz=timezone.utc).replace(tzinfo=None)


def _ms(dt: datetime) -> int:
    return round(dt.replace(tzinfo=timezone.utc).timestamp() * 1000)


def make_params(seed: int, n: int, logs: gen.LogSet) -> list[tuple[str, dict]]:
    """A seeded sequence of (shape, parameters): each cycle of seven runs
    every shape once, in a shuffled order."""
    rng = np.random.default_rng([seed, 55])
    out = []
    while len(out) < n:
        for shape in rng.permutation(SHAPES):
            day = int(rng.integers(0, gen.N_DAYS - 10))
            p = {"lo": gen.EPOCH0 * 1000 + day * DAY_MS,
                 "ns": gen.NAMESPACES[int(rng.integers(len(gen.NAMESPACES)))]}
            i = int(rng.integers(len(logs)))
            p["anchor"] = int(logs.ts_ms[i])
            p["pod"] = logs.pods[int(logs.pod[i])]["pod"]
            out.append((str(shape), p))
    return out


def run_query(spark, path: str, shape: str, p: dict) -> list[tuple]:
    """Run one query through the engine's public read surface and return
    its collected rows in a canonical, comparable form."""
    from klogs_spark.query import LogsQuery, fetch_context
    from klogs_spark.table import read_logs

    lo = p["lo"]
    if shape == "context":
        rows = fetch_context(spark, path, p["pod"], _dt(p["anchor"]), n=5).collect()
        return [(r.direction, _ms(r.timestamp), r.pod_name, r.log) for r in rows]
    q = LogsQuery(read_logs(spark, path))
    if shape == "count_filter":
        rows = (q.time_range(_dt(lo), _dt(lo + 10 * DAY_MS - 1))
                .where_env(namespace=p["ns"])
                .where_field_eq("content_level", "error").count_all().collect())
        return [(r.cnt,) for r in rows]
    if shape == "newest":
        rows = q.newest(100).collect()
        return [(_ms(r.timestamp), r.pod_name, r.log) for r in rows]
    day = q.time_range(_dt(lo), _dt(lo + DAY_MS - 1))
    if shape == "histogram":
        rows = day.histogram("1 hour").collect()
        return sorted((_ms(r.bucket_start), r.cnt) for r in rows)
    if shape == "count_by":
        rows = (q.time_range(_dt(lo), _dt(lo + 7 * DAY_MS - 1))
                .count_by("pod_name").collect())
        return sorted((r.pod_name, r.cnt) for r in rows)
    if shape == "number_stats":
        r = day.number_stats("content_latency_ms").collect()[0]
        return [(r.cnt, r.avg_v, r.min_v, r.max_v, r.sum_v)]
    if shape == "log_contains":
        rows = day.where_log_contains(gen.NEEDLE).count_all().collect()
        return [(r.cnt,) for r in rows]
    raise ValueError(shape)


class Oracle:
    """DuckDB over the generated records: the answer each query must give."""

    def __init__(self, logs: gen.LogSet):
        r = logs.rows()
        self.con = duckdb.connect()
        self.con.register("logs", pa.table(r))

    def answer(self, shape: str, p: dict) -> list[tuple]:
        lo = p["lo"]
        q = self.con.execute
        if shape == "count_filter":
            return q("SELECT count(*) FROM logs WHERE ts_ms BETWEEN ? AND ? "
                     "AND namespace = ? AND level = 'error'",
                     [lo, lo + 10 * DAY_MS - 1, p["ns"]]).fetchall()
        if shape == "newest":
            return q("SELECT ts_ms, pod_name, log FROM logs "
                     "ORDER BY ts_ms DESC LIMIT 100").fetchall()
        if shape == "histogram":
            return sorted(q("SELECT ts_ms // 3600000 * 3600000, count(*) FROM logs "
                            "WHERE ts_ms BETWEEN ? AND ? GROUP BY 1",
                            [lo, lo + DAY_MS - 1]).fetchall())
        if shape == "count_by":
            return sorted(q("SELECT pod_name, count(*) FROM logs WHERE ts_ms "
                            "BETWEEN ? AND ? GROUP BY 1",
                            [lo, lo + 7 * DAY_MS - 1]).fetchall())
        if shape == "number_stats":
            return q("SELECT count(*), avg(latency), min(latency), max(latency), "
                     "sum(latency) FROM logs WHERE ts_ms BETWEEN ? AND ?",
                     [lo, lo + DAY_MS - 1]).fetchall()
        if shape == "log_contains":
            return q("SELECT count(*) FROM logs WHERE ts_ms BETWEEN ? AND ? "
                     "AND contains(log, ?)", [lo, lo + DAY_MS - 1, gen.NEEDLE]).fetchall()
        if shape == "context":
            a, h = p["anchor"], 12 * 3_600_000
            before = q("SELECT 'before', ts_ms, pod_name, log FROM logs "
                       "WHERE pod_name = ? AND ts_ms BETWEEN ? AND ? "
                       "ORDER BY ts_ms DESC, log DESC LIMIT 5",
                       [p["pod"], a - h, a]).fetchall()
            after = q("SELECT 'after', ts_ms, pod_name, log FROM logs "
                      "WHERE pod_name = ? AND ts_ms > ? AND ts_ms <= ? "
                      "ORDER BY ts_ms, log LIMIT 5",
                      [p["pod"], a, a + h]).fetchall()
            return sorted(before + after, key=lambda r: (r[1], r[3]))
        raise ValueError(shape)


def same(got: list[tuple], want: list[tuple]) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for x, y in zip(g, w):
            if isinstance(x, float) or isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


# --- workload -----------------------------------------------------------------

def setup(b: Bench) -> dict:
    with b.phase("generate"):
        logs = gen.make_logs(b.seed, TABLE_BATCH_ROWS * (JSON_BATCHES + 1), 1)
        n_json = TABLE_BATCH_ROWS * JSON_BATCHES
        spools = [
            ingest.Spool(b, "json", logs.take(slice(0, n_json)), "json-spool",
                         TABLE_BATCH_ROWS),
            ingest.Spool(b, "msgpack", logs.take(slice(n_json, None)), "msgpack-spool",
                         TABLE_BATCH_ROWS),
        ]
        want = ingest.expected_layout(logs)
        oracle = Oracle(logs)
        params = make_params(b.seed, 4000, logs)
    path = b.fresh("table")
    with b.phase("table_build"):
        drains = [ingest.drain(b, spools[0], "build-json", b.trace, path),
                  ingest.drain(b, spools[1], "build-msgpack", b.trace, path,
                               first_batch=JSON_BATCHES)]
    ingest.verify_table(b, path, want, drains, redrain=False)
    warm = WARM_CYCLES * CYCLE
    with b.phase("warmup"):
        for shape, p in params[:warm]:
            run_query(b.spark, path, shape, p)
    b.notes["build_batch_s"] = [x for d in drains for x in d["batch_s"]]
    return {"path": path, "oracle": oracle, "params": params[warm:], "want": want,
            "build": drains, "queries": []}


def op(b: Bench, st: dict, i: int, traced: bool) -> dict:
    shape, p = st["params"][i]
    tid = f"q{i}"
    if traced:
        with b.tracer.span(f"query.{shape}", trace_id=tid):
            t0 = time.perf_counter()
            got = run_query(b.spark, st["path"], shape, p)
            wall = time.perf_counter() - t0
    else:
        t0 = time.perf_counter()
        got = run_query(b.spark, st["path"], shape, p)
        wall = time.perf_counter() - t0
    st["queries"].append({"tid": tid, "shape": shape, "wall_s": wall,
                          "traced": traced, "rows": len(got)})

    def check():
        want = st["oracle"].answer(shape, p)
        b.check(f"{tid}.{shape}", same(got, want), f"got {got[:3]} want {want[:3]}")

    return {"items": 1, "lat": [wall], "wall": wall, "kind": shape, "check": check}


def finish(b: Bench, st: dict) -> None:
    ingest.verify_table(b, st["path"], st["want"], st["build"], redrain=True)


def layers(b: Bench, st: dict, ev) -> dict:
    from tracing import self_time

    out = ingest.ingest_layers(ev, st["build"], b.tracer.spans)
    qs = [q for q in st["queries"] if q["traced"]]
    n = max(len(qs), 1)
    for shape in SHAPES:
        out[f"query.{shape}.p50_s"] = median(q["wall_s"] for q in qs if q["shape"] == shape)
    spans = {s.trace_id: s for s in b.tracer.spans if s.name.startswith("query.")}
    plan = cpu = files = size = examined = returned = tasks = 0
    for q in qs:
        g = f"{q['tid']}|query.{q['shape']}"
        s = spans[q["tid"]]
        plan += self_time(s.start, s.end, [(j["start"], j["end"])
                                           for j in ev.jobs.values() if j["group"] == g])
        f = ev.fold(f"query.{q['shape']}", trace_ids={q["tid"]})
        cpu += f.cpu_s
        tasks += f.tasks
        files += ev.sql_metric(g, "Scan parquet", "number of files read")
        size += ev.sql_metric(g, "Scan parquet", "size of files read")
        examined += ev.sql_metric(g, "Scan parquet", "number of output rows")
        returned += q["rows"]
    out["query.plan_s"] = plan / n
    out["query.cpu_s"] = cpu / n
    out["table.read.files_per_query"] = files / n
    out["table.read.bytes_per_query"] = size / n
    out["table.read.rows_examined_per_row_returned"] = examined / max(returned, 1)
    out["table.read.tasks_per_query"] = tasks / n
    checks = b.calls.get("manifest.snapshot_versions", [])
    out["manifest.check_s"] = median(checks)
    return out


def extra(st: dict) -> dict:
    """The figures named in ROADMAP item 5, for the human summary: the
    table build's (cold) ingest, and query latency."""
    out = {}
    for d in st["build"]:
        out[f"ingest_{d['fmt']}_rows_per_s"] = (d["spool"].rows / d["wall_s"], "rows/s")
    out["ingest_batch_p50_s"] = (median(x for d in st["build"] for x in d["batch_s"]), "s")
    _, size = ingest.table_files(st["path"])
    rows = sum(d["rows_out"] for d in st["build"])
    out["table_bytes_per_row"] = (size / max(rows, 1), "B/row")
    lat = [q["wall_s"] for q in st["queries"] if not q["traced"]]
    out["query_p50_s"] = (median(lat), "s")
    if len(lat) >= 200:  # at least ten samples beyond the 95th percentile
        out["query_p95_s"] = (float(np.percentile(lat, 95)), "s")
    return out
