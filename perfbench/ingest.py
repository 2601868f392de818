"""Ingest through the engine's streaming path, and the checks on it.

A drain is one ``run_ingest_once`` of a generated Fluent Bit spool (JSON
lines or msgpack chunk files) into an ``exactly_once_sink`` table with
``IngestMetrics`` on and, for JSON, the dead-letter directory on — the
reference's production configuration. ``logs_query`` builds its table with
drains; the traced run folds them into the decode, stream, metrics and
table-write layer metrics.
"""

from __future__ import annotations

import glob
import os
import time
from contextlib import nullcontext

import duckdb
import numpy as np
import pyarrow as pa

import gen
from common import Bench
from tracing import self_time

FILES_PER_BATCH = 4       # maxFilesPerTrigger: 4 chunk files per micro-batch
BAD_SHARE = 0.01          # malformed JSON lines, all of which must be dead-lettered


class Spool:
    """One generated spool and the malformed lines it carries."""

    def __init__(self, b: Bench, fmt: str, logs: gen.LogSet, name: str,
                 batch_rows: int):
        self.fmt = fmt
        self.path = b.fresh("spool", name)
        self.rows = len(logs)
        self.bad: list[str] = []
        files = max(FILES_PER_BATCH * self.rows // batch_rows, 1)
        if fmt == "json":
            lines, self.bad = gen.json_lines(logs, b.seed, BAD_SHARE)
            gen.write_json_spool(self.path, lines, files)
        else:
            gen.write_msgpack_spool(self.path, logs, files)


def expected_layout(logs: gen.LogSet) -> dict:
    """Per (day, namespace): rows, error rows, latency sum, distinct pods —
    computed by DuckDB over the generator's own records."""
    r = logs.rows()
    con = duckdb.connect()
    con.register("src", pa.table({k: r[k] for k in
                                  ("ts_ms", "namespace", "pod_name", "level", "latency")}))
    rows = con.execute("""
        SELECT CAST(DATE '1970-01-01' + CAST(ts_ms // 86400000 AS INTEGER) AS VARCHAR),
               namespace, count(*), count(*) FILTER (WHERE level = 'error'),
               sum(latency), count(DISTINCT pod_name)
        FROM src GROUP BY 1, 2""").fetchall()
    con.close()
    return {(d, ns): (c, e, s, p) for d, ns, c, e, s, p in rows}


def table_layout(path: str) -> dict:
    """The same summary, read by DuckDB straight from the written table."""
    files = glob.glob(os.path.join(path, "date=*", "*.parquet"))
    if not files:
        return {}
    con = duckdb.connect()
    rows = con.execute("""
        SELECT CAST(date AS VARCHAR), namespace, count(*),
               count(*) FILTER (WHERE map_extract(fields_string, 'content_level')[1] = 'error'),
               sum(map_extract(fields_number, 'content_latency_ms')[1]),
               count(DISTINCT pod_name)
        FROM read_parquet(?, hive_partitioning = true) GROUP BY 1, 2""",
                       [files]).fetchall()
    con.close()
    return {(d, ns): (c, e, s, p) for d, ns, c, e, s, p in rows}


def layouts_equal(got: dict, want: dict) -> tuple[bool, str]:
    if set(got) != set(want):
        return False, f"(day, namespace) keys differ: {len(got)} vs {len(want)}"
    for k, (c, e, s, p) in want.items():
        gc, ge, gs, gp = got[k]
        if (gc, ge, gp) != (c, e, p) or abs(gs - s) > 1e-6 * max(1.0, abs(s)):
            return False, f"{k}: got {got[k]} want {want[k]}"
    return True, ""


def dead_letters(path: str) -> list[str]:
    out = []
    for f in glob.glob(os.path.join(path, "part-*")):
        with open(f) as fh:
            out.extend(line.rstrip("\n") for line in fh)
    return out


def table_files(path: str) -> tuple[int, int]:
    files = glob.glob(os.path.join(path, "date=*", "*.parquet"))
    return len(files), sum(os.path.getsize(f) for f in files)


def offset_sink(sink, first_batch: int):
    """``sink`` with the stream's batch ids shifted by ``first_batch``."""
    if not first_batch:
        return sink
    return lambda df, batch_id: sink(df, batch_id + first_batch)


def drain(b: Bench, spool: Spool, tid: str, traced: bool, table: str,
          first_batch: int = 0) -> dict:
    """One ``run_ingest_once`` of ``spool`` into ``table``, committing its
    micro-batches under table batch ids ``first_batch``, ``first_batch + 1``,
    ... (so several spools can feed one table). Returns the drain's wall
    time, per-batch times (from timestamps taken at each sink return) and
    the engine's own counters."""
    from klogs_spark import stream
    from klogs_spark.metrics import IngestMetrics

    tracer = b.tracer
    ckpt = b.fresh(tid, "ckpt")
    dl = b.fresh(tid, "deadletter") if spool.fmt == "json" else None
    holder: dict = {}
    sink_exits: list[float] = []
    base_sink = offset_sink(stream.exactly_once_sink(table), first_batch)

    # foreachBatch runs on callback threads that keep their job group
    # between batches, so every batch sets (or clears) it at the sink
    def sink(df, batch_id):
        if traced:
            with tracer.span("table.write", parent=holder["span"]):
                base_sink(df, batch_id)
            # the batch processor's next jobs are its IngestMetrics counts
            tracer.group("metrics.instrument", holder["span"])
        else:
            tracer.clear()
            base_sink(df, batch_id)
        sink_exits.append(time.perf_counter())

    class HookedMetrics(IngestMetrics):
        def observe_batch(self, *a, **k):
            super().observe_batch(*a, **k)
            if traced and dl:  # what runs next is the dead-letter pass
                tracer.group("stream.deadletter", holder["span"])

    metrics = HookedMetrics()
    span = tracer.span("stream", trace_id=tid) if traced else nullcontext()
    with span as s:
        holder["span"] = s
        t0 = time.perf_counter()
        if spool.fmt == "json":
            raw = stream.read_json_lines_stream(
                b.spark, spool.path, max_files_per_trigger=FILES_PER_BATCH)
        else:
            raw = stream.read_msgpack_chunk_stream(
                b.spark, spool.path, max_files_per_trigger=FILES_PER_BATCH)
        stream.run_ingest_once(raw, sink, checkpoint_dir=ckpt,
                               dead_letter_dir=dl, metrics=metrics,
                               input_format=spool.fmt)
        t1 = time.perf_counter()
    bounds = [t0] + sink_exits[:-1] + [t1]
    return {
        "fmt": spool.fmt, "tid": tid, "traced": traced, "wall_s": t1 - t0,
        "batch_s": list(np.diff(bounds)) if sink_exits else [t1 - t0],
        "rows_in": metrics.input_records_total,
        "rows_out": int(sum(metrics.batch_sizes)),
        "table": table, "ckpt": ckpt, "dl": dl, "spool": spool,
        "first_batch": first_batch,
    }


def verify_table(b: Bench, table: str, want: dict, drains: list[dict],
                 redrain: bool) -> None:
    """The table holds exactly the valid generated rows per (day,
    namespace); each JSON drain's dead-letter dir holds exactly its spool's
    malformed lines; a second drain on each checkpoint adds nothing."""
    got = table_layout(table)
    ok, why = layouts_equal(got, want)
    b.check("table", ok, why)
    for d in drains:
        if d["dl"]:
            dls = dead_letters(d["dl"])
            b.check(f"{d['tid']}.deadletter", sorted(dls) == sorted(d["spool"].bad),
                    f"{len(dls)} dead letters, {len(d['spool'].bad)} injected")
    if not redrain:
        return
    from klogs_spark import stream
    from klogs_spark.metrics import IngestMetrics

    before = sum(v[0] for v in got.values())
    for d in drains:
        sp = d["spool"]
        if sp.fmt == "json":
            raw = stream.read_json_lines_stream(b.spark, sp.path, FILES_PER_BATCH)
        else:
            raw = stream.read_msgpack_chunk_stream(b.spark, sp.path, FILES_PER_BATCH)
        sink = offset_sink(stream.exactly_once_sink(table), d["first_batch"])
        stream.run_ingest_once(raw, sink, checkpoint_dir=d["ckpt"],
                               dead_letter_dir=d["dl"], metrics=IngestMetrics(),
                               input_format=sp.fmt)
    after = sum(v[0] for v in table_layout(table).values())
    b.check("table.redrain", after == before,
            f"re-drain changed rows {before} -> {after}")


def ingest_layers(ev, drains: list[dict], spans) -> dict:
    """Per-layer metrics of traced drains, per drain (per batch where the
    name says so), from the event log and the benchmark's spans."""
    out = {}
    traced = [d for d in drains if d["traced"]]
    batches = sum(len(d["batch_s"]) for d in traced)
    for fmt in ("json", "msgpack"):
        ds = [d for d in traced if d["fmt"] == fmt]
        n = max(len(ds), 1)
        tids = {d["tid"] for d in ds}
        dec = ev.fold("table.write", scope="MapInPandas", trace_ids=tids)
        out[f"decode.{fmt}.wall_s"] = ev.stage_walls(
            "table.write", "MapInPandas", tids) / n
        out[f"decode.{fmt}.cpu_s"] = (dec.cpu_s + dec.python_s) / n
        out[f"decode.{fmt}.rows_out"] = sum(d["rows_out"] for d in ds) / n
        if fmt == "json":
            out["decode.json.rows_in"] = sum(d["rows_in"] for d in ds) / n
            out["decode.json.rejects"] = sum(
                len(dead_letters(d["dl"])) for d in ds) / n
    n = max(len(traced), 1)
    tids = {d["tid"] for d in traced}
    json_tids = {d["tid"] for d in traced if d["fmt"] == "json"}
    out["stream.batches"] = batches / n
    out["stream.jobs_per_batch"] = ev.job_count(tids) / max(batches, 1)
    overhead = 0.0
    for d in traced:
        top = [s for s in spans if s.trace_id == d["tid"] and s.name == "stream"]
        kids = [(s.start, s.end) for s in spans
                if s.trace_id == d["tid"] and s.name != "stream"]
        kids += [(j["start"], j["end"]) for j in ev.jobs.values()
                 if j["group"] in (f"{d['tid']}|metrics.instrument",
                                   f"{d['tid']}|stream.deadletter")]
        if top:
            overhead += self_time(top[0].start, top[0].end, kids)
    out["stream.overhead_s"] = overhead / max(batches, 1)
    dlf = ev.fold("stream.deadletter", trace_ids=json_tids)
    out["stream.deadletter.cpu_s"] = (dlf.cpu_s + dlf.python_s) / max(len(json_tids), 1)
    mf = ev.fold("metrics.instrument", trace_ids=tids)
    out["metrics.instrument.jobs"] = (
        ev.job_count(tids, "metrics.instrument") / max(batches, 1))
    out["metrics.instrument.cpu_s"] = (mf.cpu_s + mf.python_s) / n
    wf = ev.fold("table.write", without_scope="MapInPandas", trace_ids=tids)
    allw = ev.fold("table.write", trace_ids=tids)
    files = [table_files(t) for t in {d["table"] for d in traced}]
    rows = sum(d["rows_out"] for d in traced)
    out["table.write.wall_s"] = sum(
        s.end - s.start for s in spans
        if s.trace_id in tids and s.name == "table.write") / n
    out["table.write.cpu_s"] = wf.cpu_s / n
    out["table.write.shuffle_bytes"] = allw.shuffle_write_bytes / n
    out["table.write.files"] = sum(f for f, _ in files) / n
    out["table.write.bytes"] = sum(s for _, s in files) / n
    out["table.write.bytes_per_row"] = sum(s for _, s in files) / max(rows, 1)
    return out
