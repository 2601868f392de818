"""klogs-spark benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload {logs_query,corpus_prep} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The benchmark generates its inputs from
``--seed`` under ``.perfbench_work/``, starts one local Spark session with a
core per CPU, sets the inputs up and warms the session up on the same plan
shapes, then runs the workload's operations back to back (one closed-loop
client) until ``--seconds`` of operation time have been measured. Every
operation's output is checked against an independent oracle (DuckDB or
numpy); a failed check makes the run exit non-zero. Times are reported net
of hypervisor steal and at a reference host speed (see README.md).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on Spark's
event log, alternates traced and untraced operations, and prints the
per-layer metrics (see perfbench/README.md). The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

from common import (OUT_ROOT, ROOT, WORK_ROOT, Bench, busy_steal, cpu_times, jit_s,
                    median, ncpus, pin_environment, speed_sample, stop_spark)

WORKLOADS = {"logs_query": "wl_query", "corpus_prep": "wl_corpus"}

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "items_per_s": "1/s",
    "op_p50_s": "s",
    "cpu_ms_per_item": "ms",
    "peak_rss_mb": "MB",
}

SHAPES = ["count_filter", "newest", "histogram", "count_by", "number_stats",
          "log_contains", "context"]
PER_LAYER = {  # name -> unit; every traced run reports all of them
    "decode.json.wall_s": "s", "decode.json.cpu_s": "s",
    "decode.json.rows_in": "rows", "decode.json.rows_out": "rows",
    "decode.json.rejects": "rows",
    "decode.msgpack.wall_s": "s", "decode.msgpack.cpu_s": "s",
    "decode.msgpack.rows_out": "rows",
    "stream.batches": "count", "stream.jobs_per_batch": "count",
    "stream.overhead_s": "s", "stream.deadletter.cpu_s": "s",
    "metrics.instrument.jobs": "count", "metrics.instrument.cpu_s": "s",
    "table.write.wall_s": "s", "table.write.cpu_s": "s",
    "table.write.shuffle_bytes": "B", "table.write.files": "count",
    "table.write.bytes": "B", "table.write.bytes_per_row": "B/row",
    "table.read.files_per_query": "count", "table.read.bytes_per_query": "B",
    "table.read.rows_examined_per_row_returned": "ratio",
    "table.read.tasks_per_query": "count", "manifest.check_s": "s",
    **{f"query.{s}.p50_s": "s" for s in SHAPES},
    "query.plan_s": "s", "query.cpu_s": "s",
    "text.quality.cpu_s": "s", "text.quality.kept_ratio": "ratio",
    "text.decontam.cpu_s": "s",
    "dedup.exact.cpu_s": "s", "dedup.exact.shuffle_bytes": "B",
    "dedup.exact.removed_ratio": "ratio", "dedup.simhash.cpu_s": "s",
    "dedup.pairs.cpu_s": "s", "dedup.pairs.candidates": "count",
    "dedup.pairs.found": "count", "dedup.pairs.useful_ratio": "ratio",
    "dedup.pairs.task_skew": "ratio", "dedup.pairs.shuffle_bytes": "B",
    **{f"{w}.{m}": u for w in WORKLOADS for m, u in
       (("gc_s", "s"), ("spill_bytes", "B"))},
    "session.start_s": "s", "setup.generate_s": "s",
    "setup.table_build_s": "s", "setup.warmup_s": "s",
    "trace.overhead_s": "s", "trace.overhead_share": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def timed_loop(b: Bench, wl, st: dict) -> dict:
    """Run operations back to back until ``b.seconds`` of operation time
    are measured. Traced runs run at least four cycles of operations in the
    order untraced, traced, traced, untraced, so the tracing overhead is
    measured in-run without the warm-up drift favouring either side."""
    from tracing import descendants, tree_cpu_s

    res = {"ops": [], "kinds": defaultdict(lambda: {False: [], True: []}),
           "untraced": defaultdict(lambda: {"rate": [], "lat": [], "cpu": []}),
           "speed": []}
    min_ops = wl.CYCLE * (4 if b.trace else 1)
    measured, i = 0.0, 0
    # stop only at the end of a cycle, so every run has the same mix
    while measured < b.seconds or i < min_ops or i % wl.CYCLE:
        traced = b.trace and (i // wl.CYCLE) % 4 in (1, 2)
        sample = speed_sample(i)
        res["speed"].append(sample)
        c0 = tree_cpu_s(descendants(os.getpid()))
        j0 = jit_s(b.spark)
        m0 = cpu_times()
        b.attempted += 1
        try:
            r = wl.op(b, st, i, traced)
        except Exception:  # a failed operation counts; the run goes on
            b.failed += 1
            b.failures.append(f"op {i}: {traceback.format_exc()}"[-800:])
            i += 1
            if b.failed > 3:
                break
            continue
        c1 = tree_cpu_s(descendants(os.getpid()))
        j1 = jit_s(b.spark)
        m1 = cpu_times()
        if r.get("check"):
            r["check"]()
        measured += r["wall"]
        res["kinds"][r["kind"]][traced].append(r["wall"])
        # (kind, traced, wall s, process-tree cpu s, stolen share of busy
        # cpu, JIT compile s, host-speed sample s just before)
        res["ops"].append((r["kind"], traced, round(r["wall"], 4), round(c1 - c0, 3),
                           round(busy_steal(m0, m1), 4), round(j1 - j0, 3),
                           round(sample, 5)))
        if not traced:
            # wall time net of the hypervisor's steal (see README)
            keep = 1.0 - busy_steal(m0, m1)
            u = res["untraced"][r["kind"]]
            u["rate"].append(r["items"] / (r["wall"] * keep))
            u["lat"].extend(x * keep for x in r["lat"])
            # net of the JIT compilers' time, which drifts for minutes
            u["cpu"].append(1e3 * ((c1 - c0) - (j1 - j0)) / r["items"])
        i += 1
    return res


# The host-speed sample's time on the reference host; times are reported as
# they would be on a host where it takes this long (see common.speed_sample).
SPEED_REF_S = 0.020
# Both workloads' operation times and CPU per item grow as the sample's time
# to this power: fitted over 33 runs per workload that spanned a two-fold
# host slowdown (1.33 and 1.31 for operation time, 1.30 and 1.22 for CPU).
SPEED_POWER = 1.3


def per_kind(res: dict, key: str) -> float:
    """Median of ``key`` within each operation kind, averaged over the
    kinds: a fixed mix stays comparable however the samples fall."""
    kinds = res["untraced"].values()
    return statistics.fmean(median(u[key]) for u in kinds) if kinds else 0.0


def probes(spark, work: str) -> dict:
    """ROADMAP's four calibration probes (cpu, shuffle, scan, python), no
    engine code, reported beside the metrics as box context. They run on
    the warm session after the timed loop."""
    def t(fn):
        t0 = time.perf_counter()
        fn()
        return round(time.perf_counter() - t0, 4)

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(work, "probe.parquet")
    ids = np.arange(20_000)
    pq.write_table(pa.table({"id": ids, "q": ids % 97,
                             "x": np.random.default_rng(7).random(len(ids))}), path)
    return {
        "cpu_s": t(lambda: spark.range(200_000).selectExpr(
            "sum(id * 3 % 7)", "count(distinct id % 1024)").collect()),
        "shuffle_s": t(lambda: spark.range(20_000).repartition(8, "id")
                       .selectExpr("sum(id % 97)").collect()),
        "scan_s": t(lambda: spark.read.parquet(path).filter("q > 25")
                    .selectExpr("sum(x)", "count(distinct q)").collect()),
        "python_s": t(lambda: spark.read.parquet(path).select("id", "x")
                      .mapInPandas(lambda it: it, "id long, x double")
                      .selectExpr("sum(x)").collect()),
    }


def time_calls(b: Bench, module, name: str) -> None:
    """Record the wall time of every call to ``module.name``."""
    fn = getattr(module, name)
    calls = b.calls.setdefault(f"{module.__name__.split('.')[-1]}.{name}", [])

    def timed(*a, **k):
        t0 = time.perf_counter()
        try:
            return fn(*a, **k)
        finally:
            calls.append(time.perf_counter() - t0)

    setattr(module, name, timed)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "klogs_spark" / "__init__.py").is_file():
        print(f"perfbench: no klogs_spark package under {ROOT}; run from the "
              "root of a klogs-spark checkout", file=sys.stderr)
        return 2
    wl = importlib.import_module(WORKLOADS[args.workload])
    work = WORK_ROOT / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    OUT_ROOT.mkdir(exist_ok=True)
    event_dir = work / "eventlog" if args.trace else None
    pin_environment(work, event_dir)
    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        return run(b, wl, event_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(b: Bench, wl, event_dir) -> int:
    from tracing import EventLog, Tracer, descendants, event_log_file, hwm_mb

    spark = None
    try:
        with b.phase("session"):
            from klogs_spark.session import get_spark

            spark = b.spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        b.tracer = Tracer(spark.sparkContext, b.trace)
        if b.trace:
            from klogs_spark import manifest

            time_calls(b, manifest, "snapshot_versions")
        st = wl.setup(b)
        setup_s = sum(b.setup_net.values())
        t_loop = time.perf_counter()
        cpu0 = cpu_times()
        res = timed_loop(b, wl, st)
        b.notes["steal_share"] = busy_steal(cpu0, cpu_times())
        b.notes["host_speed"] = (SPEED_REF_S / median(res["speed"])) ** SPEED_POWER
        procs = hwm_mb(descendants(os.getpid()))
        rss = sum(mb for _, mb in procs.values())
        b.notes["peak_rss_by_process"] = sorted(procs.values())
        b.attempted += 1
        t0 = time.perf_counter()
        try:
            wl.finish(b, st)
        except Exception:
            b.failed += 1
            b.failures.append(f"finish: {traceback.format_exc()}"[-800:])
        b.notes["loop_s"] = t0 - t_loop
        b.notes["finish_s"] = time.perf_counter() - t0
        box = probes(spark, str(b.work))
        stop_spark(spark)
        spark = None
    finally:
        if spark is not None:
            stop_spark(spark)

    if b.trace:
        ev = EventLog(event_log_file(str(event_dir)))
        metrics = {k: 0.0 for k in PER_LAYER}
        metrics.update(wl.layers(b, st, ev))
        whole = ev.fold()
        metrics[f"{b.workload}.gc_s"] = whole.gc_s
        metrics[f"{b.workload}.spill_bytes"] = whole.spill_bytes
        metrics["session.start_s"] = b.setup.get("session", 0.0)
        for ph in ("generate", "table_build", "warmup"):
            metrics[f"setup.{ph}_s"] = b.setup.get(ph, 0.0)
        over = [(median(v[True]), median(v[False]))
                for v in res["kinds"].values() if v[True] and v[False]]
        metrics["trace.overhead_s"] = median(t - u for t, u in over)
        metrics["trace.overhead_share"] = median(t / u - 1 for t, u in over if u > 0)
        units = PER_LAYER
        b.tracer.write(str(OUT_ROOT / f"{b.workload}-seed{b.seed}-spans.jsonl"),
                       ev.jobs)
    else:
        speed = b.notes["host_speed"]
        metrics = {  # at the reference host speed
            "setup_s": setup_s * speed,
            "items_per_s": per_kind(res, "rate") / speed,
            "op_p50_s": per_kind(res, "lat") * speed,
            "cpu_ms_per_item": per_kind(res, "cpu") * speed,
            "peak_rss_mb": rss,
        }
        units = END_TO_END
    named = wl.extra(st)
    summary = {
        "workload": b.workload, "seed": b.seed, "cpus": ncpus(), "setup": b.setup,
        "setup_net_of_steal": b.setup_net,
        "ops": res["ops"], **b.notes, "probes": box, "failures": b.failures,
        "failed_share": b.failed / max(b.attempted, 1),
        **{k: v for k, (v, _u) in named.items()},
    }
    with open(OUT_ROOT / f"{b.workload}-seed{b.seed}-trace{int(b.trace)}.json", "w") as fh:
        json.dump({"summary": summary, "metrics": metrics}, fh, indent=1, default=str)
    for f in b.failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(f"# probes {json.dumps(box)}")
    for name, (v, unit) in named.items():
        print(f"# {name} {v:.6g} {unit}")
    print(f"# failed_share {summary['failed_share']:.6g} ratio")
    result = {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if b.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
