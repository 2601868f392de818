"""Self-test of the benchmark's tracing on a tiny Spark run.

    python3 perfbench/selftest.py

Runs two small jobs under two spans with the event log on, then checks that
the event-log fold attributes tasks, shuffle bytes and Python-worker time
to the right job group, and that span self time is computed correctly.
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

from common import WORK_ROOT, pin_environment, stop_spark


def check(name: str, ok: bool, detail="") -> None:
    if not ok:
        print(f"selftest FAILED: {name} {detail}", file=sys.stderr)
        sys.exit(1)
    print(f"ok  {name}")


def main() -> int:
    from tracing import self_time

    check("self_time without children", self_time(0.0, 10.0, []) == 10.0)
    check("self_time merges overlaps and clips",
          self_time(0.0, 10.0, [(1, 3), (2, 4), (8, 12), (-5, -1)]) == 5.0)

    work = WORK_ROOT / f"selftest-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    event_dir = work / "eventlog"
    pin_environment(work, event_dir)
    from pyspark.sql import SparkSession

    from tracing import EventLog, Tracer, event_log_file

    spark = (SparkSession.builder.master("local[2]")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.ui.enabled", "false").getOrCreate())
    tracer = Tracer(spark.sparkContext, True)
    with tracer.span("shuffle", trace_id="t"):
        spark.range(1000).repartition(3).selectExpr("id % 10 AS k") \
            .groupBy("k").count().collect()
    with tracer.span("python", trace_id="t"):
        spark.range(100).mapInPandas(lambda it: it, "id long").collect()
    untraced = spark.range(10).count()
    stop_spark(spark)

    ev = EventLog(event_log_file(str(event_dir)))
    raw_tasks = {"shuffle": 0, "python": 0}
    with open(event_log_file(str(event_dir))) as fh:
        job_group = {}
        stage_job = {}
        for line in fh:
            e = json.loads(line)
            if e["Event"] == "SparkListenerJobStart":
                job_group[e["Job ID"]] = (e.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in e["Stage IDs"]:
                    stage_job[sid] = e["Job ID"]
            elif e["Event"] == "SparkListenerTaskEnd":
                g = job_group.get(stage_job.get(e["Stage ID"]))
                if g and g.startswith("t|"):
                    raw_tasks[g[2:]] += 1
    sh, py = ev.fold("shuffle"), ev.fold("python")
    check("task counts match the raw TaskEnd events",
          (sh.tasks, py.tasks) == (raw_tasks["shuffle"], raw_tasks["python"]),
          f"{(sh.tasks, py.tasks)} vs {raw_tasks}")
    check("shuffle bytes land in the shuffle group",
          sh.shuffle_write_bytes > 0 and py.shuffle_write_bytes == 0)
    check("python worker time lands in the python group's MapInPandas stage",
          ev.fold("python", scope="MapInPandas").python_s > 0 and sh.python_s == 0)
    check("cpu is measured", sh.cpu_s > 0 and py.cpu_s > 0)
    check("the untraced job has no group",
          untraced == 10 and any(j["group"] is None for j in ev.jobs.values()))
    out = work / "spans.jsonl"
    tracer.write(str(out), ev.jobs)
    rows = [json.loads(line) for line in open(out)]
    spans = [r for r in rows if not str(r["span_id"]).startswith("job")]
    jobs = [r for r in rows if str(r["span_id"]).startswith("job") and r["parent"] is not None]
    check("spans are written with their jobs as children",
          len(spans) == 2 and len(jobs) >= 2
          and all(0 <= s["self_s"] <= s["end"] - s["start"] for s in spans))
    shutil.rmtree(work, ignore_errors=True)
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
