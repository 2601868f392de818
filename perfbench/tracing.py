"""Tracing for the benchmark: spans, Spark job groups, the event-log fold,
and process metrics read from /proc.

Spans are recorded only around calls the benchmark makes into the engine's
public functions (or, inside foreachBatch, around the sink and metrics hooks
the benchmark passes in). Each span sets a Spark job group
``<trace_id>|<layer>`` so that every job it starts can be attributed from
the event log. The event log is read with the stdlib JSON parser, which is
why the session is started with ``spark.eventLog.compress=false``.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# --- spans -----------------------------------------------------------------


@dataclass
class Span:
    span_id: int
    name: str
    trace_id: str
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing and set no
    job groups, so the untraced path pays one attribute check per call."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, trace_id: str | None = None,
             parent: Span | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        up = parent or (stack[-1] if stack else None)
        tid = trace_id or (up.trace_id if up else name)
        with self._lock:
            s = Span(len(self.spans), name, tid, up.span_id if up else None,
                     time.time())
            self.spans.append(s)
        stack.append(s)
        self.sc.setJobGroup(f"{tid}|{name}", name)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            if stack:
                self.sc.setJobGroup(f"{stack[-1].trace_id}|{stack[-1].name}",
                                    stack[-1].name)
            else:
                self.clear()

    def clear(self) -> None:
        """Drop this thread's job group, so that untraced work on a thread
        a traced operation used is not attributed to it."""
        if self.enabled:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def group(self, layer: str, within: Span | None) -> None:
        """Attribute the jobs this thread starts next to ``layer`` without
        opening a span (for engine-internal jobs found by call site)."""
        if self.enabled and within is not None:
            self.sc.setJobGroup(f"{within.trace_id}|{layer}", layer)

    def write(self, path: str, jobs: dict | None = None) -> None:
        """Write spans as JSON lines with self times. The event log's jobs
        become child spans: of the span that set their group, or, for a
        group set without a span, of their trace's root span."""
        rows = [dict(s.__dict__) for s in self.spans]
        owner = {}
        for s in self.spans:
            owner.setdefault(f"{s.trace_id}|{s.name}", s)
            if s.parent is None:
                owner.setdefault(s.trace_id, s)
        for jid, j in (jobs or {}).items():
            g = j["group"] or ""
            o = owner.get(g) or owner.get(g.split("|")[0])
            rows.append({"span_id": f"job{jid}", "name": f"job:{g}",
                         "trace_id": o.trace_id if o else None,
                         "parent": o.span_id if o else None,
                         "start": j["start"], "end": j["end"]})
        kids = defaultdict(list)
        for r in rows:
            if r["parent"] is not None:
                kids[r["parent"]].append((r["start"], r["end"]))
        with open(path, "w") as fh:
            for r in rows:
                r["self_s"] = self_time(r["start"], r["end"],
                                        kids.get(r["span_id"], []))
                fh.write(json.dumps(r) + "\n")


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """Span duration minus the part of it that child spans cover."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(end - start - covered, 0.0)


# --- event log -------------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class Fold:
    """TaskEnd metrics summed over a set of stages."""

    cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    python_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: list = field(default_factory=list)

    @property
    def task_max_s(self) -> float:
        return max(self.task_s, default=0.0)

    @property
    def task_median_s(self) -> float:
        return statistics.median(self.task_s) if self.task_s else 0.0


class EventLog:
    """Jobs, stages, tasks and SQL metrics of one application's event log."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.stage_tasks: dict[int, Fold] = defaultdict(Fold)
        self.accum_node: dict[int, tuple[str, str]] = {}
        self.exec_accums: dict[int, dict[int, int]] = defaultdict(lambda: defaultdict(int))
        self.exec_group: dict[int, str] = {}
        self._stage_job: dict[int, int] = {}
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    ex = props.get("spark.sql.execution.id")
                    group = props.get("spark.jobGroup.id")
                    self.jobs[e["Job ID"]] = {
                        "group": group, "start": e["Submission Time"] / 1e3,
                        "end": None, "stages": e["Stage IDs"],
                        "exec": int(ex) if ex is not None else None,
                    }
                    for sid in e["Stage IDs"]:
                        self._stage_job[sid] = e["Job ID"]
                    if ex is not None and group:
                        self.exec_group.setdefault(int(ex), group)
                elif kind == "SparkListenerJobEnd":
                    self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    scopes = set()
                    for r in si.get("RDD Info", []):
                        if r.get("Scope"):
                            scopes.add(json.loads(r["Scope"])["name"])
                    self.stages[si["Stage ID"]] = {
                        "job": self._stage_job.get(si["Stage ID"]), "scopes": scopes,
                        "tasks": si["Number of Tasks"],
                        "wall_s": (si.get("Completion Time", 0)
                                   - si.get("Submission Time", 0)) / 1e3,
                    }
                elif kind == "SparkListenerTaskEnd":
                    self._task(e)
                elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                              _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                    self._plan(e["sparkPlanInfo"])
                elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                    acc = self.exec_accums[e["executionId"]]
                    for aid, v in e["accumUpdates"]:
                        acc[aid] += v
        # jobs with no completion (cannot happen after a clean stop) end at start
        for j in self.jobs.values():
            j["end"] = j["end"] or j["start"]

    def _plan(self, node: dict) -> None:
        for m in node.get("metrics", []):
            self.accum_node[m["accumulatorId"]] = (node["nodeName"], m["name"])
        for c in node.get("children", []):
            self._plan(c)

    def _task(self, e: dict) -> None:
        m = e.get("Task Metrics")
        if not m:
            return
        f = self.stage_tasks[e["Stage ID"]]
        f.tasks += 1
        f.cpu_s += m["Executor CPU Time"] / 1e9
        f.run_s += m["Executor Run Time"] / 1e3
        f.gc_s += m["JVM GC Time"] / 1e3
        f.input_bytes += m["Input Metrics"]["Bytes Read"]
        sr = m["Shuffle Read Metrics"]
        f.shuffle_read_bytes += sr["Local Bytes Read"] + sr["Remote Bytes Read"]
        f.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        f.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
        info = e["Task Info"]
        f.task_s.append((info["Finish Time"] - info["Launch Time"]) / 1e3)
        job = self.jobs.get(self._stage_job.get(e["Stage ID"]))
        ex = job["exec"] if job is not None else None
        for a in info.get("Accumulables", []):
            if a.get("Name") == "time to run Python workers":
                f.python_s += int(a.get("Update", 0)) / 1e9
            if ex is not None and not str(a.get("Name", "")).startswith("internal."):
                try:
                    self.exec_accums[ex][a["ID"]] += int(a.get("Update", 0))
                except (TypeError, ValueError):
                    pass

    # -- queries over the log --
    def layer_of(self, group: str | None) -> str | None:
        return group.split("|", 1)[1] if group and "|" in group else None

    def fold(self, layer: str | None = None, scope: str | None = None,
             without_scope: str | None = None, trace_ids=None) -> Fold:
        """Sum the stages of every job whose group names ``layer`` (any
        group when None), keeping stages whose operators include ``scope``
        and dropping those that include ``without_scope``."""
        out = Fold()
        for sid, st in self.stages.items():
            job = self.jobs.get(st["job"])
            if job is None:
                continue
            g = job["group"]
            if layer is not None and self.layer_of(g) != layer:
                continue
            if trace_ids is not None and (not g or g.split("|")[0] not in trace_ids):
                continue
            if scope and scope not in st["scopes"]:
                continue
            if without_scope and without_scope in st["scopes"]:
                continue
            t = self.stage_tasks.get(sid)
            if t is None:
                continue
            out.stages += 1
            for k in ("cpu_s", "run_s", "gc_s", "python_s", "input_bytes",
                      "shuffle_read_bytes", "shuffle_write_bytes",
                      "spill_bytes", "tasks"):
                setattr(out, k, getattr(out, k) + getattr(t, k))
            out.task_s.extend(t.task_s)
        return out

    def stage_walls(self, layer: str, scope: str, trace_ids) -> float:
        """Summed wall time of the stages of ``layer`` that run ``scope``."""
        total = 0.0
        for st in self.stages.values():
            g = (self.jobs.get(st["job"]) or {}).get("group")
            if (scope in st["scopes"] and self.layer_of(g) == layer
                    and g.split("|")[0] in trace_ids):
                total += st["wall_s"]
        return total

    def job_count(self, trace_ids, layer: str | None = None) -> int:
        """Jobs run under the given traces (and layer, when named)."""
        return sum(1 for j in self.jobs.values()
                   if j["group"] and j["group"].split("|")[0] in trace_ids
                   and (layer is None or self.layer_of(j["group"]) == layer))

    def stages_of(self, layer: str, trace_ids) -> list[int]:
        return [sid for sid, st in self.stages.items()
                if self.layer_of((self.jobs.get(st["job"]) or {}).get("group")) == layer
                and self.jobs[st["job"]]["group"].split("|")[0] in trace_ids]

    def sql_metric(self, group: str, node_prefix: str, metric: str) -> int:
        """Sum of one SQL metric over the plan nodes named ``node_prefix*``
        in every SQL execution run under job group ``group``."""
        total = 0
        for ex, g in self.exec_group.items():
            if g != group:
                continue
            for aid, v in self.exec_accums.get(ex, {}).items():
                node, name = self.accum_node.get(aid, ("", ""))
                if node.startswith(node_prefix) and name == metric:
                    total += v
        return total


def skew(f: Fold) -> float:
    """max/median task time of the busiest stage set (1.0 when even)."""
    med = f.task_median_s
    return f.task_max_s / med if med > 0 else 1.0


def event_log_file(directory: str) -> str:
    files = [os.path.join(directory, n) for n in os.listdir(directory)
             if not n.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {files}")
    return files[0]


# --- /proc ------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    children = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """utime+stime of each process plus its reaped children."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def hwm_mb(pids: list[int]) -> dict[int, tuple[str, float]]:
    """Peak resident set (VmHWM, MB) and command name of each of ``pids``."""
    out = {}
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[p] = (fields["Name"].strip(), int(fields["VmHWM"].split()[0]) / 1024.0)
    return out
