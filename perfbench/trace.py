"""Traced mode: spans around the calls into each layer, attributed to
Spark work through job groups and the event log.

- :class:`Tracer` keeps spans in memory (name, start, end, parent,
  job group). Entering a span sets the span's id as the Spark job
  group of the calling thread, so every Spark job a layer submits
  carries its span. Streaming queries run their jobs under the
  query's run id as group; :meth:`Tracer.alias` maps it to a span.
- :func:`parse_event_log` reads Spark's JSON event log into per-job
  task totals plus the job → group / SQL execution links.
- :func:`sql_metrics` reads the SQL metric values of finished
  executions from the session's SQL status store (the event log
  carries the plans but not the SQL metric values).
- :func:`progress_listener` records streaming progress events.
- :func:`attribute` folds job totals into per-span inclusive totals;
  :func:`self_time` is a span's duration minus its children's cover.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from collections import defaultdict

# task totals kept per job, and the per-span metric each one feeds
TASK_FIELDS = (
    "tasks",
    "tasks_failed",
    "run_s",
    "cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "io_read_bytes",
    "io_write_bytes",
)
SPAN_METRICS = {
    "exec.jobs": "jobs",
    "exec.tasks": "tasks",
    "exec.run_s": "run_s",
    "exec.cpu_s": "cpu_s",
    "exec.gc_s": "gc_s",
    "exec.cpu_util": "cpu_util",
    "exec.tasks_failed": "tasks_failed",
    "shuffle.write_bytes": "shuffle_write_bytes",
    "shuffle.read_bytes": "shuffle_read_bytes",
    "spill.bytes": "spill_bytes",
    "io.read_bytes": "io_read_bytes",
    "io.write_bytes": "io_write_bytes",
}
# plan nodes that ship rows to Python workers
PYTHON_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
                "FlatMapGroupsInPandas", "FlatMapGroupsInArrow", "FlatMapCoGroupsInPandas",
                "AggregateInPandas", "WindowInPandas", "PythonMapInArrow")


class Tracer:
    """In-memory span recorder. Disabled, :meth:`span` only yields."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.aliases: dict[str, int] = {}
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span_id: int | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span_id is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"pb{span_id}", self.spans[span_id]["name"])

    def begin(self, name: str) -> int | None:
        if not self.enabled:
            return None
        stack = self._stack()
        # a pool thread's first span hangs under the main thread's span
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "parent": parent, "start": time.time(),
                 "end": None, "group": f"pb{sid}", "thread": threading.current_thread().name}
            )
        stack.append(sid)
        self._set_group(sid)
        return sid

    def end(self, sid: int | None) -> None:
        if sid is None:
            return
        self.spans[sid]["end"] = time.time()
        stack = self._stack()
        if sid in stack:
            del stack[stack.index(sid):]
        self._set_group(stack[-1] if stack else None)

    @contextlib.contextmanager
    def span(self, name: str):
        sid = self.begin(name)
        try:
            yield sid
        finally:
            self.end(sid)

    def alias(self, group: str, sid: int | None) -> None:
        """Attribute jobs of an external job group (a streaming query's
        run id) to span ``sid``."""
        if sid is not None:
            self.aliases[group] = sid

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]


def _zero() -> dict:
    return {f: 0 for f in TASK_FIELDS}


def parse_event_log(path: str) -> dict:
    """Event log → {"jobs": {job_id: {group, exec_id, batch_id,
    totals}}, "plans": {exec_id: final sparkPlanInfo}}. Task totals
    come from SparkListenerTaskEnd "Task Metrics"; a task whose end
    reason is not Success counts in tasks_failed."""
    stage_job: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    plans: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jid = e["Job ID"]
                exec_id = props.get("spark.sql.execution.id")
                batch = props.get("streaming.sql.batchId")
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "exec_id": int(exec_id) if exec_id is not None else None,
                    "batch_id": int(batch) if batch is not None else None,
                    "totals": _zero(),
                }
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif ev == "SparkListenerTaskEnd":
                jid = stage_job.get(e["Stage ID"])
                if jid is None:
                    continue
                t = jobs[jid]["totals"]
                t["tasks"] += 1
                if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                    t["tasks_failed"] += 1
                m = e.get("Task Metrics") or {}
                t["run_s"] += m.get("Executor Run Time", 0) / 1e3
                t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                t["io_read_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                t["io_write_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            elif ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
                plans[e["executionId"]] = e["sparkPlanInfo"]
    return {"jobs": jobs, "plans": plans}


def sql_metrics(spark, exec_ids) -> dict[int, dict[int, int]]:
    """{exec_id: {accumulator id: value}} for finished executions,
    read from the session's SQL status store. Only plain counts are
    parsed (``"1,234"``); timing and size metrics are skipped."""
    jvm = spark._jvm
    store = spark._jsparkSession.sharedState().statusStore()
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    out: dict[int, dict[int, int]] = {}
    for eid in exec_ids:
        try:
            vals = conv.asJava(store.executionMetrics(eid))
        except Exception:  # py4j error: execution evicted from the store
            continue
        parsed = {}
        for k in vals.keySet():
            v = str(vals.get(k)).replace(",", "")
            if v.isdigit():
                parsed[int(k)] = int(v)
        out[eid] = parsed
    return out


def _walk(node):
    yield node
    for c in node.get("children", []):
        yield from _walk(c)


def _rows_metric(node) -> int | None:
    for m in node.get("metrics", []):
        if m["name"] in ("number of output rows", "records read"):
            return m["accumulatorId"]
    return None


def _child_rows(node, values: dict[int, int]) -> int:
    """Rows a node consumed: the first descendant (through codegen
    wrappers) that counts its output rows."""
    for c in node.get("children", []):
        for n in _walk(c):
            acc = _rows_metric(n)
            if acc is not None and acc in values:
                return values[acc]
    return 0


def python_rows_in(plan, values: dict[int, int]) -> int:
    return sum(
        _child_rows(n, values)
        for n in _walk(plan)
        if n["nodeName"].startswith(PYTHON_NODES)
    )


def filter_rows(plan, values: dict[int, int], needle: str) -> tuple[int, int]:
    """(rows in, rows out) of Filter nodes whose condition mentions
    ``needle``."""
    rin = rout = 0
    for n in _walk(plan):
        if n["nodeName"] == "Filter" and needle in n.get("simpleString", ""):
            acc = _rows_metric(n)
            rout += values.get(acc, 0) if acc is not None else 0
            rin += _child_rows(n, values)
    return rin, rout


def attribute(tracer: Tracer, jobs: dict) -> dict[int, dict]:
    """Per-span INCLUSIVE totals: a job counts in the span of its group
    and in every ancestor of that span."""
    by_group = {s["group"]: s["id"] for s in tracer.spans}
    by_group.update(tracer.aliases)
    out: dict[int, dict] = defaultdict(lambda: {**_zero(), "jobs": 0, "exec_ids": set()})
    for job in jobs.values():
        sid = by_group.get(job["group"])
        while sid is not None:
            acc = out[sid]
            acc["jobs"] += 1
            for f in TASK_FIELDS:
                acc[f] += job["totals"][f]
            if job["exec_id"] is not None:
                acc["exec_ids"].add(job["exec_id"])
            sid = tracer.spans[sid]["parent"]
    return out


def self_time(tracer: Tracer, sid: int) -> float:
    """Span duration minus the union of its children's intervals."""
    s = tracer.spans[sid]
    kids = sorted(
        (max(c["start"], s["start"]), min(c["end"], s["end"]))
        for c in tracer.spans
        if c["parent"] == sid and c["end"] is not None
    )
    covered, cur_s, cur_e = 0.0, None, None
    for a, b in kids:
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (s["end"] - s["start"]) - covered


def progress_listener():
    """A StreamingQueryListener recording every progress event as a
    dict. Built on call: the pyspark base class needs a live session."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            with self._lock:
                self.progress.append(
                    {"run_id": str(p.runId), "batch_id": p.batchId,
                     "rows": p.numInputRows, "duration_ms": dict(p.durationMs)}
                )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()
