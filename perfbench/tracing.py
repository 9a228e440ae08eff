"""Spans and per-layer counters, recorded from the benchmark's own calls.

A span is (name, start, end, parent, op id), kept in memory and written
out once at the end of a run. Counters are read at the same boundaries
and keyed ``"<span name>:<counter>"``:

* ``jobs``, ``stages``, ``tasks``, ``shuffle_read_bytes``,
  ``shuffle_write_bytes``, ``spill_bytes``, ``scan_bytes``,
  ``write_bytes`` — from the
  status store, for the jobs the span ran (each span inside an op runs
  under its own job group);
* ``executions``, ``plan_ms``, ``plan_chars`` — per query execution that
  finished inside the span, from its ``QueryPlanningTracker``; the
  executions arrive through a ``QueryExecutionListener`` registered over
  py4j, and their Catalyst phases become child spans;
* ``output_rows`` and the Python-stage SQL metrics (``python_init_ms``,
  ``python_total_ms``, ``python_bytes_sent``, ``python_bytes_received``)
  — walked from each execution's final (AQE) physical plan.

None of this is installed during an untraced op: the listener is
registered only from ``begin_op`` to ``end_op`` of a traced one, and
:class:`NullTracer` keeps the op loop identical apart from the calls it
skips. A traced run interleaves untraced and traced ops, so both see the
same JVM warm-up and the difference between them is the tracing overhead.
"""

from __future__ import annotations

import json
import queue
import time
from collections import defaultdict
from contextlib import contextmanager

PYTHON_METRICS = {
    "pythonInitTime": "python_init_ms",
    "pythonTotalTime": "python_total_ms",
    "pythonDataSent": "python_bytes_sent",
    "pythonDataReceived": "python_bytes_received",
}


class NullTracer:
    """An untraced op: no listener, no job groups, no spans."""

    enabled = False

    @contextmanager
    def span(self, name):
        yield

    def begin_op(self, op_id):
        pass

    def end_op(self):
        return {}


class _QueryListener:
    """py4j proxy for ``org.apache.spark.sql.util.QueryExecutionListener``;
    the listener bus thread calls it after every finished execution."""

    def __init__(self):
        self.events: queue.Queue = queue.Queue()

    def onSuccess(self, func_name, qe, duration_ns):
        self.events.put(qe)

    def onFailure(self, func_name, qe, exception):
        self.events.put(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _scala_iter(it):
    while it.hasNext():
        yield it.next()


def _plan_nodes(plan):
    """Pre-order walk of a physical plan through AQE wrappers and query
    stages, so the metrics of the plan that actually ran are reached."""
    stack = [plan]
    while stack:
        node = stack.pop()
        yield node
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            kids = [node.executedPlan()]
        elif cls.endswith("QueryStageExec"):
            kids = [node.plan()]
        else:
            seq = node.children()
            kids = [seq.apply(i) for i in range(seq.size())]
        stack.extend(reversed(kids))


class Tracer:
    """Records spans and per-op counters for one Spark session."""

    enabled = True

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.sc = spark.sparkContext
        self._jspark = spark._jsparkSession
        self.t0 = time.time()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: str | None = None
        self._groups: dict[str, str] = {}
        self._group_stack: list[str] = []
        self._counts: dict[str, float] = defaultdict(float)
        ensure_callback_server_started(self.sc._gateway)
        self._listener = _QueryListener()
        # py4j makes a new Java proxy each time a Python object is passed,
        # and unregister() would not find the registered one; pass it
        # once, through a list, and keep the Java reference
        holder = self.sc._gateway.jvm.java.util.ArrayList()
        holder.add(self._listener)
        self._jlistener = holder.get(0)

    def _add(self, name, start, end, parent):
        self.spans.append(
            {
                "name": name,
                "start": round(start - self.t0, 6),
                "end": round(end - self.t0, 6),
                "parent": parent,
                "op": self._op,
            }
        )
        return len(self.spans) - 1

    def record(self, name: str, start: float, end: float) -> None:
        """Add a finished root span timed outside the tracer (wall-clock
        seconds), such as the set-up phases that ran before it existed."""
        self._add(name, start, end, None)

    def _set_group(self, group):
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, name):
        parent = self._stack[-1] if self._stack else None
        now = time.time()
        idx = self._add(name, now, now, parent)
        self._stack.append(idx)
        traced = self._op is not None
        if traced:
            group = f"{self._op}/{len(self._groups)}"
            self._groups[group] = name
            self._group_stack.append(group)
            self._set_group(group)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = round(time.time() - self.t0, 6)
            if traced:
                self._group_stack.pop()
                self._set_group(
                    self._group_stack[-1] if self._group_stack else None
                )
                self._drain_executions(name, idx)

    def begin_op(self, op_id: str) -> None:
        self._op = op_id
        self._groups = {}
        self._group_stack = []
        self._counts = defaultdict(float)
        # events of earlier, untraced executions must not reach the listener
        self._flush()
        self._jspark.listenerManager().register(self._jlistener)

    def end_op(self) -> dict[str, float]:
        """Close the op and return its counters (status-store reads wait
        for the listener bus, so every finished job is accounted)."""
        self._flush()
        self._jspark.listenerManager().unregister(self._jlistener)
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        c = self._counts
        for group, name in self._groups.items():
            for jid in st.getJobIdsForGroup(group):
                c[f"{name}:jobs"] += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Exception:  # skipped stage, never registered
                        continue
                    if sd.status().toString() != "COMPLETE":
                        continue
                    c[f"{name}:stages"] += 1
                    c[f"{name}:tasks"] += sd.numTasks()
                    c[f"{name}:shuffle_read_bytes"] += sd.shuffleReadBytes()
                    c[f"{name}:shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    c[f"{name}:spill_bytes"] += (
                        sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    )
                    c[f"{name}:scan_bytes"] += sd.inputBytes()
                    c[f"{name}:write_bytes"] += sd.outputBytes()
        self._set_group(None)
        self._op = None
        return dict(c)

    def _flush(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _drain_executions(self, span_name: str, span_idx: int) -> None:
        self._flush()
        c = self._counts
        while True:
            try:
                qe = self._listener.events.get_nowait()
            except queue.Empty:
                return
            c[f"{span_name}:executions"] += 1
            for kv in _scala_iter(qe.tracker().phases().iterator()):
                phase = kv._2()
                c[f"{span_name}:plan_ms"] += phase.durationMs()
                self._add(
                    f"catalyst.{kv._1()}",
                    phase.startTimeMs() / 1000.0,
                    phase.endTimeMs() / 1000.0,
                    span_idx,
                )
            c[f"{span_name}:plan_chars"] += len(qe.optimizedPlan().toString())
            rows_seen = False
            for node in _plan_nodes(qe.executedPlan()):
                for kv in _scala_iter(node.metrics().iterator()):
                    key = kv._1()
                    if key in PYTHON_METRICS:
                        c[f"{span_name}:{PYTHON_METRICS[key]}"] += kv._2().value()
                    elif key == "numOutputRows" and not rows_seen:
                        c[f"{span_name}:output_rows"] += kv._2().value()
                        rows_seen = True

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"t0": self.t0, "spans": self.spans}, fh)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name, minus the part of each span its children
    cover (children of one parent do not overlap: one client thread)."""
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for i, s in enumerate(spans):
        out[s["name"]] += max(s["end"] - s["start"] - child_time[i], 0.0)
    return dict(out)
