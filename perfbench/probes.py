"""Measurement taken from outside the program.

Nothing here changes a module of ``mongraph_spark``.  Spans are recorded
around the benchmark's own calls into each layer; the one call it cannot
see from outside, ``pregel.iterate``, is reached through the module
attribute every query uses, so a wrapper installed on that attribute sees
every loop.  Spark's own counts come from its status stores, read after
the listener bus has drained, so micro-batch jobs that run under a
stream's job group are counted too.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from typing import Any

from py4j.protocol import Py4JJavaError


class Tracer:
    """Spans plus Spark status-store diffs, kept in memory.

    With ``enabled=False`` every method is a no-op, so untraced runs pay
    nothing but a function call per op.  ``overhead_s`` is the time the
    tracer spent on its own bookkeeping: span records, listener-bus
    drains and status-store reads.
    """

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict[str, Any]] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._lock = threading.Lock()
        if enabled:
            jsc = spark.sparkContext._jsc.sc()
            self._app_store = jsc.statusStore()
            self._bus = jsc.listenerBus()
            self._sql_store = spark._jsparkSession.sharedState().statusStore()
            self._bus.waitUntilEmpty()
            self._last_job = self._max_job_id()
            self._last_exec = self._max_execution_id()

    def mark(self) -> None:
        """Start the next ``spark_delta`` here.  Jobs and SQL executions
        that ran since the previous delta (set-up, warm-up, result checks,
        building the next op's input) are skipped, not charged to the next
        op."""
        if not self.enabled:
            return
        t_in = time.perf_counter()
        self._bus.waitUntilEmpty()
        jid = self._last_job + 1
        while self._has_job(jid):
            jid += 1
        self._last_job = jid - 1
        self._last_exec = self._max_execution_id()
        self.overhead_s += time.perf_counter() - t_in

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str, op_id: int | None = None, **attrs: Any):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        with self._lock:
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            if op_id is None and parent is not None:
                op_id = self.spans[parent]["op"]
            rec = {"id": sid, "name": name, "parent": parent, "op": op_id, **attrs}
            self.spans.append(rec)
            self._stack.append(sid)
        self.overhead_s += time.perf_counter() - t_in
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            with self._lock:
                self._stack.pop()

    def add_span(
        self, name: str, start: float, end: float, op_id: int | None, parent: int | None,
        **attrs: Any,
    ) -> None:
        """A span measured elsewhere (a stream's progress report)."""
        if self.enabled:
            with self._lock:
                self.spans.append(
                    {"id": len(self.spans), "name": name, "parent": parent, "op": op_id,
                     "start": start, "end": end, **attrs}
                )

    # -- Spark status stores --------------------------------------------------

    def _has_job(self, jid: int) -> bool:
        try:
            self._app_store.job(jid)
        except Py4JJavaError:  # NoSuchElementException: no job with this id yet
            return False
        return True

    def _max_job_id(self) -> int:
        jobs = self._app_store.jobsList(None)
        n = jobs.size()
        return max((jobs.apply(i).jobId() for i in range(n)), default=-1)

    def _max_execution_id(self) -> int:
        ex = self._sql_store.executionsList()
        n = ex.size()
        return max((ex.apply(i).executionId() for i in range(n)), default=-1)

    def spark_delta(self, t0: float, t1: float) -> dict[str, float]:
        """Counts for every job and SQL execution since the previous call
        or ``mark``.

        ``t0``/``t1`` are the op's wall-clock bounds; ``driver_gap_s`` is the
        part of that interval that no Spark job covered."""
        if not self.enabled:
            return {}
        t_in = time.perf_counter()
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_cpu_s", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes", "broadcast_joins",
             "sort_merge_joins", "driver_gap_s"),
            0.0,
        )
        intervals: list[tuple[float, float]] = []
        stage_ids: set[int] = set()
        jid = self._last_job + 1
        while True:
            try:
                job = self._app_store.job(jid)
            except Py4JJavaError:  # NoSuchElementException: no job with this id yet
                break
            out["jobs"] += 1
            out["tasks"] += job.numTasks()
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0))
            ids = job.stageIds()
            for i in range(ids.size()):
                stage_ids.add(ids.apply(i))
            jid += 1
        self._last_job = jid - 1
        for sid in stage_ids:
            try:
                st = self._app_store.lastStageAttempt(sid)
            except Py4JJavaError:  # the stage was evicted from the store
                continue
            if str(st.status().toString()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        ex = self._sql_store.executionsList()
        newest = self._last_exec
        for i in range(ex.size()):
            e = ex.apply(i)
            eid = e.executionId()
            if eid <= self._last_exec:
                continue
            newest = max(newest, eid)
            bhj, smj = count_joins(e.physicalPlanDescription())
            out["broadcast_joins"] += bhj
            out["sort_merge_joins"] += smj
        self._last_exec = newest
        out["driver_gap_s"] = max(0.0, (t1 - t0) - covered(intervals, t0, t1))
        self.overhead_s += time.perf_counter() - t_in
        return out


def count_joins(plan: str) -> tuple[int, int]:
    """Broadcast-hash and sort-merge joins in an executed plan's tree.

    Only the tree at the top of the description counts (the per-node
    detail sections repeat every name), and under AQE only its final plan."""
    tree = plan.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    lines = tree.splitlines()
    return (
        sum("BroadcastHashJoin" in ln for ln in lines),
        sum("SortMergeJoin" in ln for ln in lines),
    )


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class PregelProbe:
    """Times every ``mongraph_spark.pregel.iterate`` call while installed.

    Queries call the loop as ``pregel.iterate(...)``, so replacing the
    module attribute is enough; ``uninstall`` restores the original."""

    def __init__(self, tracer: Tracer) -> None:
        from mongraph_spark import pregel

        self._mod = pregel
        self._orig = pregel.iterate
        self.tracer = tracer
        self.calls = 0
        self.rounds = 0
        self.seconds = 0.0

        def iterate(*args, **kwargs):
            t0 = time.perf_counter()
            with tracer.span("pregel.iterate") as rec:
                state, rounds = self._orig(*args, **kwargs)
                if rec is not None:
                    rec["rounds"] = rounds
            self.calls += 1
            self.rounds += rounds
            self.seconds += time.perf_counter() - t0
            return state, rounds

        pregel.iterate = iterate

    def reset(self) -> None:
        self.calls, self.rounds, self.seconds = 0, 0, 0.0

    def uninstall(self) -> None:
        self._mod.iterate = self._orig


def stream_listener(spark, sink: list):
    """Register a StreamingQueryListener that appends one dict per
    micro-batch progress report to ``sink``; returns the listener."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append(
                {
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                    "end": time.time(),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Progress()
    spark.streams.addListener(listener)
    return listener


def wait_for_listeners(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def process_tree() -> dict[str, float]:
    """This process and every live descendant (the Spark driver JVM and any
    Python workers), read from ``/proc``: summed ``VmHWM`` in MiB and
    summed user+system CPU seconds."""
    children: dict[int, list[int]] = {}
    cpu: dict[int, float] = {}
    tick = os.sysconf("SC_CLK_TCK")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        children.setdefault(int(fields[1]), []).append(int(d))
        cpu[int(d)] = (int(fields[11]) + int(fields[12])) / tick
    total_kb, cpu_s, todo = 0, 0.0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        cpu_s += cpu.get(pid, 0.0)
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return {"peak_rss_mb": total_kb / 1024.0, "cpu_s": cpu_s}


def host_ticks() -> tuple[int, int]:
    """Steal and total CPU ticks of the whole machine since boot, from
    ``/proc/stat``.  In a virtual machine, steal is the time the host ran
    something else on this machine's CPUs, which slows every op alike."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def self_times(spans: list[dict[str, Any]], op_ids: set[int]) -> dict[str, float]:
    """Total self time per span name over the spans of ``op_ids``: a span's
    duration minus the part of it its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.get("parent") is not None and "end" in sp:
            kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out: dict[str, float] = {}
    for sp in spans:
        if sp.get("op") not in op_ids or "end" not in sp:
            continue
        own = (sp["end"] - sp["start"]) - covered(kids.get(sp["id"], []), sp["start"], sp["end"])
        out[sp["name"]] = out.get(sp["name"], 0.0) + max(0.0, own)
    return out
