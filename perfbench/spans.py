"""Spans and Spark counters.

A span is (name, start, end, parent, run id) plus counters. Spans are
kept in memory and written as JSON lines when the benchmark ends.

In a traced run every timed phase runs under its own Spark job group
(``<op>|<pass>|<phase>``); an untraced run sets one group per pass.
Spark passes a job group only to threads started with
``pyspark.InheritableThread``, so jobs that the engine launches from
plain worker threads carry no group. The benchmark is Spark's only
client and runs one operation at a time, so every job without a group
that appears while a span is open belongs to the innermost open span:
``Recorder`` sweeps them in at each span boundary. A span's jobs,
stages and tasks are read through ``SparkContext.statusTracker()``.
Shuffle and spill bytes are not exposed there, so they come from
Spark's event log, per job, parsed after the session stops.
"""

from __future__ import annotations

import contextlib
import json
import os
import time


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all
    its live descendants — the JVM and its Python workers — including
    descendants they have already reaped. Time the hypervisor steals
    from the machine is not counted, so unlike wall time this does not
    swing with other tenants' load."""
    me = os.getpid()
    kids: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(name)
        stats[pid] = fields
        kids.setdefault(int(fields[1]), []).append(pid)
    t = os.times()
    total = t.user + t.system
    todo = list(kids.get(me, []))
    while todo:
        pid = todo.pop()
        f = stats[pid]
        total += sum(int(x) for x in f[11:15]) / _TICK
        todo.extend(kids.get(pid, []))
    return total


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the JVM's JIT-compiler threads. The
    benchmark starts the JVM with a fixed set of compiler threads, so
    none exits and takes its CPU time with it."""
    total = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        head, fields = raw.rsplit(")", 1)
        if "CompilerThre" in head:
            fields = fields.split()
            total += int(fields[11]) + int(fields[12])
    return total / _TICK


class Recorder:
    def __init__(self, run_id: str, traced: bool):
        self.run_id = run_id
        self.traced = traced
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None
        self._seen: set[int] = set()

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext
        self._seen = set()

    def _tracker(self):
        # The status store is fed by Spark's asynchronous listener bus;
        # drain it so every job and task so far is visible.
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        return self._sc.statusTracker()

    def sweep(self) -> list[int]:
        """Jobs without a group that started since the last sweep."""
        ids = set(self._tracker().getJobIdsForGroup(None)) - self._seen
        self._seen |= ids
        return sorted(ids)

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        """Time a block; with a ``group`` in a traced run, also tag the
        block's Spark jobs and count them when it ends."""
        parent = self._stack[-1] if self._stack else None
        s = {
            "name": name,
            "run": self.run_id,
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            **attrs,
        }
        counting = self.traced and group is not None and self._sc is not None
        if counting:
            # Ungrouped jobs so far belong to the enclosing counted span.
            ids = self.sweep()
            outer = self._outer()
            if outer is not None:
                outer["ungrouped"] += ids
            s["group"] = group
            s["ungrouped"] = []
            self._sc.setJobGroup(group, name)
        self.spans.append(s)
        self._stack.append(s)
        cpu0 = tree_cpu_s() if counting else 0.0
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            if counting:
                s["cpu"] = tree_cpu_s() - cpu0
            self._stack.pop()
            if counting:
                s.update(self.job_counts(group, s.pop("ungrouped")))
                outer = self._outer()
                if outer is not None:
                    self._sc.setJobGroup(outer["group"], "")
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)

    def _outer(self) -> dict | None:
        return next((p for p in reversed(self._stack) if "group" in p), None)

    def job_counts(self, group: str, ungrouped=()) -> dict:
        """Jobs, stages and tasks of ``group``, plus the given and the
        newly swept jobs without a group. A stage that several of these
        jobs share is counted once; a skipped stage (its shuffle output
        reused) not at all."""
        ids = set(ungrouped) | set(self.sweep())
        tracker = self._sc.statusTracker()
        ids |= set(tracker.getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        for jid in ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = failed = 0
        for sid in stage_ids:
            st = tracker.getStageInfo(sid)
            if st is None or st.numCompletedTasks == 0:
                continue
            stages += 1
            tasks += st.numCompletedTasks
            failed += st.numFailedTasks
        return {
            "jobs": len(ids),
            "stages": stages,
            "tasks": tasks,
            "failed_tasks": failed,
            "job_ids": sorted(ids),
        }

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def eventlog_bytes(path: str) -> dict[int, dict[str, int]]:
    """Shuffle read / write and spill bytes per job, summed from the
    task-end events of one application's event log. A stage belongs to
    the first job that lists it; later jobs that list it reuse its
    output."""
    out: dict[int, dict[str, int]] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            if '"SparkListenerJobStart"' in line:
                ev = json.loads(line)
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, ev["Job ID"])
            elif '"SparkListenerTaskEnd"' in line:
                ev = json.loads(line)
                jid = stage_job.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if jid is None or not m:
                    continue
                acc = out.setdefault(jid, {"shuffle_read": 0, "shuffle_write": 0, "spill": 0})
                r = m.get("Shuffle Read Metrics", {})
                acc["shuffle_read"] += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                acc["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                acc["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return out
