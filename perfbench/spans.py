"""Spans, Spark job accounting and process-tree memory for the benchmark.

Spans are recorded by the benchmark around its calls into each program
layer (the program itself is not instrumented). Each span runs under its
own Spark job group, so the jobs, stages, tasks and failed tasks it
caused can be read back from the status tracker when the run ends.
Spans stay in memory until `Tracer.dump`.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"perfbench-span-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(f"perfbench-span-{self._stack[-1]}",
                                    self.spans[self._stack[-1]]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, module, attr: str, name: str, op_of):
        """Route every call of `module.attr` through a span named `name`
        (op id from `op_of()`); returns a callable that restores it."""
        original = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name, op_of()):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        return lambda: setattr(module, attr, original)

    def count_jobs(self) -> None:
        """Attach jobs/stages/tasks/failed_tasks to every span (self
        counts: jobs a child span caused are the child's). Stages shared by
        several jobs are counted once, for the earliest job."""
        _drain_listener_bus(self.sc)
        tracker = self.sc.statusTracker()
        seen: set[int] = set()
        per_span = []
        for rec in self.spans:
            jobs = sorted(tracker.getJobIdsForGroup(f"perfbench-span-{rec['id']}"))
            per_span.append((rec, jobs))
        for rec, jobs in sorted(per_span, key=lambda p: p[1][0] if p[1] else -1):
            stages = tasks = failed = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in sorted(info.stageIds) if info else ():
                    if sid in seen:
                        continue
                    st = tracker.getStageInfo(sid)
                    if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                        continue  # skipped: its tasks ran for another job
                    seen.add(sid)
                    stages += 1
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
            rec.update(jobs=len(jobs), stages=stages, tasks=tasks,
                       failed_tasks=failed)

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0}
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({**extra, "spans": spans}, fh, indent=1)


def _drain_listener_bus(sc, timeout_s: float = 30.0) -> None:
    """Wait until Spark's listener bus has delivered every job/stage event
    to the status store, so the counts read back are final."""
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty(int(timeout_s * 1000))


def _children(pid_to_ppid: dict[int, int], root: int) -> list[int]:
    out, frontier = [root], [root]
    while frontier:
        parent = frontier.pop()
        kids = [p for p, pp in pid_to_ppid.items() if pp == parent]
        out.extend(kids)
        frontier.extend(kids)
    return out


def _proc_table() -> dict[int, int]:
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows the closing paren
        table[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return table


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak memory of this process and every descendant (the JVM and the
    Python workers it forks): the largest sum, over one sample, of each
    live process's own peak resident set (VmHWM)."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        pids = _children(_proc_table(), os.getpid())
        self.peak_kb = max(self.peak_kb, sum(_hwm_kb(p) for p in pids))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False
