"""Tracing from outside the library: spans, /proc CPU, Spark event log.

Spans are recorded by wrappers that the benchmark installs around the
library's public functions and methods (``Tracer.wrap``); nothing in
``tumult_core_spark`` knows about them.  Spans live in memory and are
written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import sys
import time
from typing import Any, Callable, Dict, List, Optional

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """In-memory span recorder with installable wrappers.

    A span is ``{name, start, end, parent, op}``: ``parent`` is the
    index of the enclosing span (None at top level) and ``op`` the id
    of the op that was running."""

    def __init__(self) -> None:
        self.spans: List[dict] = []
        self.counters: Dict[str, float] = {}
        self.op: Optional[int] = None
        self._stack: List[int] = []
        self._undo: List[Callable[[], None]] = []

    def begin(self, name: str) -> int:
        idx = len(self.spans)
        self.spans.append(
            {
                "name": name,
                "start": time.perf_counter(),
                "end": None,
                "parent": self._stack[-1] if self._stack else None,
                "op": self.op,
            }
        )
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx]["end"] = time.perf_counter()
        self._stack.pop()

    def count(self, name: str, amount: float = 1) -> None:
        self.counters[name] = self.counters.get(name, 0) + amount

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield
        finally:
            self.end(idx)

    def _wrapper(self, name: str, fn: Callable, on_return=None) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if on_return is not None:
                on_return(tracer, args, out)
            return out

        return traced

    def wrap_function(self, module, attr: str, name: str, on_return=None) -> None:
        """Wrap ``module.attr`` and every alias of it that other loaded
        ``tumult_core_spark`` modules imported by name."""
        original = getattr(module, attr)
        traced = self._wrapper(name, original, on_return)
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(
                "tumult_core_spark"
            ):
                continue
            for key, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, key, traced)
                    self._undo.append(
                        lambda m=mod, k=key, v=original: setattr(m, k, v)
                    )

    def wrap_method(self, cls: type, attr: str, name: str, on_return=None) -> None:
        """Wrap ``cls.attr`` when ``cls`` defines it itself."""
        if attr not in vars(cls):
            return
        original = vars(cls)[attr]
        setattr(cls, attr, self._wrapper(name, original, on_return))
        self._undo.append(lambda: setattr(cls, attr, original))

    def uninstall(self) -> None:
        while self._undo:
            self._undo.pop()()

    def dump(self, path: str, **extra) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counters": self.counters, **extra}, fh)


def all_subclasses(cls: type) -> List[type]:
    out, todo = [], [cls]
    while todo:
        for sub in todo.pop().__subclasses__():
            if sub not in out:
                out.append(sub)
                todo.append(sub)
    return out


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------


def _stat_fields(pid: int) -> Optional[List[str]]:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def proc_cpu_s(pid: int, children: bool = False) -> float:
    """User+system CPU seconds of ``pid`` (plus its reaped children)."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _CLK_TCK


def descendants(root: int) -> List[int]:
    """Every live process below ``root`` in the process tree."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(int(entry))
            if f is not None:
                parent[int(entry)] = int(f[1])
    out, frontier = [], {root}
    while frontier:
        nxt = {p for p, pp in parent.items() if pp in frontier}
        out.extend(nxt)
        frontier = nxt
    return out


def python_workers_cpu_s(jvm_pid: int) -> float:
    """CPU of the Python worker processes the JVM forked (the pyspark
    daemon counts its reaped workers in its children's time)."""
    return sum(proc_cpu_s(p, children=True) for p in descendants(jvm_pid))


def reset_peak_rss(pid: int) -> None:
    """Set the process's peak RSS (VmHWM) back to its current RSS."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def parse_event_log(directory: str, app_id: str) -> Dict[str, dict]:
    """Per job group: jobs, stages, tasks, job intervals (epoch s) and
    summed task metrics, from the application's event log."""
    paths = glob.glob(os.path.join(directory, app_id + "*"))
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {directory}")
    job_group: Dict[int, str] = {}
    job_start: Dict[int, float] = {}
    stage_group: Dict[int, str] = {}
    groups: Dict[str, dict] = {}

    def group(name: str) -> dict:
        return groups.setdefault(
            name,
            {
                "jobs": 0, "stages": set(), "tasks": 0, "intervals": [],
                "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
                "input_mb": 0.0, "shuffle_read_mb": 0.0,
                "shuffle_write_mb": 0.0, "fetch_wait_s": 0.0,
            },
        )

    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                name = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if name is None:
                    continue
                jid = ev["Job ID"]
                job_group[jid] = name
                job_start[jid] = ev["Submission Time"] / 1000.0
                group(name)["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = name
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_group:
                    group(job_group[jid])["intervals"].append(
                        (job_start[jid], ev["Completion Time"] / 1000.0)
                    )
            elif kind == "SparkListenerTaskEnd":
                name = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if name is None or not m:
                    continue
                g = group(name)
                g["tasks"] += 1
                g["stages"].add(ev["Stage ID"])
                g["executor_run_s"] += m["Executor Run Time"] / 1e3
                g["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                g["gc_s"] += m["JVM GC Time"] / 1e3
                g["input_mb"] += m["Input Metrics"]["Bytes Read"] / 2**20
                sr = m["Shuffle Read Metrics"]
                g["shuffle_read_mb"] += (
                    sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                ) / 2**20
                g["fetch_wait_s"] += sr["Fetch Wait Time"] / 1e3
                g["shuffle_write_mb"] += (
                    m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 2**20
                )
    for g in groups.values():
        g["stages"] = len(g["stages"])
    return groups


def jvm_pid(spark: Any) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
