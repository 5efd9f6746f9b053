"""Spans, wrappers and the external readers the traced run uses.

Everything here observes the engine from outside: spans are recorded by
wrapping public functions (the wrapper replaces the module attribute, so
calls resolved at run time go through it), Spark-level work is read from
the event log Spark writes, and host state from ``/proc``.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """In-memory span recorder. Spans carry name, start, end, parent
    span and the id of the pass or batch they belong to; nothing is
    written until :meth:`dump`. A disabled tracer records nothing, so
    the same code path serves untraced and traced passes."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.active = enabled
        self.spans: list[dict] = []
        # foreachBatch sinks run on py4j callback threads: keep one
        # parent stack per thread
        self._local = threading.local()
        self.pass_id: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": stack[-1] if stack else None,
            "name": name,
            "pass": self.pass_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, pass_id: str) -> None:
        """Record a finished top-level span given in epoch seconds (for
        work timed by Spark, such as a streaming batch)."""
        shift = time.perf_counter() - time.time()
        self.spans.append({"id": len(self.spans), "parent": None, "name": name,
                           "pass": pass_id, "start": start + shift,
                           "end": end + shift})

    def wrap(self, modules, attr: str, name: str) -> None:
        """Replace ``attr`` on every module in ``modules`` (the defining
        module plus any that bound the name at import) by a spanned
        wrapper around the original function."""
        if not self.enabled:
            return
        for mod in modules:
            orig = getattr(mod, attr)

            def wrapper(*a, _orig=orig, **kw):
                with self.span(name):
                    return _orig(*a, **kw)

            setattr(mod, attr, wrapper)

    def self_times(self) -> list[dict]:
        """Each closed span with its self time: duration minus the part
        of its interval its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, last = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                if c["end"] is None:
                    continue
                lo, hi = max(c["start"], last), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    last = hi
            dur = s["end"] - s["start"]
            out.append({**s, "dur": dur, "self": dur - covered})
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(self.self_times(), indent=0))


def median(xs) -> float:
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------ event log
def event_log_metrics(log_dir: Path) -> dict[str, float]:
    """Task-level totals from the Spark event log of this run."""
    run = cpu = gc = sr = sw = inp = 0.0
    tasks = 0
    for f in sorted(p for p in log_dir.rglob("*") if p.is_file()):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                m = json.loads(line).get("Task Metrics") or {}
                tasks += 1
                run += m.get("Executor Run Time", 0) / 1e3
                cpu += m.get("Executor CPU Time", 0) / 1e9
                gc += m.get("JVM GC Time", 0) / 1e3
                r = m.get("Shuffle Read Metrics") or {}
                sr += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                sw += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                inp += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return {
        "spark.executor_run_s": run,
        "spark.executor_cpu_s": cpu,
        "spark.gc_s": gc,
        "spark.shuffle_read_bytes": sr,
        "spark.shuffle_write_bytes": sw,
        "spark.input_bytes": inp,
        "spark.tasks": tasks,
    }


# ------------------------------------------------------------ host state
def steal_ticks() -> int:
    with open("/proc/stat", encoding="ascii") as fh:
        fields = fh.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def steal_seconds(start_ticks: int) -> float:
    return (steal_ticks() - start_ticks) / os.sysconf("SC_CLK_TCK")


def load1() -> float:
    with open("/proc/loadavg", encoding="ascii") as fh:
        return float(fh.read().split()[0])


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
