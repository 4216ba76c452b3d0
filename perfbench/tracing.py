"""Tracing for the benchmark: in-memory spans plus counters read from
Spark's own status store and from the host.

Nothing here touches the program under test. Spans wrap the benchmark's
calls into the public functions of each layer; the counters come from
the REST API of the session's own UI (``/stages``, ``/sql?details=true``),
from the driver JVM's GC beans, from ``/proc`` and from
``StreamingQuery.lastProgress``.
"""

from __future__ import annotations

import json
import os
import re
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    """Spans kept in memory and written out once, at the end of the run.

    A span records name, start, end, parent and the run id, plus any
    counters attached to it. With ``enabled=False`` every call is a no-op
    so the untraced passes run the same benchmark code.
    """

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {
            "name": name,
            "run_id": self.run_id,
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "start": time.monotonic(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]


# --- Spark status store (REST) ---------------------------------------------

_DUR_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _duration_total(text: str) -> float:
    """Seconds in the total of a formatted SQL timing metric: '950 ms' or
    'total (min, med, max (stageId: taskId))\n3.0 s (...)'."""
    m = re.match(r"\s*([\d.,]+)\s*(ms|s|m|h)\b", text.split("\n", 1)[-1])
    return float(m.group(1).replace(",", "")) * _DUR_UNITS[m.group(2)] if m else 0.0


class StatusStore:
    """Reads the session's UI REST API; attributes stages and SQL
    executions to a span by id range (the benchmark submits its jobs from
    one thread, so ids grow with wall time)."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so the
        store reflects all finished jobs."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        self.drain()
        stages = self._get("stages")
        sql = self._get("sql?details=false&length=100000")
        return (
            max((s["stageId"] for s in stages), default=-1),
            max((e["id"] for e in sql), default=-1),
        )

    def since(self, mark: tuple[int, int]) -> dict:
        """Counters of the stages and SQL executions after ``mark``."""
        self.drain()
        stage_min, sql_min = mark
        stages = [s for s in self._get("stages") if s["stageId"] > stage_min]
        sql = [
            e
            for e in self._get("sql?details=true&length=100000")
            if e["id"] > sql_min
        ]
        out = {
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "shuffle_fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in stages) / 1e3,
            "failed_tasks": sum(s["numFailedTasks"] for s in stages),
            "python_worker_s": 0.0,
        }
        for e in sql:
            for node in e.get("nodes", []):
                if "EvalPython" not in node["nodeName"]:
                    continue
                for m in node["metrics"]:
                    if m["name"] == "time to run Python workers":
                        out["python_worker_s"] += _duration_total(m["value"])
        return out


# --- session-wide counters ---------------------------------------------------


def jvm_gc_s(spark) -> float:
    """Cumulative GC time of the driver JVM (the executor, in local mode)."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1e3


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice.
    return fields[7], sum(fields[:8])


def steal_ratio(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def _children(pid: int) -> list[int]:
    out = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def tree_peak_rss_bytes(root: int) -> int:
    """Sum of the peak resident set (VmHWM) of ``root`` and every
    descendant still alive: this process, the JVM and its Python workers."""
    total, todo, seen = 0, [root], set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
            todo.extend(_children(pid))
        except OSError:
            continue
    return total
