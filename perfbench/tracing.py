"""Spans, the memory sampler and the host fingerprint.

Spans are kept in memory and written once, when the run ends. Each has a
name, start and end (epoch seconds), its parent span and free-form
attributes; all spans of one run share the run's id. SQL executions are
added as spans with the submission and completion times the status store
recorded for them.
"""

from __future__ import annotations

import json
import os
import platform
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec["attrs"]
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """A finished span under the current one (e.g. a SQL execution)."""
        self.spans.append(
            {
                "id": len(self.spans),
                "parent": self._stack[-1] if self._stack else None,
                "name": name,
                "start": start,
                "end": end,
                "attrs": attrs,
            }
        )

    def write(self, path: str, **extra) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **extra, "spans": self.spans}, f, indent=1)


def _parent_of(pid: str) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # the command name may hold spaces: fields resume after ")"
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def _cpu_seconds(pid: int) -> float:
    """User plus system time of ``pid`` and of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    # fields[0] is the state (stat field 3): utime..cstime are fields 14-17
    return sum(int(x) for x in fields[11:15]) / os.sysconf("SC_CLK_TCK")


def tree_cpu_seconds() -> float:
    """CPU seconds used so far by this process's descendants: the driver
    JVM and its Python workers. Time the hypervisor takes from the vCPUs
    does not count, so on a shared host this is steadier than wall time."""
    return sum(_cpu_seconds(p) for p in descendants(os.getpid()))


def host_cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of all vCPUs since boot, from /proc/stat.
    Stolen ticks are those the hypervisor gave to other guests while a
    vCPU had work: on a shared host they slow every timing in a run."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    # user nice system idle iowait irq softirq steal
    return t[0] + t[1] + t[2] + t[5] + t[6], t[7]


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Stolen share of the vCPU time the run wanted between two readings."""
    busy, stolen = after[0] - before[0], after[1] - before[1]
    return 100 * stolen / (busy + stolen) if busy + stolen else 0.0


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            parent = _parent_of(entry)
            if parent is not None:
                children.setdefault(parent, []).append(int(entry))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


class RssSampler:
    """Peak summed RSS of this process's descendants: the driver JVM and
    the Python workers it forks (the benchmark's own interpreter, which
    also hosts DuckDB, is not counted)."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval_s):
            total = sum(_rss_bytes(p) for p in descendants(me))
            self.peak = max(self.peak, total)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def _mem_total_mb() -> float:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return round(int(line.split()[1]) / 1024, 1)
    except OSError:
        pass
    return 0.0


def host_fingerprint(nproc: int, control_ms: float) -> dict:
    """Stamped on every record so numbers from different hosts are never
    compared silently. ``control_ms`` is the median time of a fixed Spark
    query that does not touch the program."""
    import duckdb
    import pyarrow
    import pyspark

    return {
        "nproc": nproc,
        "cpu_model": _cpu_model(),
        "mem_total_mb": _mem_total_mb(),
        "loadavg": os.getloadavg(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "control_query_ms": round(control_ms, 2),
    }
