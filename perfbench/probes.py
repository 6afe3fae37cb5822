"""Measurement helpers: host-contention probes, process-tree memory
sampling, in-memory spans, and Spark event-log accounting."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

# ------------------------------------------------------------- host ---
def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_times() -> list[int]:
    """Host-wide jiffies from /proc/stat: user, nice, system, idle, iowait,
    irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between:
    time this host could not run at all, so timings stretch with it."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) > 0 else 0.0


def serial_kernel_rate(pdf) -> float:
    """No-Spark rows/s of the single-process oracle (the same kernels the
    Spark stages run) over a fixed slice, after a warm pass. A drop here
    with unchanged code means a contended host."""
    from spardaqus_spark import oracle
    from spardaqus_spark.config import default_config

    cfg = default_config()
    oracle.run(pdf.head(64), cfg)  # model training + first-touch
    t0 = time.perf_counter()
    oracle.run(pdf, cfg)
    return len(pdf) / (time.perf_counter() - t0)


# ----------------------------------------------------------- memory ---
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes mapping it (forked Python workers share most of
    their pages with the daemon)."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    raise OSError(f"no Pss for {pid}")


def tree_pss_bytes(root: int) -> tuple[int, int]:
    """(summed PSS, process count) of ``root`` and all its descendants."""
    kids = _children()
    total, n, todo = 0, 0, [root]
    while todo:
        pid = todo.pop()
        try:
            total += _pss_bytes(pid)
        except (OSError, ValueError):
            continue
        n += 1
        todo.extend(kids.get(pid, ()))
    return total, n


class PeakMemory:
    """Context manager sampling the memory (summed PSS) of a process tree
    every ``interval`` seconds on a background thread; ``peak`` is in bytes."""

    def __init__(self, root_pid: int, interval: float = 0.05):
        self.root_pid = root_pid
        self.interval = interval
        self.peak = 0
        self.procs = 0  # processes in the tree at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        pss, n = tree_pss_bytes(self.root_pid)
        if pss > self.peak:
            self.peak, self.procs = pss, n

    def _loop(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


# ------------------------------------------------------------ spans ---
@dataclass
class Span:
    name: str
    start: float  # epoch seconds (comparable with Spark event-log times)
    end: float = 0.0
    parent: int | None = None
    id: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory spans of one run; written out once by ``dump``."""

    run_id: str
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str):
        return _SpanCtx(self, name)

    def get(self, name: str) -> Span:
        return next(s for s in reversed(self.spans) if s.name == name)

    def dur(self, name: str) -> float:
        return self.get(name).dur

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.spans if s.name == name)

    def self_times(self) -> dict[str, float]:
        """Span duration minus the union of its children's intervals."""
        out = {}
        for s in self.spans:
            kids = sorted((c.start, c.end) for c in self.spans if c.parent == s.id)
            covered, cur_end = 0.0, s.start
            for a, b in kids:
                a = max(a, cur_end)
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s.name] = out.get(s.name, 0.0) + s.dur - covered
        return out

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        selft = self.self_times()
        path.write_text(json.dumps({
            "run_id": self.run_id,
            "spans": [
                {"id": s.id, "name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "run_id": self.run_id}
                for s in self.spans
            ],
            "self_s": selft,
        }, indent=1))


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self) -> Span:
        t = self.t
        s = Span(self.name, time.time(), parent=t._stack[-1] if t._stack else None,
                 id=len(t.spans))
        t.spans.append(s)
        t._stack.append(s.id)
        self.s = s
        return s

    def __exit__(self, *exc) -> None:
        self.s.end = time.time()
        self.t._stack.pop()


# --------------------------------------------------------- event log ---
def _python_nodes(node: dict | None, depth: int, out: list[tuple[int, int]]) -> None:
    if not node:
        return
    if node.get("nodeName") == "MapInPandas":
        for mt in node.get("metrics", []):
            if mt.get("name") == "number of output rows":
                out.append((depth, int(mt["accumulatorId"])))
    for ch in node.get("children", []):
        _python_nodes(ch, depth + 1, out)


@dataclass
class Task:
    stage: int
    launch: float  # epoch seconds
    finish: float
    shuffle_write: int
    spill: int
    gc_ms: float
    cpu_ns: float
    accums: dict[int, int]


class EventLog:
    """Task-level accounting from one Spark event-log file. Tasks are
    attributed to a span by launch time, which works for jobs submitted
    from any thread (the streaming query's foreachBatch included)."""

    def __init__(self, path: Path):
        self.tasks: list[Task] = []
        # "number of output rows" accumulators of the deepest MapInPandas
        # of every plan: the scoring stage, which emits one row per input
        self.scoring_accums: set[int] = set()
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerTaskEnd":
                    self._task(ev)
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    found: list[tuple[int, int]] = []
                    _python_nodes(ev.get("sparkPlanInfo"), 0, found)
                    if found:
                        deepest = max(d for d, _ in found)
                        self.scoring_accums.update(a for d, a in found if d == deepest)

    def _task(self, ev: dict) -> None:
        info, m = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
        accums = {}
        for a in info.get("Accumulables", []):
            try:
                accums[int(a["ID"])] = int(a["Update"])
            except (KeyError, TypeError, ValueError):
                continue
        sw = m.get("Shuffle Write Metrics") or {}
        self.tasks.append(Task(
            stage=int(ev.get("Stage ID", -1)),
            launch=info.get("Launch Time", 0) / 1000.0,
            finish=info.get("Finish Time", 0) / 1000.0,
            shuffle_write=int(sw.get("Shuffle Bytes Written", 0)),
            spill=int(m.get("Disk Bytes Spilled", 0)),
            gc_ms=float(m.get("JVM GC Time", 0)),
            cpu_ns=float(m.get("Executor CPU Time", 0)),
            accums=accums,
        ))

    def within(self, span: Span) -> list[Task]:
        return [t for t in self.tasks if span.start <= t.launch <= span.end]

    @staticmethod
    def totals(tasks: list[Task]) -> dict[str, float]:
        return {
            "shuffle_write_bytes": sum(t.shuffle_write for t in tasks),
            "spill_bytes": sum(t.spill for t in tasks),
            "gc_s": sum(t.gc_ms for t in tasks) / 1000.0,
            "executor_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
            "tasks": len(tasks),
        }

    def scoring_rows(self, tasks: list[Task]) -> int:
        """Rows fed to the scoring stage by ``tasks``."""
        ids = self.scoring_accums
        return sum(v for t in tasks for a, v in t.accums.items() if a in ids)

    @staticmethod
    def heaviest_stage(tasks: list[Task]) -> tuple[float, int]:
        """(max / median task time, task count) of the stage with the most
        task time."""
        by_stage: dict[int, list[float]] = {}
        for t in tasks:
            by_stage.setdefault(t.stage, []).append(t.finish - t.launch)
        if not by_stage:
            return 0.0, 0
        times = max(by_stage.values(), key=sum)
        med = statistics.median(times)
        return (max(times) / med if med > 0 else 0.0), len(times)
