"""Spans recorded around the benchmark's calls into grokspark, and the
fold of Spark's event log into per-window totals."""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path
from typing import Iterable, Optional


@dataclass
class Span:
    id: int
    name: str
    parent: Optional[int]
    run_id: str
    start: float  # wall clock, seconds since the epoch
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; spans nest by call order on one thread."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        s = Span(
            id=len(self.spans),
            name=name,
            parent=self._stack[-1] if self._stack else None,
            run_id=self.run_id,
            start=time.time(),
        )
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps([asdict(s) for s in self.spans], indent=1))


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its
    child spans cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        reach = s.start
        for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, reach), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s.id] = s.seconds - covered
    return out


def fold_event_log(lines: Iterable[str], t0: float, t1: float, cores: int) -> dict:
    """Totals over the Spark jobs submitted in the wall-clock window
    ``[t0, t1]`` (seconds since the epoch) of one event log.
    ``spark.core_busy_ratio`` is executor run time over window x cores;
    ``spark.task_skew_max`` is the largest max/median task run time of
    any stage with at least two tasks."""
    # event-log times are epoch milliseconds; a stage or task counts
    # only if it started inside the window, so a stage a job lists but
    # skips (computed by an earlier job) adds nothing
    lo, hi = t0 * 1000, t1 * 1000
    stages: set[int] = set()
    jobs = 0
    ran: set[int] = set()
    task_ms: dict[int, list[float]] = {}
    tot = {
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "spill_bytes": 0,
        "input_bytes": 0,
        "output_bytes": 0,
        "python_bytes_sent": 0,
        "python_bytes_received": 0,
    }
    python_acc = {
        "data sent to Python workers": "python_bytes_sent",
        "data returned from Python workers": "python_bytes_received",
    }
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if lo <= ev["Submission Time"] <= hi:
                jobs += 1
                stages.update(ev["Stage IDs"])
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if info["Stage ID"] in stages and info.get("Submission Time", 0) >= lo:
                ran.add(info["Stage ID"])
        elif (
            kind == "SparkListenerTaskEnd"
            and ev["Stage ID"] in stages
            and ev["Task Info"]["Launch Time"] >= lo
        ):
            m = ev.get("Task Metrics") or {}
            run_ms = m.get("Executor Run Time", 0)
            task_ms.setdefault(ev["Stage ID"], []).append(run_ms)
            tot["executor_run_s"] += run_ms / 1e3
            tot["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            sw = m.get("Shuffle Write Metrics", {})
            tot["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics", {})
            tot["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            tot["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            tot["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
            tot["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
            for acc in ev.get("Task Info", {}).get("Accumulables", ()):
                key = python_acc.get(acc.get("Name"))
                if key is not None:
                    tot[key] += int(acc.get("Update", 0))
    skew = 1.0
    for times in task_ms.values():
        if len(times) >= 2:
            med = statistics.median(times)
            skew = max(skew, max(times) / max(med, 1.0))
    out = {f"spark.{k}": v for k, v in tot.items()}
    out.update(
        {
            "spark.jobs": jobs,
            "spark.stages": len(ran),
            "spark.tasks": sum(len(t) for t in task_ms.values()),
            "spark.core_busy_ratio": tot["executor_run_s"] / ((t1 - t0) * cores),
            "spark.task_skew_max": skew,
        }
    )
    return out


def read_event_log(log_dir: Path) -> list[str]:
    """The lines of the single uncompressed event log in ``log_dir``."""
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0].read_text().splitlines()
