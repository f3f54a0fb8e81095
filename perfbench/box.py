"""Host-side probes: memory-bandwidth noise, CPU speed, process-tree
peak RSS, and the lifetime of the Spark driver JVM and of every other
process a run starts."""

from __future__ import annotations

import ctypes
import os
import re
import signal
import statistics
import threading
import time

# a run is not trusted when the memory-bandwidth probe reads above this
MEMCPY_RATIO_MAX = 3.0


def memcpy_ratio(mb: int = 64, reps: int = 6, ways: int = 4) -> float:
    """Per-copy time of ``ways`` concurrent ``mb`` MB memcpys divided by
    that of one copy alone. Near 1 on an idle box; a high reading
    means another tenant saturates memory bandwidth, the noise that
    slows Spark's Arrow and shuffle paths most."""
    import numpy as np

    n = mb << 20
    bufs = [(np.ones(n, np.uint8), np.empty(n, np.uint8)) for _ in range(ways)]

    def copies(src, dst, out: list, k: int) -> None:
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            np.copyto(dst, src)
            times.append(time.perf_counter() - t0)
        out[k] = statistics.median(times)

    one = [0.0]
    copies(*bufs[0], one, 0)
    many = [0.0] * ways
    threads = [
        threading.Thread(target=copies, args=(*bufs[k], many, k)) for k in range(ways)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return statistics.median(many) / one[0]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for ent in os.listdir("/proc"):
        if not ent.isdigit():
            continue
        try:
            with open(f"/proc/{ent}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may contain spaces; fields after the closing paren are fixed
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(ent))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_peak_rss_bytes(root: int) -> int:
    """Sum over ``root`` and its live descendants of each process's own
    peak RSS (``VmHWM``): what each one needed at its worst, whether or
    not the peaks of the Python workers fell at the same moment."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status", "rb") as f:
                for line in f:
                    if line.startswith(b"VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2 :][:1] != b"Z"


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the Spark context, end the driver JVM and wait until it and
    every Python worker it started have exited. A no-op when no JVM is
    running; the next session launches a fresh one."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    pids = process_tree(gateway.proc.pid)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    # the gateway JVM exits when its stdin closes
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids):
        if time.monotonic() > deadline:
            raise TimeoutError(f"Spark processes still running: {pids}")
        time.sleep(0.05)


_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of its descendants: a process
    whose parent exits first (a Python worker after Spark kills its
    daemon, the multiprocessing resource tracker) is re-parented here
    instead of to init, so ``stop_children`` can reap it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_children(timeout: float = 30.0) -> None:
    """Stop every child of this process, the adopted orphans included,
    and wait until each has ended and been reaped. The multiprocessing
    resource tracker outlives its parent by design and ignores SIGTERM;
    closing its pipe ends it cleanly. Whatever else is still running is
    killed."""
    from multiprocessing import resource_tracker

    try:
        resource_tracker._resource_tracker._stop()
    except ChildProcessError:  # already reaped
        pass
    deadline = time.monotonic() + timeout
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:  # no children left
            return
        for pid in _children().get(os.getpid(), ()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if time.monotonic() > deadline:
            raise TimeoutError(f"child processes still running: {_children().get(os.getpid())}")
        time.sleep(0.05)


_PROBE_RE = re.compile(r'(\S+) \S+ (\S+) \[([^\]]+)\] "(\w+) (\S+) [^"]*" (\d+) (\d+)')
_PROBE_LINE = '10.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] "GET /a.gif HTTP/1.0" 200 2326'
def _cpu_pass() -> float:
    """Thread CPU milliseconds of one fixed pass of regex matches. CPU
    time, not wall time: a pass the job's own processes preempt costs
    no more, one that runs on a slowed core costs more."""
    t0 = time.thread_time()
    for _ in range(1000):
        _PROBE_RE.match(_PROBE_LINE).group(5)
    return (time.thread_time() - t0) * 1e3


# the reference core speed the time metrics are scaled to: one
# ``_cpu_pass`` in this many CPU milliseconds
REF_CPU_MS = 1.0


class CpuSampler:
    """While entered, one thread per CPU, pinned to it, runs
    ``_cpu_pass`` every ``interval`` seconds (about 1 ms of CPU a pass)
    and keeps each pass's ``(time.monotonic(), ms)``.

    The cores of this box alternate between two speeds about 2x apart,
    each on its own, in phases of a fraction of a second to a few
    seconds, and whole sets of runs taken an hour apart have differed
    about 2x. ``mean_ms`` over a window says how fast the cores ran
    while the job did (lower is faster)."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.samples: list[tuple[float, float]] = []
        self._stop = threading.Event()
        self._threads = [
            threading.Thread(target=self._loop, args=(cpu,), daemon=True)
            for cpu in sorted(os.sched_getaffinity(0))
        ]

    def _loop(self, cpu: int) -> None:
        os.sched_setaffinity(0, {cpu})  # this thread only
        while not self._stop.wait(self.interval):
            self.samples.append((time.monotonic(), _cpu_pass()))

    def __enter__(self) -> "CpuSampler":
        for t in self._threads:
            t.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        for t in self._threads:
            t.join()

    def window(self, t0: float = float("-inf"), t1: float = float("inf")) -> list[float]:
        return [ms for t, ms in self.samples if t0 <= t <= t1]

    def mean_ms(self, t0: float = float("-inf"), t1: float = float("inf")) -> float:
        return statistics.fmean(self.window(t0, t1) or [float("nan")])

    def at_ref(self, seconds: float, t0: float, t1: float) -> float:
        """``seconds`` measured over ``[t0, t1]``, scaled to what it
        would have been on cores that run a pass in ``REF_CPU_MS``."""
        return seconds * REF_CPU_MS / self.mean_ms(t0, t1)
