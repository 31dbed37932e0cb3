"""Shared pieces: result corruption, statistics, process memory, box state,
span self-times and the run record every workload fills in."""

from __future__ import annotations

import ctypes
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

import pandas as pd


# ---------------------------------------------------------------------------
# Run record
# ---------------------------------------------------------------------------


@dataclass
class RunRecord:
    """What a workload hands back to run.py. ``e2e`` and ``layers`` map
    metric name -> (value, unit); ``report`` holds the human-readable
    extras (workload-specific end-to-end numbers, tracing overhead)."""

    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    report: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    spans: list = field(default_factory=list)

    def fail(self, what: str, why: str) -> None:
        self.failed += 1
        if len(self.errors) < 50:
            self.errors.append(f"{what}: {why}"[:400])


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, q: float) -> float:
    """Nearest-rank percentile (q in [0, 1])."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return float(xs[min(len(xs) - 1, int(q * len(xs)))])


def corrupt_frame(df: pd.DataFrame) -> pd.DataFrame:
    """A deliberately wrong copy of a result (the self-test's probe that
    wrong answers are counted): drop the last row, or add one if empty."""
    if len(df):
        return df.iloc[:-1].copy()
    return pd.DataFrame({c: [None] for c in df.columns})


# ---------------------------------------------------------------------------
# Process memory and box state (read from /proc)
# ---------------------------------------------------------------------------


def rss_kb(pid: int) -> int:
    """Current RSS (VmRSS) of a live process, 0 once it has exited."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


class RssSampler:
    """Peak of the summed RSS of this process and all its live
    descendants (the Spark JVM, Python workers, the service and load
    generator processes), sampled every ``period`` seconds on a thread:
    the memory the run needed at its busiest moment. ``peak_py_kb`` is
    the same peak over the Python processes alone, without the JVM,
    whose RSS follows its garbage collector's heap sizing.

    Processes are told apart by executable, not by name: a child the
    JVM forks to start a Python worker carries the forking thread's name
    and maps all of the JVM's pages until it execs, so of the processes
    that are not Python only the largest (the JVM) is counted."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_kb = 0
        self.peak_py_kb = 0
        self.peak_by_name: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        by_name: dict[str, int] = {}
        py_kb, other = 0, ("", 0)
        for p in process_tree(os.getpid()):
            try:
                with open(f"/proc/{p}/comm") as f:
                    name = f.read().strip()
                exe = os.path.basename(os.readlink(f"/proc/{p}/exe"))
            except OSError:
                continue
            kb = rss_kb(p)
            if exe.startswith("python"):
                py_kb += kb
                by_name[name] = by_name.get(name, 0) + kb
            elif kb > other[1]:
                other = (name, kb)
        if other[1]:
            by_name[other[0]] = by_name.get(other[0], 0) + other[1]
        total = py_kb + other[1]
        if total > self.peak_kb:
            self.peak_kb, self.peak_by_name = total, by_name
        self.peak_py_kb = max(self.peak_py_kb, py_kb)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


# ---------------------------------------------------------------------------
# Stopping every process a run started
# ---------------------------------------------------------------------------

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    prctl), so a process whose parent exits first, such as a Python
    worker of a stopped JVM, stays in this process's tree until it is
    stopped and waited for."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def stop_jvm(timeout: float = 60.0) -> None:
    """End the Spark JVM and wait for it. ``SparkSession.stop`` leaves
    the py4j gateway's JVM running; it exits on its own only once it
    reads end-of-file on its stdin, that is after this process exits."""
    from pyspark import SparkContext

    gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
    proc = getattr(gateway, "proc", None)
    try:
        if gateway is not None:
            gateway.shutdown()
    except Exception:  # noqa: BLE001
        pass
    if proc is None:
        return
    try:
        proc.stdin.close()
    except (OSError, AttributeError):
        pass
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def stop_resource_tracker() -> None:
    """End multiprocessing's resource tracker (started for spawn-context
    queues and events) and wait for it. It ignores SIGTERM and exits
    when its pipe from this process closes."""
    mod = sys.modules.get("multiprocessing.resource_tracker")
    tracker = getattr(mod, "_resource_tracker", None)
    if tracker is None or getattr(tracker, "_pid", None) is None:
        return
    try:
        os.close(tracker._fd)
        os.waitpid(tracker._pid, 0)
    except OSError:
        pass
    tracker._fd = tracker._pid = None


def reap_children() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace: float = 30.0) -> None:
    """Stop every process this one started and wait until each has
    ended: the JVM and the resource tracker the polite way, then any
    other descendant with SIGTERM, and with SIGKILL after ``grace``
    seconds."""
    if "pyspark" in sys.modules:
        stop_jvm(grace)
    stop_resource_tracker()
    me = os.getpid()
    deadline = time.monotonic() + grace
    signalled: set[int] = set()
    while True:
        reap_children()
        live = [p for p in process_tree(me) if p != me]
        if not live:
            return
        sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
        for p in live:
            if p not in signalled or sig == signal.SIGKILL:
                try:
                    os.kill(p, sig)
                except OSError:
                    pass
                signalled.add(p)
        time.sleep(0.05)


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed
    over CPUs (the steal column of /proc/stat); 0 where not reported."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def box_state() -> dict:
    la = os.getloadavg()
    return {
        "loadavg": [round(x, 2) for x in la],
        "nproc": os.cpu_count(),
        "cpus_allowed": len(os.sched_getaffinity(0)),
        "steal_s": steal_s(),
    }


# ---------------------------------------------------------------------------
# Spans -> per-layer self time
# ---------------------------------------------------------------------------


def union_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``(start, end)`` intervals clipped to
    ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans) -> dict[str, float]:
    """Self time per span name: a span's duration minus the union of its
    children's (clipped to the span), summed by name."""
    kids: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(i)
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        covered = union_s(
            [(spans[k].start, spans[k].end) for k in kids.get(i, [])], s.start, s.end
        )
        out[s.name] = out.get(s.name, 0.0) + max(0.0, s.dur - covered)
    return out


def write_spans(path: str, spans, meta: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(
            {
                **meta,
                "spans": [
                    {"name": s.name, "start": s.start, "end": s.end,
                     "parent": s.parent, **({"attrs": s.attrs} if s.attrs else {})}
                    for s in spans
                ],
            },
            f,
        )
