"""Process-tree memory sampling, on-disk size, and small statistics helpers."""
from __future__ import annotations

import ctypes
import os
import signal
import statistics
import threading
import time


def _proc_table() -> tuple:
    """(children by ppid, command name by pid) from /proc, one pass."""
    children, comm = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue                        # process ended mid-scan
        head, tail = stat.rsplit(")", 1)
        pid = int(name)
        comm[pid] = head.split("(", 1)[1]
        children.setdefault(int(tail.split()[1]), []).append(pid)
    return children, comm


def descendants(root_pid: int) -> list:
    """Pids of every process under ``root_pid``, from /proc."""
    children, _comm = _proc_table()
    out, stack = [], list(children.get(root_pid, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts:
    a process whose parent ends (a Python worker whose JVM exits) is
    re-parented here instead of to init, so ``stop_process_tree`` can see
    it and wait for it."""
    PR_SET_CHILD_SUBREAPER = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER,
                                                1, 0, 0, 0)
    except (OSError, AttributeError):
        pass                    # without it, orphans are still waited for


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _signal_all(pids, sig) -> None:
    for p in pids:
        try:
            os.kill(p, sig)
        except ProcessLookupError:
            pass


def stop_process_tree(grace: float = 30.0) -> None:
    """End the JVM that pyspark launched and every other process under
    this one, and wait until each has ended. The JVM exits when its stdin
    closes and takes its Python workers with it; whatever still runs after
    ``grace`` seconds gets SIGTERM, and five seconds later SIGKILL."""
    gateway = None
    try:
        from pyspark import SparkContext
        gateway, SparkContext._gateway, SparkContext._jvm = (
            SparkContext._gateway, None, None)
    except ImportError:
        pass
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:       # the JVM may already be gone
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
    me = os.getpid()
    term_at = time.monotonic() + grace
    kill_at = term_at + 5.0
    while True:
        _reap()
        live = descendants(me)
        if not live:
            _reap()
            return
        now = time.monotonic()
        if now >= kill_at:
            _signal_all(live, signal.SIGKILL)
        elif now >= term_at:
            _signal_all(live, signal.SIGTERM)
        time.sleep(0.05)


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass                                # process ended mid-scan
    return 0


def tree_pss_kb(root_pid: int) -> int:
    """Resident memory (KiB) of ``root_pid`` and all its descendants: the
    driver Python process, the JVM it launched and the JVM's Python
    workers. Proportional set sizes, so pages that forked workers share are
    counted once. A ``java`` child of the JVM is a process being spawned
    that still shares the JVM's memory, so it is skipped."""
    children, comm = _proc_table()
    total, stack, seen = 0, [root_pid], set()
    while stack:
        p = stack.pop()
        if p in seen:
            continue
        seen.add(p)
        total += _pss_kb(p)
        stack.extend(c for c in children.get(p, [])
                     if not (comm.get(c) == "java" and comm.get(p) == "java"))
    return total


class PeakSampler:
    """Samples the process tree's resident memory every ``interval``
    seconds while active; ``peak_mb`` is the largest sum seen."""

    def __init__(self, pid: int = None, interval: float = 0.2):
        self.pid = pid or os.getpid()
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_pss_kb(self.pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, tree_pss_kb(self.pid))

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def du_bytes(path: str) -> int:
    """Bytes of every regular file under ``path`` (apparent size)."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


def median(values) -> float:
    return float(statistics.median(values))


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100])."""
    vals = sorted(values)
    if not vals:
        return 0.0
    k = max(0, min(len(vals) - 1, int(round(q / 100.0 * len(vals) + 0.5)) - 1))
    return float(vals[k])
