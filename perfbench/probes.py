"""Process-level probes: peak memory of a process tree from /proc, and two
host markers: CPU steal from /proc/stat and a Spark-free CPU burn that
marks how fast the host is right now."""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import threading
import time

PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")
PR_SET_CHILD_SUBREAPER = 36


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                # the comm field may hold spaces; ppid is the 2nd field after ')'
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
        return int(fh.read().split()[1]) * PAGE_BYTES


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_memory_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` plus the proportional set size of all
    of its descendants.  The Python workers are forked from one daemon and
    share its pages: summing their RSS would count those pages once per
    worker, so the total would jump whenever the daemon forks another.
    The root's RSS is read from statm, which is cheap even for a large JVM."""
    kids = _children_map()
    total = _rss_bytes(root_pid)
    stack = list(kids.get(root_pid, ()))
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        try:
            total += _pss_bytes(pid)
        except (OSError, IndexError, ValueError):
            pass  # the process ended while the tree was walked
    return total


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs so far, from /proc/stat.  Steal is
    time the hypervisor gave this machine's CPUs to another guest."""
    with open("/proc/stat", encoding="ascii") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


class PeakSampler:
    """Background thread that polls ``probe()`` every ``interval`` seconds
    and keeps the maximum."""

    def __init__(self, probe, interval: float = 0.2):
        self._probe = probe
        self._interval = interval
        self._stop = threading.Event()
        self.peak = 0.0
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            try:
                self.peak = max(self.peak, float(self._probe()))
            except Exception:  # a probe racing process exit is not fatal
                pass
            self._stop.wait(self._interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


_BURN = """
import hashlib, sys, time
rounds, reps = int(sys.argv[1]), int(sys.argv[2])
def burn(n):
    h = b"x" * 4096
    for _ in range(n):
        h = hashlib.md5(h).digest() * 256
burn(10)
times = []
for _ in range(reps):
    t0 = time.perf_counter()
    burn(rounds)
    times.append(time.perf_counter() - t0)
print(" ".join(map(repr, times)))
"""


def host_burn_s(procs: int, rounds: int = 20000, reps: int = 3) -> float:
    """Wall time of a fixed md5 burn run at once on ``procs`` processes
    (``rounds`` md5s each): per repetition the slowest process, and the
    best of ``reps`` repetitions.  Larger than usual means another tenant
    was using the cores while the benchmark ran.  Plain child processes,
    each waited for: a multiprocessing pool would leave its resource
    tracker running after the benchmark exits."""
    kids = [
        subprocess.Popen(
            [sys.executable, "-c", _BURN, str(rounds), str(reps)],
            stdout=subprocess.PIPE, text=True,
        )
        for _ in range(procs)
    ]
    per_kid = []
    for kid in kids:
        out, _ = kid.communicate()
        if kid.returncode != 0:
            raise RuntimeError(f"md5 burn exited with {kid.returncode}")
        per_kid.append([float(x) for x in out.split()])
    return min(max(times) for times in zip(*per_kid))


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``), so that a Python worker left behind by the
    JVM is re-parented here and ``reap_descendants`` can end and wait for
    it, instead of it outliving the benchmark under init."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, stack = [], list(kids.get(pid, ()))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, ()))
    return out


def reap_descendants(grace: float = 10.0) -> None:
    """SIGTERM every live descendant, SIGKILL what is left after ``grace``
    seconds, and wait for every child (re-parented orphans included) until
    none is left."""
    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in descendants(me):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            _reap_exited()
            if not descendants(me):
                return
            time.sleep(0.05)
    while True:  # everything left was sent SIGKILL: block until it is gone
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


def _reap_exited() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return
