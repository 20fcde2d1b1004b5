"""CPU and RSS of this process tree, split into driver, JVM and Python workers.

The tree is this Python process (the driver), the Spark JVM it launched and
the Python workers the JVM forks. CPU of a component at an instant is the
sum over its live processes of utime+stime+cutime+cstime, so a worker that
exits between two snapshots is still counted: its parent reaps it and
inherits its time in cutime/cstime. RSS is sampled by a background thread.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
SAMPLE_INTERVAL_S = 0.5  # RSS sampling period
KILL_AFTER_S = 30.0      # wait_gone's grace period before SIGKILL
_PAGE = os.sysconf("SC_PAGE_SIZE")
COMPONENTS = ("driver", "jvm", "pyworker")


def _stat(pid: str) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2:].split()
    # fields after comm: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
    cpu = sum(int(x) for x in rest[11:15]) / _TICK
    return int(rest[1]), comm, cpu


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


class ProcTree:
    """Snapshots of the tree rooted at this process."""

    def members(self) -> dict[int, tuple[str, float]]:
        """pid → (component, cpu seconds) for every live tree member."""
        procs = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(name)
                if st is not None:
                    procs[int(name)] = st
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in procs.items():
            kids.setdefault(ppid, []).append(pid)
        out = {}
        stack = [(os.getpid(), "driver")]
        while stack:
            pid, comp = stack.pop()
            if pid not in procs:
                continue
            comm = procs[pid][1]
            if comp == "driver" and comm == "java":
                comp = "jvm"
            elif comp == "jvm" and not comm.startswith("python"):
                # a helper the JVM spawns for a shell call: until it execs
                # it shares the JVM's pages under the name of the JVM
                # thread that spawned it, so counting it would count the
                # JVM twice; the JVM reaps it and inherits its CPU
                continue
            elif comp == "jvm":
                comp = "pyworker"
            out[pid] = (comp, procs[pid][2])
            stack.extend((k, comp) for k in kids.get(pid, ()))
        return out

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds per component."""
        tot = dict.fromkeys(COMPONENTS, 0.0)
        for comp, cpu in self.members().values():
            tot[comp] += cpu
        return tot

    def rss(self) -> dict[str, int]:
        tot = dict.fromkeys(COMPONENTS, 0)
        for pid, (comp, _) in self.members().items():
            tot[comp] += _rss_bytes(pid)
        return tot


class RssSampler:
    """Background RSS sampling while ``active`` is set; keeps the peaks of
    the tree total and of each component."""

    def __init__(self, tree: ProcTree):
        self.tree = tree
        self.active = threading.Event()
        self.peak_total = 0
        self.peak = dict.fromkeys(COMPONENTS, 0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> None:
        r = self.tree.rss()
        self.peak_total = max(self.peak_total, sum(r.values()))
        for k, v in r.items():
            self.peak[k] = max(self.peak[k], v)

    def _loop(self) -> None:
        while not self._stop.wait(SAMPLE_INTERVAL_S):
            if self.active.is_set():
                self.sample()


def host_cpu() -> tuple[int, int]:
    """(steal, total) jiffies of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def wait_gone(pids) -> list[int]:
    """Wait for each pid to exit; SIGKILL the ones still alive after
    KILL_AFTER_S. Returns the pids that had to be killed."""
    import signal

    deadline = time.monotonic() + KILL_AFTER_S
    left = [p for p in pids if p != os.getpid()]
    while left and time.monotonic() < deadline:
        left = [p for p in left if _alive(p)]
        if left:
            time.sleep(0.1)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    for p in left:
        while _alive(p) and time.monotonic() < deadline + 5:
            time.sleep(0.05)
    return left


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie (our own zombie
    children are reaped on the way)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True
