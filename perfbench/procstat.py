"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark process and every descendant: the Spark driver
JVM, the PySpark daemon and its Python workers.  CPU counts each live
process's own time plus the time of the children it has reaped, so work
done by a worker that exited is not lost.
"""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import sys
import threading
import time

_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
_PAGE_B = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:  # the process ended between listing and reading
        return None
    # comm may hold spaces and parentheses: fields resume after the last ')'
    return raw[raw.rfind(")") + 2 :].split()


def _tree() -> dict[str, list[str]]:
    """pid -> stat fields (from ``state`` onwards) of this process and its descendants."""
    stats, children = {}, {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            f = _stat_fields(pid)
            if f is not None:
                stats[pid] = f
                children.setdefault(f[1], []).append(pid)
    out, todo = {}, [str(os.getpid())]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return out


def descendants() -> list[int]:
    me = os.getpid()
    return [int(p) for p in _tree() if int(p) != me]


def _alive(pid: int) -> bool:
    f = _stat_fields(str(pid))
    return f is not None and f[0] != "Z"


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until every pid has exited (orphans included); kill what remains."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive:
        alive = [p for p in alive if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)


def tree_cpu_s() -> float:
    """utime + stime + cutime + cstime summed over the tree, in seconds."""
    return sum(int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]) for f in _tree().values()) * _TICK_S


def tree_rss_mb(min_age_s: float = 0.5) -> float:
    """Summed RSS of the tree's processes older than ``min_age_s``.  The
    age filter drops a child the JVM has spawned but not yet exec'd (the
    JVM runs shell commands for local file permissions): until exec it
    reports the whole JVM's RSS a second time."""
    with open("/proc/uptime") as f:
        now = float(f.read().split()[0])
    return sum(
        int(f[21]) for f in _tree().values() if now - int(f[19]) * _TICK_S >= min_age_s
    ) * _PAGE_B / 2**20


class PeakRss:
    """Samples the tree's summed RSS on a thread; ``peak_mb`` is the maximum seen."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


# a fixed pure-Python loop (integer arithmetic and dict stores), timed inside
# the process so interpreter start-up does not count
_PROBE = (
    "import time\n"
    "t = time.perf_counter()\n"
    "d, x = {}, 0\n"
    "for i in range(1_500_000):\n"
    "    x += i * i % 7\n"
    "    d[i & 4095] = x\n"
    "print(time.perf_counter() - t)\n"
)


def host_probe_s(procs: int) -> float:
    """Mean time of the probe loop run in ``procs`` fresh processes at once:
    how fast this host runs Python on all its task slots right now.  It does
    not touch the program, so a change to the program cannot move it."""
    ps = [subprocess.Popen([sys.executable, "-c", _PROBE], stdout=subprocess.PIPE, text=True) for _ in range(procs)]
    return statistics.mean(float(p.communicate()[0]) for p in ps)
