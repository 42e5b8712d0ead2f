"""Process-tree CPU and memory sampler that reads ``/proc``.

The engine runs as one Python driver, its JVM, and the JVM's Python
workers. ``ProcTree`` sums CPU time and resident memory over that whole
tree. CPU time of a child that has exited and been reaped is already
folded into its parent's ``cutime``/``cstime``, so the cumulative total
stays monotone while workers come and go. Memory is the proportional
set size (PSS): pages shared between forked Python workers count once
in total instead of once per process. A child that shares its parent's
whole address space (the JVM spawns processes through ``vfork``-style
clones, which share the JVM's memory until they ``exec``) is not counted
at all: its PSS is the JVM's, and counting it doubled the peak whenever
a sample landed in that window.
"""

from __future__ import annotations

import ctypes
import os
import platform
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_LIBC = ctypes.CDLL(None, use_errno=True)
# kcmp(2): KCMP_VM compares two processes' address spaces
_SYS_KCMP = {"x86_64": 312, "aarch64": 272}.get(platform.machine())
_KCMP_VM = 1


def _shares_memory(a: int, b: int) -> bool:
    if _SYS_KCMP is None:
        return False
    return _LIBC.syscall(_SYS_KCMP, a, b, _KCMP_VM, 0, 0) == 0


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
            for line in fh:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # exited, or a kernel thread without a memory map
    return 0


def _read_all() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, cpu_ticks incl. reaped children, state)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                raw = fh.read()
        except OSError:
            continue  # exited between listdir and open
        # fields after the ")" that closes the command name
        f = raw[raw.rfind(b")") + 2:].split()
        out[int(name)] = (
            int(f[1]),
            int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]),
            f[0],
        )
    return out


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs
    since boot (the ``steal`` column of ``/proc/stat``)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def tree_pids(root: int, table: dict | None = None) -> set[int]:
    table = _read_all() if table is None else table
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        kids.setdefault(ppid, []).append(pid)
    seen, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        todo.extend(kids.get(pid, ()))
    return seen


class ProcTree:
    """Samples the memory of this process's tree once a second on a
    daemon thread, keeping the peak since :meth:`reset_peak`; :meth:`cpu_s`
    reads the tree on demand. Reading a process's PSS walks its page
    tables under its memory-map lock, so a faster rate slows the JVM
    it measures (at ten samples a second it slowed an AvailableNow
    drain by 10-40 %)."""

    def __init__(self):
        self.root = os.getpid()
        self.peak_rss_bytes = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._loop, name="proctree", daemon=True
        )

    def sample(self) -> tuple[float, int]:
        """(cumulative CPU seconds, current PSS bytes) of the tree."""
        table = _read_all()
        pids = [p for p in tree_pids(self.root, table) if p in table]
        ticks = sum(table[p][1] for p in pids)
        rss = sum(
            _pss_bytes(p) for p in pids
            if p == self.root or not _shares_memory(table[p][0], p)
        )
        with self._lock:
            self.peak_rss_bytes = max(self.peak_rss_bytes, rss)
        return ticks / _TICK, rss

    def reset_peak(self) -> None:
        with self._lock:
            self.peak_rss_bytes = 0

    def cpu_s(self) -> float:
        return self.sample()[0]

    def _loop(self) -> None:
        while not self._stop.wait(1.0):
            self.sample()

    def start(self) -> "ProcTree":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def reap_descendants(root: int, timeout: float = 20.0) -> list[int]:
    """Wait until every live descendant of ``root`` has exited; kill
    what is still running after ``timeout`` seconds. Returns the pids
    that had to be killed."""
    import signal

    deadline = time.monotonic() + timeout
    killed: list[int] = []
    while True:
        table = _read_all()
        left = [
            p for p in tree_pids(root, table)
            if p != root and p in table and table[p][2] != b"Z"
        ]
        if not left:
            return killed
        if time.monotonic() > deadline:
            if killed:
                return killed  # already signalled once; give up waiting
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            killed = left
            deadline = time.monotonic() + 5
        time.sleep(0.1)
