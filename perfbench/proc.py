"""CPU time and resident memory of this process and all its descendants
(the driver JVM and the Python workers it forks), read from /proc, and
the stopping of them all before the process exits."""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_PR_SET_CHILD_SUBREAPER = 36


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the tree, including reaped children."""
    ticks = 0
    for pid in tree_pids():
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def tree_rss_mb() -> float:
    pages = 0
    for pid in tree_pids():
        fields = _stat_fields(pid)
        if fields is not None:
            pages += int(fields[21])  # rss (stat field 24)
    return pages * _PAGE / 1e6


def become_subreaper() -> None:
    """Have orphaned descendants (Python workers whose JVM has ended)
    re-parented to this process rather than to init, so that
    ``stop_tree`` can still find, kill and reap them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_tree(grace_s: float = 10.0) -> None:
    """Stop every descendant of this process and wait until all have
    ended: SIGTERM, then SIGKILL to whatever is left after ``grace_s``.
    Returns only when no descendant is left, zombies included."""
    sent: dict[int, int] = {}  # pid → last signal sent
    deadline = time.monotonic() + grace_s
    while True:
        _reap()
        pids = tree_pids()[1:]
        if not pids:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in pids:
            if sent.get(pid) != sig:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                sent[pid] = sig
        time.sleep(0.05)


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot: time the
    hypervisor gave this VM's CPUs to someone else, and all time."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


class PeakRss:
    """Samples the tree's RSS every ``period`` seconds while active."""

    def __init__(self, period: float = 0.2) -> None:
        self.period = period
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb())
            self._stop.wait(self.period)

    def __enter__(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_mb())
