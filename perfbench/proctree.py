"""CPU time and peak memory of this process and every process it started,
and the share of the machine's active CPU time the hypervisor gave to
other guests.

Read from ``/proc`` because Spark's own counters miss the Python workers:
``executorCpuTime`` is JVM-thread time only, while extraction,
canonicalization and the schedule run in forked Python workers.  The tree
is this process, the JVM it launched, the JVM's Python worker daemon and
the daemon's forked workers.  CPU time counts reaped children too: a
worker that exits is reaped by its parent, and the kernel adds its time to
the parent's ``cutime``/``cstime``.

``become_subreaper`` and ``reap_all`` make sure no process of the tree
outlives the benchmark: a process whose parent ends before it (the Python
worker daemon, once the JVM has exited) is handed to this process rather
than to init, and is waited for before this process exits.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str]:
    """Fields 3.. of /proc/<pid>/stat (the command name may hold spaces)."""
    with open(f"/proc/{pid}/stat") as f:
        s = f.read()
    return s[s.rindex(")") + 2 :].split()


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue  # ended while we listed
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(root: int | None = None) -> float:
    """User + system CPU of the tree, including children already reaped."""
    ticks = 0
    for pid in tree(root):
        try:
            f = _stat(pid)
        except OSError:
            continue
        # utime, stime, cutime, cstime
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _CLK_TCK


def peak_rss(root: int | None = None) -> list[tuple[int, str, float]]:
    """(pid, command name, peak resident set in MB) of each live process in
    the tree, from ``VmHWM``."""
    out = []
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out.append((pid, fields["Name"].strip(), int(fields["VmHWM"].split()[0]) / 1024.0))
    return out


def cpu_clock() -> tuple[int, int]:
    """(stolen, active) CPU ticks of the machine so far, from ``/proc/stat``.
    Active ticks are the ones a CPU had work for: user, nice, system, irq,
    softirq and steal, not idle or iowait."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    # guest time is already counted in user
    return steal, user + nice + system + irq + softirq + steal


def steal_share(since: tuple[int, int]) -> float:
    """Share of the machine's active CPU time stolen since ``cpu_clock()``
    read ``since``: time its CPUs had work but the hypervisor ran another
    guest.  Idle time is left out of the base, so a phase that keeps fewer
    than all CPUs busy is not diluted by the idle ones."""
    stolen, active = cpu_clock()
    return (stolen - since[0]) / max(active - since[1], 1)


_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Have orphaned descendants handed to this process, not to init."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_all(grace_s: float = 10.0) -> None:
    """Wait until this process has no child left, reaping each; after
    ``grace_s``, kill every descendant still running."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # none left
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in tree()[1:]:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
