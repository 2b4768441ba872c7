"""Process-tree accounting from /proc.

A workload process is started as the leader of its own session, so
its tree — the Python driver, the JVM it launches, Spark's Python
workers and every piped executable — is exactly the set of processes
whose session id is the leader's pid.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
    except OSError:
        return None
    # Fields after the parenthesised command name; rest[0] is field 3.
    return s[s.rfind(")") + 2 :].split()


def _session(sid: int, live_only: bool = False) -> list[list[str]]:
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None and int(st[3]) == sid and not (live_only and st[0] == "Z"):
                out.append(st)
    return out


def tree_cpu_s(sid: int) -> float:
    """CPU seconds used so far by the session's processes, including
    children they have already reaped (cutime/cstime)."""
    ticks = sum(int(st[11]) + int(st[12]) + int(st[13]) + int(st[14]) for st in _session(sid))
    return ticks / _TICK


def tree_pss_mb(sid: int) -> dict[str, float]:
    """Resident memory (MB) of the session's processes by command name,
    each shared page counted once: proportional set sizes. (Plain RSS
    counts a page once per process mapping it, so a JVM that forks a
    helper, or Python workers forked from one daemon, would count
    twice.)"""
    out: dict[str, float] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None or int(st[3]) != sid:
            continue
        try:
            with open(f"/proc/{name}/comm") as fh:
                comm = fh.read().strip()
            with open(f"/proc/{name}/smaps_rollup") as fh:
                pss = next(int(line.split()[1]) for line in fh if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
        out[comm] = out.get(comm, 0.0) + pss / 1e3
    return out


def reap_session(sid: int, timeout_s: float) -> None:
    """Wait until no process of the session is left; SIGKILL whatever
    is still there after ``timeout_s`` and wait for that too. Callers
    reap the session leader themselves (``Popen.wait``)."""
    deadline = time.monotonic() + timeout_s
    while _session(sid, live_only=True):
        if time.monotonic() > deadline:
            try:
                os.killpg(sid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)
    # Killed children of the exited leader are reaped by init; give it a
    # moment so no zombie of the session outlives the run.
    settle = time.monotonic() + 2.0
    while _session(sid) and time.monotonic() < settle:
        time.sleep(0.05)
