"""/proc readings for one process session: the worker starts a new session,
and the JVM, the Python daemon and the Python workers it forks all stay in
it (the daemon changes its process group, not its session).

Also the clean-up of every process a run starts: run.py makes itself a child
subreaper, so that a process orphaned anywhere below it (the JVM once the
worker has exited) is re-parented to run.py instead of to init, and
`reap_descendants` ends and waits for all of them, zombies included."""

from __future__ import annotations

import ctypes
import os
import signal
import time
from typing import Dict, List

TICK = os.sysconf("SC_CLK_TCK")
PR_SET_PDEATHSIG = 1
PR_SET_CHILD_SUBREAPER = 36


def _prctl(option: int, arg: int) -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(option, arg, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), f"prctl({option}, {arg}) failed")


def become_subreaper() -> None:
    _prctl(PR_SET_CHILD_SUBREAPER, 1)


def die_with_parent() -> None:
    """For Popen's preexec_fn: SIGKILL the child when its parent dies, so a
    killed run.py takes its worker along."""
    _prctl(PR_SET_PDEATHSIG, signal.SIGKILL)


def _stat_fields(pid: int) -> List[str]:
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def session_pids(sid: int) -> List[int]:
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            f = _stat_fields(int(name))
            # a zombie has ended; only its parent's wait is missing
            if int(f[3]) == sid and f[0] != "Z":
                pids.append(int(name))
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
    return pids


def session_cpu_s(sid: int) -> float:
    """User + system CPU seconds of the live processes of the session and of
    the children they have reaped."""
    total = 0
    for pid in session_pids(sid):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        # utime, stime, cutime, cstime are stat fields 14-17
        total += sum(int(v) for v in f[11:15])
    return total / TICK


def session_pss_bytes(sid: int) -> int:
    """Proportional set size: pages shared between forked Python workers
    count once across the session instead of once per process."""
    total = 0
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def reap_session(sid: int, timeout: float) -> Dict[str, int]:
    """Wait for every process of the session to exit; SIGKILL what is left
    after `timeout`. Returns how many were waited for and killed."""
    deadline = time.monotonic() + timeout
    left = session_pids(sid)
    seen = len(left)
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        left = session_pids(sid)
    killed = 0
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
            killed += 1
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while session_pids(sid) and time.monotonic() < deadline:
        time.sleep(0.05)
    return {"waited": seen, "killed": killed}


def _parents() -> Dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                out[int(name)] = int(_stat_fields(int(name))[1])
            except (OSError, ValueError, IndexError):
                continue  # exited while listing
    return out


def descendants(pid: int) -> List[int]:
    """Every process below `pid`, zombies included."""
    children: Dict[int, List[int]] = {}
    for child, parent in _parents().items():
        children.setdefault(parent, []).append(child)
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _reap_children() -> bool:
    """Collect the exit status of every ended child; True if none is left."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return True
        if pid == 0:
            return False


def reap_descendants(timeout: float) -> None:
    """SIGKILL every process below this one and wait until each has ended
    and been reaped."""
    me = os.getpid()
    deadline = time.monotonic() + timeout
    while not _reap_children():
        for pid in descendants(me):
            try:
                if _stat_fields(pid)[0] != "Z":
                    os.kill(pid, signal.SIGKILL)
            except (OSError, IndexError):
                continue
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still below pid {me}: {descendants(me)}")
        time.sleep(0.05)
