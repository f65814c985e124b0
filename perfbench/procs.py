"""Make sure a run leaves no process behind.

Spark starts a tree of processes: the JVM, and under it the Python
daemon and its forked workers. The input generators add a spawned child
and multiprocessing's resource tracker. Some of these end only after
their parent has gone, so a run that merely exits can leave them
running for a moment, or for good if one hangs.

``become_subreaper`` makes this process adopt every orphaned descendant
(Linux), and ``reap_descendants`` waits for all of them to end, killing
whatever is still alive after a grace period.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

_PR_SET_CHILD_SUBREAPER = 36
KILL_WAIT_S = 10.0  # how long to wait for killed processes to be reaped


def become_subreaper() -> bool:
    """Adopt orphaned descendants instead of handing them to init."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def descendants() -> list[int]:
    """Pids of every process below this one."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # it ended while we looked
            continue
        # the command name may hold spaces and parentheses: split after it
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        for pid in children.get(todo.pop(), ()):
            out.append(pid)
            todo.append(pid)
    return out


def _reap_ended() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass
    except ChildProcessError:  # no children at all
        pass


def reap_descendants(grace_s: float = 10.0) -> list[int]:
    """Wait until no descendant is left, reaping each. After ``grace_s``
    the rest get SIGKILL; after a further KILL_WAIT_S give up. Returns the
    pids that were killed."""
    start = time.monotonic()
    killed: list[int] = []
    while True:
        _reap_ended()
        left = descendants()
        if not left:
            return killed
        waited = time.monotonic() - start
        if waited > grace_s + KILL_WAIT_S:
            return killed
        if waited > grace_s:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    continue
                if pid not in killed:
                    killed.append(pid)
        time.sleep(0.02)
