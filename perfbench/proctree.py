"""CPU accounting and shutdown for the driver's process tree.

The Spark driver here is three kinds of process: this Python process,
the JVM it launches, and the Python worker daemon (plus its forked
workers) under the JVM. ``tree_cpu_s`` sums user+sys CPU over all of
them from ``/proc`` — including children already exited and reaped
(``cutime``/``cstime``) — so the delta across a pass is the CPU the
whole local cluster spent on it.
"""

from __future__ import annotations

import os
import signal
import time
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces or parens: split after the LAST ')'
    return raw[raw.rfind(")") + 2 :].split()


def _scan() -> tuple[dict[int, list[int]], dict[int, list[str]]]:
    kids: dict[int, list[int]] = defaultdict(list)
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(name)
        if fields is None:
            continue
        stats[int(name)] = fields
        kids[int(fields[1])].append(int(name))
    return kids, stats


def descendants(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every live descendant."""
    kids, _ = _scan()
    out, todo = [], [root if root is not None else os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+sys CPU seconds of ``root``'s process tree, including reaped
    children. Fields after the comm: state(0) ppid(1) ... utime(11)
    stime(12) cutime(13) cstime(14)."""
    kids, stats = _scan()
    total, todo = 0, [root if root is not None else os.getpid()]
    while todo:
        pid = todo.pop()
        f = stats.get(pid)
        if f is not None:
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        todo.extend(kids.get(pid, ()))
    return total / _TICK


def _alive(pid: int) -> bool:
    f = _stat_fields(str(pid))
    return f is not None and f[0] not in ("Z", "X")


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until every pid has exited; SIGKILL what is left at the
    deadline and wait for that too."""
    pids = [p for p in pids if p != os.getpid()]
    for kill in (False, True):
        if kill:
            for p in pids:
                if _alive(p):
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            if not any(_alive(p) for p in pids):
                return
            time.sleep(0.1)


def stop_descendants(timeout_s: float = 30.0) -> None:
    """SIGTERM every live process under this one (the JVM and the Python
    workers under it) and wait until each has exited."""
    pids = descendants()[1:]
    for p in pids:
        try:
            os.kill(p, signal.SIGTERM)
        except ProcessLookupError:
            pass
    wait_gone(pids, timeout_s)
    try:  # reap this process's own exited children (the JVM)
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass
