"""Process-tree accounting from /proc: CPU time, Python RSS, teardown."""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def _pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for pid in _pids():
        st = _stat(pid)
        if st is not None:
            children.setdefault(int(st[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, including reaped children."""
    total = 0
    for pid in descendants(root):
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime (fields 14-17 of stat)
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def tree_python_rss_mb(root: int) -> float:
    """Resident memory of the Python processes in the tree."""
    total_kb = 0
    for pid in descendants(root):
        try:
            exe = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
            with open(f"/proc/{pid}/status") as f:
                status = f.read()
        except OSError:
            continue
        if not exe.startswith("python"):
            continue
        for line in status.splitlines():
            if line.startswith("VmRSS:"):
                total_kb += int(line.split()[1])
    return total_kb / 1024.0


def group_members(pgid: int) -> list[int]:
    out = []
    for pid in _pids():
        st = _stat(pid)
        # field 5 of stat is the process group; skip zombies, which
        # have exited and only wait for their parent to reap them
        if st is not None and int(st[2]) == pgid and st[0] != "Z":
            out.append(pid)
    return out


def stop_group(pgid: int, timeout_s: float = 20.0) -> None:
    """Terminate every process of a process group and wait until none
    is left."""
    deadline = time.monotonic() + timeout_s
    sig = signal.SIGTERM
    while group_members(pgid):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        time.sleep(0.2)
        if time.monotonic() > deadline - timeout_s / 2:
            sig = signal.SIGKILL
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes of group {pgid} did not stop")
