"""Process-tree and host figures read from /proc (read-only).

CPU and memory are charged to this process and every live descendant (the
driver JVM and the Python workers it forks). Host steal and load average are
recorded per run so that a run slowed by a noisy neighbour can be told apart.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after the closing paren are fixed.
    return raw[raw.rindex(")") + 2:].split()


def descendants(pid: int | None = None) -> list[int]:
    """``pid`` (default: this process) and every live descendant."""
    root = os.getpid() if pid is None else pid
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the live tree, reaped children included."""
    total = 0
    for p in descendants():
        fields = _stat_fields(p)
        if fields is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_peak_rss_mb() -> float:
    """Sum of each live process's peak resident set (VmHWM)."""
    kb = 0
    for p in descendants():
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def host() -> dict[str, float]:
    """Host-wide steal seconds (cumulative) and the 1-minute load average."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"steal_s": int(cpu[8]) / _TICK, "load1": load1, "t": time.time()}


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of ``pids`` is alive; returns those still alive."""
    deadline = time.monotonic() + timeout
    alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
    while alive and time.monotonic() < deadline:
        time.sleep(0.05)
        alive = [p for p in alive if _alive(p)]
    return alive


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"
