"""Process counters read from /proc: CPU time, bytes written to storage
and peak RSS of the driver, the Spark JVM and the JVM's Python workers,
and the machine's CPU time stolen by the hypervisor."""

from __future__ import annotations

import os
import re

_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree(pid: int) -> list[int]:
    """``pid`` and every live descendant."""
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User+system CPU of ``pids``, including their reaped children."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def write_bytes(pids: list[int]) -> int:
    """Bytes ``pids`` caused to be written to storage."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/io") as f:
                for line in f:
                    if line.startswith("write_bytes:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total


def reset_peak_rss(pids: list[int]) -> None:
    """Restart the VmHWM high-water mark at the current RSS."""
    for p in pids:
        try:
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                m = re.search(r"^VmHWM:\s+(\d+) kB", f.read(), re.M)
        except OSError:
            continue
        if m:
            total += int(m.group(1))
    return total / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def wait_gone(pids: list[int], timeout: float) -> bool:
    """Poll until none of ``pids`` is alive (or a zombie); True on success."""
    import time

    deadline = time.monotonic() + timeout
    while True:
        alive = []
        for p in pids:
            try:
                with open(f"/proc/{p}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            if stat[stat.rindex(")") + 2] != "Z":
                alive.append(p)
        if not alive:
            return True
        if time.monotonic() > deadline:
            return False
        time.sleep(0.05)
