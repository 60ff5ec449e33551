"""Process-tree CPU and memory, read from /proc, and host probes.

The engine's work runs in three kinds of process: this Python driver,
the JVM it launches and the JVM's Python workers. CPU is utime + stime
(+ the reaped children's cutime + cstime) summed over the live tree;
peak memory is the sum of each live process's VmHWM.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _pids_with_parent() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                s = fh.read()
        except OSError:  # exited while listing
            continue
        out[int(name)] = int(s[s.rfind(")") + 2:].split()[1])
    return out


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    root = root or os.getpid()
    parent = _pids_with_parent()
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie awaiting its reaper has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
    except OSError:
        return False
    return s[s.rfind(")") + 2] != "Z"


def tree_cpu_s(root: int | None = None) -> float:
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                s = fh.read()
        except OSError:
            continue
        f = s[s.rfind(")") + 2:].split()
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK


def peak_rss_mb(root: int | None = None) -> dict[str, float]:
    """VmHWM in MB per process of the live tree, keyed "<pid> <name>"."""
    out = {}
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            out[f"{pid} {name}"] = int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def host_probes() -> dict[str, float]:
    """How fast this host is right now: a 0.1 s single-core spin (million
    loop iterations per second) and the rate of touching 64 MiB of fresh
    pages (MiB/s). A run made in a window where either reads far below
    its usual value was slowed by the host, not by the program. The
    probes run in a child process so their pages do not count in this
    process's peak memory."""
    out = subprocess.run(
        [sys.executable, __file__], capture_output=True, text=True,
        check=True, timeout=60,
    ).stdout
    return json.loads(out)


def _probe() -> dict[str, float]:
    import numpy as np

    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < 0.1:
        n += 1
    spin = n / (time.perf_counter() - t0) / 1e6
    t0 = time.perf_counter()
    a = np.ones(64 * 1024 * 1024 // 8)
    alloc = 64 / (time.perf_counter() - t0)
    del a
    return {"cpu_m_iters_s": round(spin, 3), "alloc_mib_s": round(alloc, 1)}


if __name__ == "__main__":
    print(json.dumps(_probe()))
