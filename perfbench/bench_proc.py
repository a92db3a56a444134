"""Resource use of this process and everything it started: the Python
driver, the Spark JVM and the Python workers the JVM forks."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields_path(path: str) -> list[str] | None:
    try:
        with open(path) as fh:
            stat = fh.read()
    except OSError:
        return None
    # fields after the parenthesised command name, starting at field 3
    return stat.rsplit(")", 1)[1].split()


def _stat_fields(pid: int) -> list[str] | None:
    return _stat_fields_path(f"/proc/{pid}/stat")


def tree_pids() -> set[int]:
    """This process and all its descendants."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                parent[int(name)] = int(f[1])
    tree, todo = set(), [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.add(pid)
        todo.extend(c for c, pp in parent.items() if pp == pid and c not in tree)
    return tree


def _cpu_ticks(f: list[str]) -> int:
    # utime, stime, cutime, cstime are stat fields 14-17
    return sum(int(x) for x in f[11:15])


class CpuMeter:
    """CPU seconds (user + system, reaped children included) of the tree,
    less the JVM's JIT compiler threads.  Compilation is warm-up work whose
    amount depends on timing, not on the program's input; time the
    hypervisor steals from the vCPUs is in neither."""

    JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self):
        self._jit: dict[tuple[int, int], int] = {}  # (pid, tid) -> last ticks

    def read(self) -> float:
        ticks = 0
        for pid in tree_pids():
            f = _stat_fields(pid)
            if f is None:
                continue
            ticks += _cpu_ticks(f)
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                try:
                    with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                        name = fh.read().strip()
                except OSError:
                    continue
                if name.startswith(self.JIT_THREADS):
                    tf = _stat_fields_path(f"/proc/{pid}/task/{tid}/stat")
                    if tf is not None:
                        self._jit[(pid, int(tid))] = int(tf[11]) + int(tf[12])
        # a compiler thread that exited keeps its last reading
        return (ticks - sum(self._jit.values())) / _TICK


def wait_gone(pids: set[int], timeout: float) -> set[int]:
    """Wait until none of ``pids`` is running; return those still alive."""
    deadline = time.monotonic() + timeout
    alive = set(pids)
    while alive and time.monotonic() < deadline:
        alive = {p for p in alive if (_stat_fields(p) or ["Z"])[0] != "Z"}
        if alive:
            time.sleep(0.1)
    return alive


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) over the tree."""
    kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0
