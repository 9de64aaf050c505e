"""Host facts and process-tree CPU and memory from /proc (Linux only)."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return s[s.rindex(")") + 2:].split()


def alive(pid: int) -> bool:
    """True while ``pid`` runs (an exited, unreaped zombie is not alive)."""
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the tree, including reaped children."""
    total = 0
    for p in tree_pids(root):
        f = _stat_fields(p)
        if f is not None:
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def tree_pss_mb(root: int | None = None) -> float:
    """Resident memory of the tree with every shared page split between the
    processes that map it (PSS), so forked Python workers that share their
    parent's pages are not counted once per worker as summed RSS would."""
    total = 0
    for p in tree_pids(root):
        try:
            total += _pss_kb(p)
        except OSError:  # the process ended between listing and reading
            pass
    return total / 1024


class PeakMemory:
    """Samples the tree's PSS on a background thread; ``peak_mb`` is the
    largest value seen."""

    def __init__(self, interval_s: float = 0.5):
        self.peak_mb = 0.0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_pss_mb())
            if self._stop.wait(self._interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_pss_mb())


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def task_slots() -> int:
    """Spark task threads of the measured session: half the CPUs. Beside
    the task threads the JVM runs GC and JIT threads, and every task that
    calls Python feeds a Python worker; with one task thread per CPU these
    oversubscribe a small shared host, and op times then follow the
    scheduler and co-tenant steal more than the program."""
    return max(1, nproc() // 2)


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def load_and_steal() -> dict:
    """1-minute load average and cumulative steal seconds of all CPUs."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    steal = int(cpu[8]) if len(cpu) > 8 else 0
    return {"load1": load1, "steal_s": steal / _TICK}
