"""Process-tree and host counters read from ``/proc``.

The engine runs in three kinds of process: this Python driver, the JVM it
launches and the JVM's Python workers. CPU and memory are summed over
the whole tree below this process.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    todo, seen = [root or os.getpid()], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _stat_fields(pid: int | str) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        # the command name may hold spaces; fields resume after its ')'
        return f.read().rsplit(")", 1)[1].split()


def cpu_seconds(root: int | None = None) -> float:
    """User + system CPU of the tree, including reaped children of each
    member (a worker that exits is charged to the process that waited)."""
    total = 0
    for pid in tree(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue  # exited meanwhile
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def jit_cpu_seconds(root: int | None = None) -> float:
    """CPU of the JVM's JIT compiler threads (``C1/C2 CompilerThread``)
    in the tree: code the engine generates at run time is compiled here."""
    total = 0
    for pid in tree(root):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if "CompilerThre" not in f.read():
                        continue
                f = _stat_fields(f"{pid}/task/{tid}")
            except OSError:
                continue
            total += int(f[11]) + int(f[12])  # utime stime
    return total / _TICK


def peak_rss_mb(root: int | None = None) -> float:
    """Sum over the tree of each process's peak resident set (VmHWM)."""
    kb = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def cpu_times() -> list[int]:
    """Host-wide jiffies from the ``cpu`` line of ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two samples."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # guest time is already inside user/nice
    return 100.0 * delta[7] / total if total > 0 else 0.0


def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + int(_stat_fields(os.getpid())[19]) / _TICK


def calib_ms(loops: int = 3) -> float:
    """Fastest of ``loops`` runs of a fixed pure-Python loop, in ms. A
    witness of host speed: it does the same work on every run."""
    best = float("inf")
    for _ in range(loops):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc + i * i) % 1_000_003
        best = min(best, time.perf_counter() - t0)
    return best * 1000.0


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` is alive (zombies count as gone); return
    the ones still alive at the timeout."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive:
        alive = [p for p in alive if _alive(p)]
        if not alive or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    return alive


def _alive(pid: int) -> bool:
    try:
        return _stat_fields(pid)[0] not in ("Z", "X")
    except OSError:
        return False
