"""CPU time and memory of a process tree, read from /proc.

The tree is this Python driver, the Spark JVM it launched and the
JVM's Python daemon and workers.  CPU includes the reaped children
(`cutime`/`cstime`), so a worker that exits mid-interval still counts:
its time moves into its parent's reaped-children fields.  CPU excludes
the JVM's JIT compiler threads (run the JVM with
-XX:-UseDynamicNumberOfCompilerThreads so they live as long as the
JVM): on passes of a few seconds they burn more CPU than the pipeline
and decay from pass to pass, a start-up cost a long-running job does
not pay.

Memory is the proportional set size (PSS): a page shared by several
processes (the Python daemon and its forked workers) counts once in
the sum, where summed RSS counts it per process.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> list[tuple[str, list[str]]]:
    """(pid, stat fields from field 3 on) for root and its descendants."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                stats[pid] = st
    members, frontier = [], [str(root)]
    while frontier:
        pid = frontier.pop()
        if pid in stats:
            members.append((pid, stats[pid]))
            frontier.extend(p for p, st in stats.items() if st[1] == pid)
    return members


def _ticks(st: list[str], children: bool = True) -> int:
    # fields 14-17 (utime, stime, cutime, cstime) -> indices 11..14
    return sum(int(x) for x in st[11:15 if children else 13])


def _compiler_ticks(pid: str) -> int:
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(("C1 Compiler", "C2 Compiler")):
                    continue
        except OSError:
            continue
        st = _stat(f"{pid}/task/{tid}")
        if st is not None:
            total += _ticks(st, children=False)
    return total


def cpu_seconds(root: int) -> float:
    """user+sys CPU of the tree, reaped children included, JIT compiler
    threads excluded."""
    return sum(_ticks(st) - _compiler_ticks(pid)
               for pid, st in tree(root)) / _TICK


def pss_mb(root: int) -> float:
    total_kb = 0
    for pid, _ in tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


class PeakMemory:
    """Samples the tree's summed PSS every `interval` seconds while
    active; `peak` is the largest sample (MB).  Reading PSS costs
    ~30 ms of CPU per sample, charged to this process: `cpu_s` is the
    sampler thread's own CPU, for the caller to subtract."""

    def __init__(self, root: int, interval: float = 0.5):
        self.root, self.interval = root, interval
        self.peak = self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        t0 = time.thread_time()
        while True:
            self.peak = max(self.peak, pss_mb(self.root))
            self.cpu_s = time.thread_time() - t0
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
