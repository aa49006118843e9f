"""CPU accounting for a process tree from ``/proc`` (Linux).

A process's CPU is its own user+system time plus the time of children it
has already reaped, so summing that over the live tree counts every
thread and every exited worker exactly once.

Finding the tree means reading every process's ``stat``
(``/proc/<pid>/task/<tid>/children`` needs a kernel option that is often
off). That scan runs in the measuring process, which is the tree's root,
so ``cpu_s`` subtracts the CPU its own scans used.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    """(ppid, own+reaped CPU seconds) or None if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            rest = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    ppid = int(rest[1])
    ticks = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
    return ppid, ticks / _TICK


# The JVM's JIT compiler threads, named as /proc shows them (cut at 15
# characters). They are kept alive for the whole run only with
# -XX:-UseDynamicNumberOfCompilerThreads; otherwise a thread that exits
# takes its CPU figure with it.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_cpu_s(pids) -> float:
    total = 0.0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() != "java":
                    continue
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    st = fh.read()
            except OSError:
                continue
            if st[st.index("(") + 1 : st.rindex(")")].startswith(JIT_THREADS):
                rest = st.rsplit(")", 1)[1].split()
                total += (int(rest[11]) + int(rest[12])) / _TICK  # utime stime
    return total


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class ProcessTree:
    def __init__(self, root: int):
        self.root = root
        self.scan_cpu_s = 0.0  # CPU this object's own cpu_s scans used

    def _snapshot(self) -> dict:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        return stats

    @staticmethod
    def _under(stats: dict, roots: set) -> set:
        found = set(roots)
        grew = True
        while grew:
            grew = False
            for pid, (ppid, _) in stats.items():
                if ppid in found and pid not in found:
                    found.add(pid)
                    grew = True
        return found

    def descendants(self) -> set:
        stats = self._snapshot()
        return self._under(stats, {self.root}) - {self.root}

    def cpu_s(self) -> tuple[float, float]:
        """CPU seconds of the root and everything below it, less what
        this object's own scans cost the calling thread; and the part of
        them the JVM's JIT compiler threads used."""
        t0 = time.thread_time()
        stats = self._snapshot()
        tree = self._under(stats, {self.root})
        total = sum(stats[p][1] for p in tree if p in stats)
        jit = _jit_cpu_s(tree)
        self.scan_cpu_s += time.thread_time() - t0
        return total - self.scan_cpu_s, jit

    def pyworker_cpu_s(self) -> float:
        """CPU seconds of the PySpark worker daemon and its workers."""
        stats = self._snapshot()
        tree = self._under(stats, {self.root})
        daemons = {p for p in tree if "pyspark.daemon" in _cmdline(p)}
        return sum(stats[p][1] for p in self._under(stats, daemons) if p in stats)

    @staticmethod
    def wait_gone(pids: set, timeout: float) -> None:
        """Wait until every pid has exited; kill what outlives ``timeout``."""
        live = set(pids)
        for sig in (None, signal.SIGKILL):
            if sig is not None:
                for p in live:
                    try:
                        os.kill(p, sig)
                    except OSError:
                        pass
            deadline = time.monotonic() + (timeout if sig is None else 5)
            while live and time.monotonic() < deadline:
                live = {p for p in live if not _gone(p)}
                time.sleep(0.05)
            if not live:
                return


def _gone(pid: int) -> bool:
    """Exited: no /proc entry, or a zombie waiting for its parent."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
