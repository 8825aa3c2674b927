"""Host-speed probe, idle guard and /proc readers for the Spark JVM tree.

Every timing the benchmark reports is scaled to *reference-host
seconds*: raw seconds times ``PROBE_REF_S / probe``, where ``probe`` is
a fixed CPU task timed right around the measured work. When a shared
host slows everything down, the probe slows with it and the factor
cancels most of that drift.
"""

from __future__ import annotations

import os
import time

# Median probe time on the reference host (4-core x86-64 VM, OpenJDK 17,
# probing between passes of a warm Spark session): the constant every
# reported time is scaled to.
PROBE_REF_S = 0.0450

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def probe_once(spark) -> float:
    """One fixed CPU-and-memory task in the engine's JVM, outside the
    engine's code: sort 300k seeded random ints. Returns wall seconds.

    It runs in the same process, on the same cores and heap, as the work
    it normalizes, so it sees the host slow-downs that work sees; a
    Python-side loop did not (its own speed varies per process)."""
    t0 = time.perf_counter()
    spark._jvm.java.util.Random(42).ints(300_000).sorted().sum()
    return time.perf_counter() - t0


def probe(spark, reps: int = 5) -> list[float]:
    return [probe_once(spark) for _ in range(reps)]


def scale(probe_s: float) -> float:
    """Factor turning raw seconds measured at ``probe_s`` into
    reference-host seconds."""
    return PROBE_REF_S / probe_s


def spark_idle(spark) -> bool:
    """True when no streaming query and no Spark job is running, so the
    probe measures the host and not our own background work."""
    if spark.streams.active:
        return False
    return len(spark.sparkContext.statusTracker().getActiveJobsIds()) == 0


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after it start at index 2
    return raw[raw.rindex(")") + 2:].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            kids.setdefault(int(st[1]), []).append(int(name))
    return kids


class ProcTree:
    """The JVM process and every process below it (PySpark's daemon and
    its Python workers)."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def pids(self) -> list[int]:
        kids = _children_map()
        out, todo = [], [self.jvm_pid]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(kids.get(p, ()))
        return out

    def cpu_s(self) -> tuple[float, float]:
        """(JVM CPU-seconds, CPU-seconds of everything below the JVM).

        Reaped workers' time lives in their parent's cutime/cstime, so
        the sum over the live tree never loses a finished worker."""
        jvm = workers = 0.0
        for p in self.pids():
            st = _stat(p)
            if st is None:
                continue
            own = (int(st[11]) + int(st[12])) / _CLK_TCK
            reaped = (int(st[13]) + int(st[14])) / _CLK_TCK
            if p == self.jvm_pid:
                jvm += own
                workers += reaped
            else:
                workers += own + reaped
        return jvm, workers

    def hwm_mb(self) -> tuple[float, float, int]:
        """Resident-memory high-water marks (VmHWM): (JVM MB, summed MB of
        the processes below it, how many there are)."""
        kb = [0, 0]
        n = 0
        for p in self.pids():
            try:
                with open(f"/proc/{p}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb[p != self.jvm_pid] += int(line.split()[1])
                            n += p != self.jvm_pid
                            break
            except OSError:
                continue
        return kb[0] / 1024.0, kb[1] / 1024.0, n


def steal_s() -> float:
    """Machine-wide CPU steal time so far, in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK_TCK if len(fields) > 8 else 0.0
