"""Pinned environment, its record, and the memory sampler."""

from __future__ import annotations

import os
import platform
import sys
import tempfile
import threading
import time


def cores() -> int:
    """CPUs this process may run on (not ``nproc``, which honours
    OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


# HotSpot's JIT compiler and G1 garbage-collector threads (``comm`` is cut
# to 15 characters)
JVM_SERVICE_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread", "G1 ")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, the fields after it) of a /proc stat file; None when gone."""
    try:
        with open(path) as fh:
            s = fh.read()
    except OSError:
        return None
    return s[s.index("(") + 1 : s.rindex(")")], s.rsplit(")", 1)[1].split()


class ProgramCpu:
    """Calling it gives the CPU seconds used so far by this process, the
    Spark JVM it launched and the JVM's Python workers (reaped children
    included), less the JVM's JIT compiler and garbage-collector threads,
    from /proc.

    The kernel does not charge a process for time the hypervisor gave to
    other guests (steal), so on a shared host CPU time moves far less
    between runs than wall time.  The JVM's own service threads are left
    out because when they run varies from run to run, not with the work:
    in ``live_topic`` the JIT compiler threads used 1.6-4 CPU seconds per
    5 s, about as much as all the JVM's other threads, and one G1
    concurrent marking cycle (3.4 CPU seconds) fell inside some 20 s
    windows and not in others.  Such threads that the JVM stops when idle
    keep the CPU they had at the last reading."""

    def __init__(self) -> None:
        self._service: dict[tuple[int, int], int] = {}

    def __call__(self) -> float:
        ticks = 0
        pids = _tree(os.getpid())
        for pid in pids:
            st = _stat(f"/proc/{pid}/stat")
            if st is None:
                continue
            comm, f = st
            ticks += sum(int(v) for v in f[11:15])
            if comm != "java":
                continue
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                t = _stat(f"/proc/{pid}/task/{tid}/stat")
                if t is not None and t[0].startswith(JVM_SERVICE_THREADS):
                    self._service[(pid, int(tid))] = int(t[1][11]) + int(t[1][12])
        live = set(pids)
        ticks -= sum(v for (pid, _), v in self._service.items() if pid in live)
        return ticks / os.sysconf("SC_CLK_TCK")


program_cpu_s = ProgramCpu()


def pin(work: str) -> dict:
    """Pin Spark to ``local[cores]`` with ``cores`` shuffle partitions, UTC,
    and scratch directories inside ``work``.  Returns what was pinned."""
    n = cores()
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(n),
        "KWACK_SHUFFLE_PARTITIONS": str(n),
        "SPARK_LOCAL_DIRS": local,
        # no JVM writes outside ``work``: not even hsperfdata under /tmp,
        # from the Spark JVM or from spark-submit's launcher
        "KWACK_DRIVER_JAVA_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "TZ": "UTC",
    }
    os.environ.update(pinned)
    os.environ.pop("SPARK_MASTER", None)
    time.tzset()
    tempfile.tempdir = tmp
    return pinned


def since_start() -> float:
    """Seconds since this process started, interpreter start-up included
    (start time from /proc/self/stat, in clock ticks since boot)."""
    with open("/proc/self/stat") as fh:
        start = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    """All-CPU times from /proc/stat: user, nice, system, idle, iowait, irq,
    softirq, steal (guest time is already counted in user and nice)."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:9]]


def busy_share(interval: float = 0.5) -> float:
    """Share of all CPU time spent busy over ``interval``, from /proc/stat.
    Unlike the load average it does not carry over the previous run."""
    a = cpu_ticks()
    time.sleep(interval)
    b = cpu_ticks()
    d = [y - x for x, y in zip(a, b)]
    return (sum(d) - d[3] - d[4]) / max(1, sum(d))


def steal_share(a: list[int], b: list[int]) -> float:
    """Share of CPU time between ``cpu_ticks()`` readings ``a`` and ``b``
    that the hypervisor gave to other guests: time this run wanted a CPU
    and did not get one."""
    d = [y - x for x, y in zip(a, b)]
    return d[7] / max(1, sum(d))


def record() -> dict:
    import pyspark

    load = os.getloadavg()
    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "cores": cores(),
        "load1": round(load[0], 2),
        "load5": round(load[1], 2),
    }


def _tree(root: int) -> list[int]:
    """``root`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared by forked Python workers are
    split between them instead of counted once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemorySampler:
    """Peak summed PSS of this process, the Spark JVM it launched and every
    Python worker, sampled from /proc on a background thread."""

    def __init__(self, interval: float = 0.2, enabled: bool = True):
        self.interval = interval
        self.enabled = enabled
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        kb = sum(_pss_kb(p) for p in _tree(os.getpid()))
        self.peak_kb = max(self.peak_kb, kb)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "MemorySampler":
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        if self.enabled:
            self._stop.set()
            self._thread.join(timeout=10)
            self._sample()
