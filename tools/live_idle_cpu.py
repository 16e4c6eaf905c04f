"""Idle cost of one live topic: CPU of its ``stream execution`` thread.

Starts a session, registers one durable live topic over an empty frames
directory (no landings, no reads), waits ``--warmup`` seconds, then samples
the driver JVM's per-thread CPU from ``/proc/<jvm>/task/*/stat`` over
``--seconds``.  Prints one JSON line: the stream thread's CPU seconds and
its share of one core, plus the whole JVM's.

Usage:  SPARK_GRAFT_CPUS=4 python tools/live_idle_cpu.py [--seconds 10] [--warmup 5]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

TICK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a /proc stat file; None once it is gone.
    comm may hold spaces and parens, so split at the last ')'."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    lo, hi = raw.index("("), raw.rindex(")")
    return raw[lo + 1:hi], raw[hi + 2:].split()


def _jvm_pid() -> int:
    """The first ``java`` process among this process's descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(f"/proc/{name}/stat")
            if st is not None:
                children.setdefault(int(st[1][1]), []).append(int(name))
    todo = list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop(0)
        st = _stat(f"/proc/{pid}/stat")
        if st is not None and st[0] == "java":
            return pid
        todo.extend(children.get(pid, []))
    raise RuntimeError("no driver JVM among this process's descendants")


def _thread_ticks(pid: int) -> dict[int, tuple[str, int]]:
    """tid -> (comm, utime + stime ticks)."""
    out = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        st = _stat(f"/proc/{pid}/task/{tid}/stat")
        if st is not None:
            out[int(tid)] = (st[0], int(st[1][11]) + int(st[1][12]))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--warmup", type=float, default=5.0)
    args = ap.parse_args()

    from kwack_spark.config import KwackConfig, Serde
    from kwack_spark.engine import KwackSpark
    from kwack_spark.session import get_session

    work = tempfile.mkdtemp(prefix="kw_idle_")
    frames = os.path.join(work, "frames")
    os.makedirs(frames)
    spark = get_session(app_name="live-idle-cpu")
    engine = KwackSpark(KwackConfig(), spark=spark).init()
    engine.register_live_topic(
        "idle",
        value_serde=Serde(kind="string"),
        frames_dir=frames,
        durable_path=os.path.join(work, "land"),
    )
    time.sleep(args.warmup)
    jvm = _jvm_pid()
    before, t0 = _thread_ticks(jvm), time.monotonic()
    time.sleep(args.seconds)
    after, wall = _thread_ticks(jvm), time.monotonic() - t0

    def used(name_prefix: str) -> float:
        return sum(
            ticks - before.get(tid, (comm, 0))[1]
            for tid, (comm, ticks) in after.items()
            if comm.startswith(name_prefix)
        ) / TICK

    stream_s = used("stream executio")  # comm is cut to 15 characters
    jvm_s = used("")
    print(json.dumps({
        "seconds": round(wall, 2),
        "stream_thread_cpu_s": round(stream_s, 3),
        "stream_thread_core_pct": round(100 * stream_s / wall, 1),
        "jvm_cpu_s": round(jvm_s, 3),
        "jvm_core_pct": round(100 * jvm_s / wall, 1),
    }))
    engine.stop()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
