"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Generates the workload's inputs from the
seed, runs it against the checkout's ``kwack_spark``, checks every output and
prints, as its last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics untraced,
per-layer metrics traced).  The line before it records the environment.
Exits 1 when an output check fails, 2 when it cannot run at all and 3 when
it overruns its time limit.
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TIME_LIMIT_S = 170.0
WORKLOADS = ("sql_interactive", "live_topic")

END_TO_END = {
    "setup_s": "s",
    "op_cpu_ms": "ms",
}


def tail(samples: list[float]) -> tuple[float, float]:
    """(the highest percentile with at least ten samples beyond it, its
    value); the median when there are fewer than 20 samples."""
    s = sorted(samples)
    n = len(s)
    pct = float(100 * (n - 10) // n) if n >= 20 else 50.0
    if n < 2:
        return pct, s[0]
    return pct, statistics.quantiles(s, n=100, method="inclusive")[int(pct) - 1]


def watchdog(seconds: float) -> threading.Timer:
    """Kill this process tree (Spark JVM and Python workers included) if the
    run has not finished within ``seconds``: a hung run must not outlive its
    time limit or leave processes behind."""

    def abort() -> None:
        from perfbench.envpin import _tree

        print(f"error: run exceeded {seconds:.0f} s; killing it", file=sys.stderr)
        me = os.getpid()
        for pid in reversed(_tree(me)):
            if pid != me:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        os._exit(3)

    t = threading.Timer(seconds, abort)
    t.daemon = True
    t.start()
    return t


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "kwack_spark", "__init__.py")):
        print(f"error: no kwack_spark package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    watchdog(TIME_LIMIT_S - (time.perf_counter() - T_PROCESS))

    from perfbench import envpin

    work = os.path.join(ROOT, "perfbench", ".work", args.workload)
    from perfbench.workloads import clean

    clean(work)
    pinned = envpin.pin(work)

    import kwack_spark.engine  # noqa: F401  (import cost belongs to set-up)
    import kwack_spark.sources.kafka  # noqa: F401

    # process start (interpreter start-up included) -> the program imported
    import_s = envpin.since_start()
    env_start = envpin.record()
    busy_at_start = envpin.busy_share()

    from perfbench import gen, workloads
    from perfbench.trace import PER_LAYER, Tracer, per_layer_table

    inputs = os.path.join(work, "inputs")
    truth = gen.generate(args.workload, inputs, args.seed, args.seconds, traced=bool(args.trace))
    tracer = Tracer(bool(args.trace), f"{args.workload}-{args.seed}")
    eventlog = None
    if args.trace:
        eventlog = os.path.join(work, "eventlog")
        os.makedirs(eventlog, exist_ok=True)
    ctx = workloads.Ctx(
        workload=args.workload,
        seconds=args.seconds,
        work=work,
        inputs=inputs,
        truth=truth,
        tracer=tracer,
        cores=envpin.cores(),
        import_s=import_s,
        eventlog=eventlog,
    )
    ticks0 = envpin.cpu_ticks()
    # peak memory only in traced runs: the sampler's own CPU would count
    # in ``op_cpu_ms``
    with envpin.MemorySampler(enabled=bool(args.trace)) as mem:
        res = workloads.run(ctx)
    steal = envpin.steal_share(ticks0, envpin.cpu_ticks())
    shutdown_jvm()

    if not res.op_ms or not res.op_cpu_ms:
        res.errors.append("no operation completed in the timed region")
        res.failed += 1
        res.attempted += 1
    ops = res.op_ms or [0.0]
    tail_pct, tail_ms = tail(ops)
    e2e = {
        "setup_s": res.setup_s,
        # the window's CPU per operation: its mean, since one operation's
        # CPU does not wait on anything and has no tail to hide
        "op_cpu_ms": statistics.fmean(res.op_cpu_ms or [0.0]),
    }
    op_p50_ms = statistics.median(ops)
    if args.trace:
        tracer.write(os.path.join(work, "spans.jsonl"))
        res.layer.update(
            {
                "trace.setup_s": e2e["setup_s"],
                "trace.op_cpu_ms": e2e["op_cpu_ms"],
                "trace.op_p50_ms": op_p50_ms,
                "trace.first_query_s": res.first_query_s,
                "mem.peak_rss_mb": mem.peak_kb / 1024.0,
            }
        )
        layer = per_layer_table(res.layer, eventlog, tracer)
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}

    env_end = envpin.record()
    for e in res.errors[:20]:
        print(f"check failed: {e}", file=sys.stderr)
    print(
        json.dumps(
            {
                "env": {**env_start, "load1_end": env_end["load1"], "pinned": pinned},
                # more than half the CPU busy before the run started
                "busy_at_start": round(busy_at_start, 3),
                "loaded_at_start": busy_at_start > 0.5,
                "steal_share": round(steal, 4),
                "first_query_s": res.first_query_s,
                "first_query_cpu_s": res.first_query_cpu_s,
                "samples": len(res.op_ms),
                "op_p50_ms": op_p50_ms,
                "op_tail": {"percentile": tail_pct, "ms": tail_ms},
                "import_s": import_s,
                "op_ms_samples": [round(x, 1) for x in res.op_ms],
                "op_cpu_ms_samples": [round(x, 1) for x in res.op_cpu_ms],
                **res.info,
            }
        )
    )
    correct = res.failed == 0 and not res.errors
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": max(res.attempted, 1),
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


def shutdown_jvm() -> None:
    """Stop the Spark JVM this process launched and wait for it to exit
    (its Python workers end with it)."""
    import subprocess

    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
