"""Steadiness self-check and tracing overhead.

    python3 perfbench/steady.py [--workloads w1,w2] [--runs 10] [--seed0 1]
    python3 perfbench/steady.py --overhead [--workloads ...] [--seed0 1]

The first form runs each workload ``--runs`` times, each with its own seed,
and prints per end-to-end metric the median, the quartiles and the
interquartile spread as a share of the median, against the metric's bound in
``BENCHMARK.json`` ("ok" within the bound, "steady" below a third of it).

The second form runs each workload once untraced and once traced on the same
seed and prints the tracing overhead: traced minus untraced set-up time,
CPU and wall time per operation, and first query time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WALLS: list[float] = []  # wall seconds of every run made, process start to exit
ENVS: list[dict] = []  # the environment line of every run made


def bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(b: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = b["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(b["run_seconds"]), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    WALLS.append(time.perf_counter() - t0)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed} exited {p.returncode}")
    ENVS.append(json.loads(lines[-2]) if len(lines) > 1 else {})
    return json.loads(lines[-1])


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def steadiness(b: dict, workloads: list[str], runs: int, seed0: int) -> dict:
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    out = {}
    for w in workloads:
        vals: dict[str, list[float]] = {}
        first_wall = len(WALLS)
        for r in range(runs):
            res = run_once(b, w, seed0 + r, 0)
            for k, v in res["metrics"].items():
                vals.setdefault(k, []).append(v["value"])
        out[w] = vals
        walls = WALLS[first_wall:]
        steal = statistics.median(e.get("steal_share", 0.0) for e in ENVS[first_wall:])
        print(f"== {w} ({runs} runs, seeds {seed0}..{seed0 + runs - 1}, "
              f"wall per run {statistics.mean(walls):.1f} s, max {max(walls):.1f} s, "
              f"median steal {steal:.3f})")
        for k, v in vals.items():
            med, q1, q3, sp = spread(v)
            verdict = "steady" if sp < bounds[k] / 3 else "ok" if sp <= bounds[k] else "WIDE"
            print(f"  {k:16s} median {med:10.4g} q1 {q1:10.4g} q3 {q3:10.4g} "
                  f"spread {sp:6.3f} bound {bounds[k]:.2f} {verdict}")
        sys.stdout.flush()
    return out


def overhead(b: dict, workloads: list[str], seed: int) -> None:
    units = {"setup_s": "s", "op_cpu_ms": "ms", "op_p50_ms": "ms", "first_query_s": "s"}
    for w in workloads:
        plain = {k: v["value"] for k, v in run_once(b, w, seed, 0)["metrics"].items()}
        plain.update((k, ENVS[-1][k]) for k in ("op_p50_ms", "first_query_s"))
        traced = run_once(b, w, seed, 1)["metrics"]
        parts = [
            f"{name} {traced[f'trace.{name}']['value'] - plain[name]:+.4g} {unit}"
            for name, unit in units.items()
        ]
        print(f"tracing overhead {w}: " + ", ".join(parts))


def main() -> None:
    b = bench()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in b["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("--out", help="write the raw values, walls and environment lines here as JSON")
    args = ap.parse_args()
    ws = args.workloads.split(",")
    if args.overhead:
        overhead(b, ws, args.seed0)
        return
    vals = steadiness(b, ws, args.runs, args.seed0)
    if len(ws) == len(b["workloads"]):
        # time for a schedule of 4 + 22 runs per workload
        per = statistics.mean(WALLS)
        n = 4 + 22 * len(ws)
        print(f"projected schedule: {n} runs x {per:.1f} s = {n * per:.0f} s")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"metrics": vals, "walls": WALLS, "envs": ENVS}, fh, indent=1)


if __name__ == "__main__":
    main()
