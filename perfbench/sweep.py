"""Run the benchmark over several seeds and save one results file.

    python3 perfbench/sweep.py --out before.json --seeds 1-10 --traced 2

From the root of a checkout. For every workload in ``BENCHMARK.json``
(or ``--workloads a,b``) it makes one untraced run per seed and
``--traced`` traced runs (seeds 1.., the same seeds in both sets so
their counters compare), then prints the mean time of a whole run and
what a check of 4 + 22 x workloads runs would take, each
end-to-end metric's median and spread (interquartile range over
median, as a stability check computes it), the untraced runs'
median pass time (``wall_s``, from their stderr summary) and the
tracing overhead: the traced runs' median ``trace.wall_s`` minus that.
Compare two results files with ``compare.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_one(bench: dict, workload: str, seed: int, trace: int):
    """(result, stderr summary) of one run, or None if it failed. The
    summary also holds the run's whole duration, ``run_s``."""
    cmd = list(bench["command"]) + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, capture_output=True, text=True)
    run_s = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        return None
    summary = {"run_s": run_s}
    for line in p.stderr.splitlines():
        if line.startswith("perfbench: {"):
            summary.update(json.loads(line[len("perfbench: "):]))
    return json.loads(lines[-1]), summary


def spread(values: list[float]) -> float:
    q = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q[2] - q[0]) / med if med else 0.0


def summarize(runs: list[dict], bench: dict) -> None:
    per_run = {
        wl["name"]: statistics.mean(
            r["summary"]["run_s"] for r in runs if r["workload"] == wl["name"]
        )
        for wl in bench["workloads"]
        if any(r["workload"] == wl["name"] for r in runs)
    }
    if len(per_run) == len(bench["workloads"]):
        # a two-set check makes 4 + 22 x workloads runs
        check_s = 22 * sum(per_run.values()) + 4 * max(per_run.values())
        print(f"mean run time {per_run}; a 4 + 22 x {len(per_run)}-run check "
              f"takes ~{check_s:.0f} s")
    for wl in bench["workloads"]:
        name = wl["name"]
        plain = [r["result"] for r in runs if r["workload"] == name and not r["trace"]]
        traced = [r["result"] for r in runs if r["workload"] == name and r["trace"]]
        print(f"== {name}: {len(plain)} runs, {sum(not r['correct'] for r in plain)} "
              "not correct")
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in plain]
            if len(vals) < 2:
                continue
            s = spread(vals)
            flag = "  OVER A THIRD OF BOUND" if s > m["bound"] / 3 else ""
            print(f"  {m['name']:30s} {statistics.median(vals):14.4f} {m['unit']:7s}"
                  f" spread {s:.3f} (bound {m['bound']}){flag}")
        walls = [
            r["summary"]["wall_s"]
            for r in runs
            if r["workload"] == name and not r["trace"] and "wall_s" in r["summary"]
        ]
        if len(walls) >= 2:
            print(f"  pass wall time {statistics.median(walls):.3f} s, spread "
                  f"{spread(walls):.3f} (not gated)")
        if walls and traced:
            overhead = statistics.median(
                r["metrics"]["trace.wall_s"]["value"] for r in traced
            ) - statistics.median(walls)
            print(f"  tracing overhead {overhead:+.3f} s per pass")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--traced", type=int, default=2)
    ap.add_argument("--workloads", default=None)
    args = ap.parse_args()

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = args.workloads.split(",") if args.workloads else [
        w["name"] for w in bench["workloads"]
    ]
    runs = []
    for name in names:
        plan = [(s, 0) for s in args.seeds] + [
            (s, 1) for s in range(1, args.traced + 1)
        ]
        for seed, trace in plan:
            out = run_one(bench, name, seed, trace)
            status = "error" if out is None else f"correct={out[0]['correct']}"
            print(f"{name} seed={seed} trace={trace}: {status}", flush=True)
            if out is not None:
                runs.append(
                    {"workload": name, "seed": seed, "trace": trace,
                     "result": out[0], "summary": out[1]}
                )
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump({"runs": runs}, f, indent=1)
    summarize(runs, bench)
    return 0 if len(runs) == len(names) * len(plan) else 1


if __name__ == "__main__":
    sys.exit(main())
