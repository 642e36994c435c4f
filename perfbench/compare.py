"""Compare two sets of benchmark results (files written by ``sweep.py``).

    python3 perfbench/compare.py before.json after.json

Names every workload whose share of runs with ``"correct": true`` fell,
every (workload, end-to-end metric) pair whose median got worse by more
than the metric's ``bound`` in ``BENCHMARK.json``, and every per-layer
work counter (calls, Spark jobs, tasks, records) whose median over the
traced runs rose, or byte counter that rose by more than
``BYTES_SLACK``: the engine writes wall-clock timestamps (e.g. the
launches' ``ingested_at``), so the bytes one seed writes differ by a
few bytes from run to run. Per-layer times are left out: they are not
load-independent. Exits 1 when it names anything, else 0.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys

WORK_COUNTERS = (
    ".calls", ".spark_jobs", ".spark_tasks", ".input_records", ".shuffle_records",
)
BYTE_COUNTERS = (".output_bytes",)
BYTES_SLACK = 0.001


def _runs(path: str) -> list[dict]:
    with open(path) as f:
        return json.load(f)["runs"]


def correct_shares(path: str) -> dict[str, float]:
    """Per workload: the share of its runs that passed every check."""
    seen: dict[str, list[bool]] = {}
    for r in _runs(path):
        seen.setdefault(r["workload"], []).append(bool(r["result"]["correct"]))
    return {w: sum(v) / len(v) for w, v in seen.items()}


def medians(path: str, trace: int) -> dict[tuple[str, str], float]:
    runs = _runs(path)
    values: dict[tuple[str, str], list[float]] = {}
    for r in runs:
        if r["trace"] != trace:
            continue
        for name, m in r["result"]["metrics"].items():
            values.setdefault((r["workload"], name), []).append(m["value"])
    return {k: statistics.median(v) for k, v in values.items()}


def compare(bench: dict, before: str, after: str) -> list[str]:
    found = []
    b, a = correct_shares(before), correct_shares(after)
    for wl in sorted(set(b) & set(a)):
        if a[wl] < b[wl]:
            found.append(f"{wl} correct runs: {b[wl]:.0%} -> {a[wl]:.0%} (fell)")
    b, a = medians(before, 0), medians(after, 0)
    for wl in bench["workloads"]:
        for m in bench["end_to_end"]:
            key = (wl["name"], m["name"])
            if key not in b or key not in a or not b[key]:
                continue
            change = (a[key] - b[key]) / abs(b[key])
            worse = change if m["better"] == "lower" else -change
            if worse > m["bound"]:
                found.append(
                    f"{wl['name']} {m['name']}: {b[key]:.4g} -> {a[key]:.4g} "
                    f"{m['unit']} ({worse:+.1%} worse, bound {m['bound']:.0%})"
                )
    b, a = medians(before, 1), medians(after, 1)
    for key in sorted(set(b) & set(a)):
        rose = key[1].endswith(WORK_COUNTERS) and a[key] > b[key]
        rose |= key[1].endswith(BYTE_COUNTERS) and a[key] > b[key] * (1 + BYTES_SLACK)
        if rose:
            found.append(f"{key[0]} {key[1]}: {b[key]:g} -> {a[key]:g} (rose)")
    return found


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--benchmark", default="BENCHMARK.json")
    args = ap.parse_args()
    with open(args.benchmark) as f:
        bench = json.load(f)
    found = compare(bench, args.before, args.after)
    for line in found:
        print(line)
    if not found:
        print("no end-to-end metric outside its bound, no work counter rose")
    return 1 if found else 0


if __name__ == "__main__":
    sys.exit(main())
