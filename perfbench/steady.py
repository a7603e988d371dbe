"""Steadiness check: two sets of benchmark runs of the same code.

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workloads a,b]

Each run is a separate ``run.py`` process with its own seed (set ``k``,
run ``i`` uses seed ``k * runs + i + 1``). For every workload and
end-to-end metric it prints the median, the quartiles and the spread
(``(q3 - q1) / median``, from ``statistics.quantiles(values, n=4)``) of
each set, and whether the sets agree: the spread within the metric's
``bound`` in ``BENCHMARK.json`` (not required of ``setup_s``) and the
second median not worse than the first by more than the bound. It also
prints the pooled spread of all runs against a third of the bound, the
margin the benchmark is tuned to. Exit status 1 when a set disagrees or
a run fails its output checks.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(spec: dict, workload: str, seed: int) -> dict:
    cmd = [sys.executable if c == "python3" else c for c in spec["command"]]
    t0 = time.perf_counter()
    proc = subprocess.run(
        [*cmd, "--workload", workload, "--seed", str(seed),
         "--seconds", str(spec["run_seconds"]), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: {proc.stderr[-2000:]}")
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    res["wall_s"] = wall
    vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
    print(f"  run {workload} seed {seed}: wall {wall:.1f} s {vals}", flush=True)
    return res


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse ``second`` is than ``first``, as a share of it."""
    return (second - first) / first if better == "lower" else (first - second) / first


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", default="")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = args.workloads.split(",") if args.workloads else [
        w["name"] for w in spec["workloads"]
    ]
    ok = True
    for wl in names:
        sets, walls = [], []
        for k in range(args.sets):
            runs = [one_run(spec, wl, k * args.runs + i + 1) for i in range(args.runs)]
            ok &= all(r["correct"] and r["failed"] == 0 for r in runs)
            walls += [r["wall_s"] for r in runs]
            sets.append(runs)
        print(f"== {wl}: wall per run median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        for m in spec["end_to_end"]:
            per_set = [
                summarize([r["metrics"][m["name"]]["value"] for r in runs])
                for runs in sets
            ]
            pooled = summarize([
                r["metrics"][m["name"]]["value"] for runs in sets for r in runs
            ])
            agree = all(
                m["name"] == "setup_s" or s["spread"] <= m["bound"] for s in per_set
            ) and all(
                worse_by(per_set[0]["median"], s["median"], m["better"]) <= m["bound"]
                for s in per_set[1:]
            )
            ok &= agree
            cells = "  ".join(
                f"set{k + 1} med {s['median']:.4g} q1 {s['q1']:.4g} "
                f"q3 {s['q3']:.4g} spread {s['spread']:.3f}"
                for k, s in enumerate(per_set)
            )
            print(f"  {m['name']:<10} {cells}  pooled spread {pooled['spread']:.3f}"
                  f" (a third of bound {m['bound'] / 3:.3f})"
                  f"  {'agree' if agree else 'DISAGREE'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
