"""Steadiness mode: two sets of runs of the same tree, compared against the
benchmark's own bounds.

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workload NAME ...]

Runs ``run.py`` once per (set, workload, seed), one process at a time, every
run with another seed. For every workload and end-to-end metric it prints
each set's median and quartiles (``statistics.quantiles(n=4)``), the
quartile spread as a share of the median, and whether the sets agree: each
set's spread within the metric's bound (``setup_s`` exempt) and no later
set's median worse than the first set's by more than the bound. Raw results
go to ``.perfbench_out/steady-<time>.jsonl``. Exit code 1 when a run fails
or the sets disagree.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}: {p.stderr[-2000:]}")
    return json.loads(lines[-1])


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}


def worse_by(first: float, later: float, better: str) -> float:
    """Share of ``first`` by which ``later`` is worse (negative = better)."""
    return (later - first) / first if better == "lower" else (first - later) / first


def main() -> None:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workload", action="append", choices=names)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    workloads = args.workload or names
    out = ROOT / ".perfbench_out"
    out.mkdir(exist_ok=True)
    raw = out / f"steady-{time.strftime('%Y%m%d-%H%M%S')}.jsonl"

    # values[workload][metric][set] -> list of run values
    values: dict = {w: {m["name"]: [[] for _ in range(args.sets)]
                        for m in spec["end_to_end"]} for w in workloads}
    ok = True
    seed = args.first_seed
    for s in range(args.sets):
        for _ in range(args.runs):
            for w in workloads:
                res = one_run(w, seed, spec["run_seconds"])
                with raw.open("a") as f:
                    f.write(json.dumps({"set": s, "workload": w, "seed": seed, **res}) + "\n")
                ok &= res["correct"] and res["failed"] == 0
                for name, m in res["metrics"].items():
                    values[w][name][s].append(m["value"])
            seed += 1

    for w in workloads:
        for m in spec["end_to_end"]:
            sets = [summary(v) for v in values[w][m["name"]]]
            spread_ok = m["name"] == "setup_s" or all(x["spread"] <= m["bound"] for x in sets)
            drift = max(worse_by(sets[0]["median"], x["median"], m["better"]) for x in sets)
            agree = spread_ok and drift <= m["bound"]
            ok &= agree
            print(json.dumps({
                "workload": w, "metric": m["name"], "unit": m["unit"],
                "bound": m["bound"], "sets": sets, "worst_drift": drift,
                "agree": agree,
            }))
    print(f"raw results: {raw}", file=sys.stderr)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
