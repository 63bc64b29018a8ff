"""Run workloads on several seeds and report each end-to-end metric's
median and spread (quartile distance over median) against the bounds in
BENCHMARK.json.

    python3 perfbench/spread.py --seeds 1                             # every workload once
    python3 perfbench/spread.py --workload mapreduce_ehr --seeds 1-10

Runs are sequential, each a separate ``run.py`` process with BENCHMARK.json's
``run_seconds``.
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


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(bench: dict, workload: str, seed_list: list[int]) -> bool:
    """Run ``workload`` once per seed; print each run and the spreads."""
    values: dict[str, list[float]] = {}
    for seed in seed_list:
        t0 = time.perf_counter()
        p = subprocess.run(
            bench["command"] + ["--workload", workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True,
        )
        if p.returncode != 0:
            print(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            return False
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        phases = next((line.strip() for line in lines if line.strip().startswith("run_s=")), "")
        print(f"{workload} seed {seed} ({time.perf_counter() - t0:.0f}s) correct={res['correct']} "
              + " | ".join(f"{k} {v['value']:.4g} {v['unit']}" for k, v in res["metrics"].items())
              + f"\n    {phases}", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    if len(seed_list) < 2:
        return True
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4)
        s = (q3 - q1) / med
        print(f"  {m['name']:16s} median={med:.4g} q1={q1:.4g} q3={q3:.4g} "
              f"spread={s:.3f} bound={m['bound']} spread/bound={s / m['bound']:.2f}")
    return True


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", action="append",
                    help="repeatable; default: every workload in BENCHMARK.json")
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = args.workload or [w["name"] for w in bench["workloads"]]
    ok = all(spread(bench, name, seeds(args.seeds)) for name in names)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
