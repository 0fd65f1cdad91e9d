"""Run the benchmark several times and report how steady it is.

    python3 perfbench/stability.py --workload nl_employees --seeds 1,2,3,4,5 --seconds 10
    python3 perfbench/stability.py --workload nl_employees --seeds 7,7 --seconds 10

For each end-to-end metric it prints the median, the quartiles and the
spread (interquartile distance over the median, as
``statistics.quantiles(values, n=4)`` gives them) against the bound in
``BENCHMARK.json``. When a seed appears more than once it also states, for
each work counter, whether the runs of that seed repeat it exactly.
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


def run_once(workload: str, seed: int, seconds: float) -> dict:
    start = time.monotonic()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return {"result": json.loads(lines[-1]), "report": json.loads(lines[-2])["report"],
            "wall_s": time.monotonic() - start}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3, (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="comma-separated; repeat a seed to check counters")
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}

    runs = []
    for seed in (int(s) for s in args.seeds.split(",")):
        r = run_once(args.workload, seed, args.seconds)
        runs.append((seed, r))
        m = {k: round(v["value"], 4) for k, v in r["result"]["metrics"].items()}
        m["cpu_ms_per_op"] = round(r["report"]["end_to_end"]["cpu_ms_per_op"], 2)
        m["steal"] = round(r["report"]["stamp"]["cpu_steal_share"], 4)
        m["wall_s"] = round(r["wall_s"], 1)
        print(f"seed {seed}: correct={r['result']['correct']} attempted={r['result']['attempted']} "
              f"failed={r['result']['failed']} {m} load={r['report']['stamp']['loadavg_start'][0]:.2f}",
              flush=True)

    summary = {}
    if len(runs) >= 2:
        for name, bound in bounds.items():
            values = [r["result"]["metrics"][name]["value"] for _, r in runs]
            q1, med, q3, s = spread(values)
            summary[name] = dict(median=med, q1=q1, q3=q3, spread=s, bound=bound,
                                 within_third=s < bound / 3)
            print(f"{name}: median={med:.4f} q1={q1:.4f} q3={q3:.4f} spread={s:.4f} "
                  f"bound={bound} {'ok' if s < bound / 3 else 'WIDE'}")
    by_seed: dict[int, list] = {}
    for seed, r in runs:
        by_seed.setdefault(seed, []).append(r["report"]["work_counters"])
    for seed, counters in by_seed.items():
        if len(counters) > 1:
            for name in counters[0]:
                same = all(c[name] == counters[0][name] for c in counters)
                print(f"seed {seed} counter {name}: {'repeats exactly' if same else 'differs'} "
                      f"{[c[name] for c in counters]}")
    print(json.dumps({"workload": args.workload, "spread": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
