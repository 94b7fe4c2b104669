"""Make sets of benchmark runs and print each metric's median and
quartiles, per workload and set.

    python3 perfbench/sets.py --sets 2 --seeds 10
    python3 perfbench/sets.py --workloads cv_arrivals --sets 1 --seeds 5

Runs ``run.py`` once per (set, workload, seed), one at a time, from
the root of the checkout; set ``s`` uses seeds ``s*100+1 ..
s*100+seeds``. For every end-to-end metric it prints the median, the
first and third quartiles (``statistics.quantiles(n=4)``) and their
distance as a share of the median, and for each pair of sets the
change of the median. The runs are untraced.
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
CHECKOUT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: float) -> dict:
    t = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=CHECKOUT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    out = json.loads(lines[-1])
    out["wall_s"] = time.perf_counter() - t
    # the run's wall-clock figures, logged on stderr as
    # "wall: wall.op_time_ms 1897 ms, ..."; summarised with the metrics
    for line in p.stderr.splitlines():
        if "] wall: " in line:
            for item in line.split("] wall: ", 1)[1].split(", "):
                name, value, unit = item.split()
                out["metrics"][name] = {"value": float(value), "unit": unit}
    return out


def summary(values: list[float]) -> tuple[float, float, float, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main() -> int:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", nargs="+",
                    default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    args = ap.parse_args()

    results: dict[str, list[list[dict]]] = {w: [] for w in args.workloads}
    for s in range(args.sets):
        for w in args.workloads:
            runs = []
            for i in range(1, args.seeds + 1):
                r = run_once(w, s * 100 + i, args.seconds)
                runs.append(r)
                vals = " ".join(f"{k} {v['value']:.4g}" for k, v in r["metrics"].items())
                print(f"set {s} {w} seed {s * 100 + i}: wall {r['wall_s']:.1f} s "
                      f"attempted {r['attempted']} failed {r['failed']} "
                      f"correct {r['correct']} {vals}", file=sys.stderr, flush=True)
            results[w].append(runs)

    for w, sets in results.items():
        print(f"== {w}")
        names = sorted(sets[0][0]["metrics"])
        for name in names:
            meds = []
            for s, runs in enumerate(sets):
                vals = [r["metrics"][name]["value"] for r in runs]
                med, q1, q3, spread = summary(vals) if len(vals) > 1 else (vals[0],) * 3 + (0.0,)
                meds.append(med)
                unit = runs[0]["metrics"][name]["unit"]
                print(f"  {name:40s} set {s}: median {med:12.4f} {unit:6s} "
                      f"q1 {q1:12.4f} q3 {q3:12.4f} spread {spread:6.3f}")
            for s in range(1, len(meds)):
                print(f"  {name:40s} set {s} vs 0: median change "
                      f"{(meds[s] - meds[0]) / meds[0]:+.3f}")
        for s, runs in enumerate(sets):
            att = sum(r["attempted"] for r in runs)
            fail = sum(r["failed"] for r in runs)
            walls = [r["wall_s"] for r in runs]
            print(f"  set {s}: attempted {att} failed {fail} "
                  f"correct {all(r['correct'] for r in runs)} "
                  f"run wall median {statistics.median(walls):.1f} s max {max(walls):.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
