"""Steadiness check: runs the benchmark on several seeds and reports, per
end-to-end metric, the median and the spread (interquartile range over
median, as `statistics.quantiles(values, n=4)` gives the quartiles).

    python3 perfbench/steady.py --workload <name> --seeds 1-10 [--sets 2]
        [--seconds 15]

With --sets 2 it repeats the whole seed list and also reports how far the
second set's median moved from the first's. A spread or a move above the
metric's bound in BENCHMARK.json is flagged; `setup_s` is exempt from the
spread test, not from the move test.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        stdout=subprocess.PIPE, text=True, timeout=400)
    if out.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit {out.returncode}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    return {k: v["value"] for k, v in res["metrics"].items()}


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    sets = []
    for s in range(a.sets):
        runs = [run(a.workload, seed, seconds) for seed in seeds(a.seeds)]
        sets.append({m: [r[m] for r in runs] for m in bounds})
    with open(os.path.join(".bench_work", f"steady-{a.workload}.json"), "w") as fh:
        json.dump(sets, fh)
    bad = 0
    for m, bound in bounds.items():
        line = f"{m:22s} bound {bound:.2f}"
        meds = []
        for st in sets:
            med, sp = spread(st[m])
            meds.append(med)
            flag = "" if m == "setup_s" or sp <= bound / 3 else (
                " (>1/3 bound)" if sp <= bound else " SPREAD>BOUND")
            bad += flag == " SPREAD>BOUND"
            line += f" | median {med:.4g} spread {sp:.3f}{flag}"
        if len(meds) > 1:
            move = (meds[1] - meds[0]) / meds[0]
            line += f" | move {move:+.3f}"
            bad += abs(move) > bound
        print(line)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
