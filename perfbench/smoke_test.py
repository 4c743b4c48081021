"""Smoke tests for the benchmark itself, at minimum input size.

    python3 perfbench/smoke_test.py [workload ...]

For each workload (default: all four, `corpus_curate` included):
  - an untraced run must pass its checks and print every end-to-end
    metric with its unit from BENCHMARK.json;
  - a traced run must print every per-layer metric, with a nonzero value
    for each one the workload exercises (run.APPLIES);
  - a run whose output is deliberately damaged (--corrupt) must exit
    nonzero without a result line.
Exits nonzero on the first failure. Takes a few minutes.
"""
import json
import subprocess
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

# per-layer metrics that may legitimately read 0 on a small healthy run
MAY_BE_ZERO = {"exec.failed", "llm.busy_s", "core.drain_s", "actors.reduce_s",
               "operators.spill_bytes", "operators.shuffle_read_bytes",
               "operators.shuffle_write_bytes", "operators.gc_s", "jvm.gc_s",
               "trace.overhead_s", "evalx.quick_reject_share",
               "serve.batch_unique_share"}


def bench(workload, trace, corrupt=False):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--size", "min"] + (["--corrupt"] if corrupt else [])
    return subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=400)


def last_json(out):
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]) if lines else None


def check_metrics(res, declared, what):
    got = res["metrics"]
    assert res["correct"] is True and res["attempted"] >= 1, what
    assert set(got) == set(declared), \
        f"{what}: metrics {sorted(set(got) ^ set(declared))} differ"
    for name, unit in declared.items():
        assert got[name]["unit"] == unit, f"{what}: {name} unit {got[name]}"


def main():
    with open("BENCHMARK.json") as fh:
        b = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in b["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in b["per_layer"]}
    for workload in sys.argv[1:] or sorted(run.SIZES):
        out = bench(workload, 0)
        assert out.returncode == 0, f"{workload}: exit {out.returncode}\n{out.stderr[-2000:]}"
        res = last_json(out)
        check_metrics(res, e2e, f"{workload} untraced")
        zero = [m for m, v in res["metrics"].items() if v["value"] <= 0]
        assert not zero, f"{workload}: end-to-end metrics at 0: {zero}"

        out = bench(workload, 1)
        assert out.returncode == 0, f"{workload} traced: exit {out.returncode}\n{out.stderr[-2000:]}"
        res = last_json(out)
        check_metrics(res, layers, f"{workload} traced")
        silent = [m for m, v in res["metrics"].items()
                  if run.applies(workload, m) and m not in MAY_BE_ZERO
                  and v["value"] == 0]
        assert not silent, f"{workload}: applicable layer metrics at 0: {silent}"

        out = bench(workload, 0, corrupt=True)
        assert out.returncode != 0, f"{workload}: corrupted output was accepted"
        assert "INCORRECT" in out.stderr, f"{workload}: {out.stderr[-500:]}"
        lines = out.stdout.strip().splitlines()
        assert not lines or not lines[-1].startswith("{"), \
            f"{workload}: result line printed for a corrupted output"
        print(f"ok  {workload}")
    print("smoke tests passed")


if __name__ == "__main__":
    main()
