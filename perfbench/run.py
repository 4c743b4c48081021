"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source tree. Builds the program and the benchmark
from source (see build.py), generates the workload's inputs from the seed
(gen.py), runs one JVM on local[nproc] that sets up, warms up and then
measures for --seconds, checks the outputs (checks.py), and prints one
JSON object as the last line of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1 the
per-layer metrics. Exits nonzero, without a result line, when the build,
the run or a correctness check fails. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

# Input sizes. "full" is what the benchmark measures; "min" is the smoke
# size (sf0.001-sized tables, the smallest corpora the checks accept).
SIZES = {
    "nl2sql_batch": {"full": {"customers": 1500, "questions": 48},
                     "min": {"customers": 150, "questions": 16}},
    "serve_reward": {"full": {"customers": 1500, "questions": 8},
                     "min": {"customers": 150, "questions": 8}},
    "corpus_curate": {"full": {"docs": 2000}, "min": {"docs": 500}},
    "corpus_ingest": {"full": {"deltas": 6, "delta_docs": 150,
                               "compact_every": 2},
                      "min": {"deltas": 2, "delta_docs": 60,
                              "compact_every": 2}},
}
BASE_DOCS = 400  # q_corpus_delta's oracle treats doc_id < 400 as the old corpus
# a fixed heap limit, no pre-touch: peak_rss_mb counts the heap pages the
# program really used. A fixed young generation and marking threshold,
# and no heap growth for GC-time reasons (GCTimeRatio=1), take away the
# sizing decisions G1 would otherwise make from the run's pause times;
# the heap grows past its 1 GB start only when live data needs it.
JVM_MEMORY = ["-Xms1g", "-Xmx2g", "-Xmn384m", "-XX:-G1UseAdaptiveIHOP",
              "-XX:GCTimeRatio=1"]
SETUP_REPEATS = 3

END_TO_END = {
    "setup_s": "s", "items_per_s": "1/s", "wall_s": "s",
    "latency_p50_s": "s", "latency_p90_s": "s", "batch_latency_p50_s": "s",
    "cpu_s_per_item": "s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "core.session_build_s": "s", "core.drain_s": "s",
    "exec.calls": "count", "exec.busy_s": "s", "exec.jobs": "count",
    "exec.tasks": "count", "exec.task_cpu_s": "s", "exec.driver_s": "s",
    "exec.failed": "count",
    "dialect.calls": "count", "dialect.busy_s": "s",
    "evalx.calls": "count", "evalx.busy_s": "s", "evalx.rows_compared": "count",
    "evalx.quick_reject_share": "ratio",
    "actors.reduce_s": "s", "actors.parse_s": "s", "actors.generate_s": "s",
    "actors.optimize_s": "s", "actors.jobs": "count", "actors.driver_s": "s",
    "llm.calls": "count", "llm.calls_per_item": "ratio", "llm.busy_s": "s",
    "serve.handle_s": "s", "serve.queue_wait_p50_s": "s",
    "serve.queue_wait_p90_s": "s", "serve.http_floor_s": "s",
    "serve.batch_unique_share": "ratio",
    "operators.build_s": "s", "operators.action_s": "s",
    "operators.build_jobs": "count", "operators.action_jobs": "count",
    "operators.stages": "count", "operators.tasks": "count",
    "operators.task_cpu_s": "s", "operators.parallelism": "ratio",
    "operators.driver_s": "s", "operators.shuffle_read_bytes": "B",
    "operators.shuffle_write_bytes": "B", "operators.input_bytes": "B",
    "operators.spill_bytes": "B", "operators.gc_s": "s",
    "catalog.index_write_s": "s", "catalog.compact_s": "s",
    "catalog.index_files": "count", "catalog.index_bytes": "B",
    "catalog.append_bytes_per_doc": "B",
    "jvm.gc_s": "s", "jvm.heap_after_gc_mb": "MB",
    "trace.overhead_s": "s",
}
# layers each workload exercises; the others report 0 on it
_EVERYWHERE = ("core.session_build_s", "jvm.", "trace.")
APPLIES = {
    "nl2sql_batch": ("core.", "exec.", "dialect.", "evalx.", "actors.", "llm."),
    "serve_reward": ("core.session_build_s", "exec.calls", "exec.busy_s",
                     "exec.jobs", "exec.tasks", "exec.task_cpu_s", "actors.",
                     "llm.", "serve."),
    "corpus_curate": ("core.", "operators."),
    "corpus_ingest": ("core.", "operators.", "catalog."),
}


def applies(workload, metric):
    return metric.startswith(_EVERYWHERE + APPLIES[workload])


def quantile(xs, q):
    """Sample q-quantile, interpolated linearly between order statistics
    (`statistics.quantiles`, inclusive method; q = 0.5 is the median).
    Every quantile the benchmark reports is taken here, from raw
    samples."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def generate(workload, size, seed, work):
    """Writes the inputs under `work` and returns the manifest fields
    plus the labels the checks need."""
    rng = gen.random_for(seed)
    sz = SIZES[workload][size]
    data = os.path.join(work, "data")
    os.makedirs(data, exist_ok=True)
    if workload in ("nl2sql_batch", "serve_reward"):
        facts = gen.write_tpch(rng, os.path.join(data, "tables"), sz["customers"])
        qs = gen.questions(rng, facts, sz["questions"],
                           large=workload == "nl2sql_batch")
        sys_config = os.path.join(data, "sys_config.json")
        with open(sys_config, "w") as fh:
            json.dump({"benchmark": [{
                "id": "perfbench", "root_path": data, "db_type": "spark",
                "has_sub": True, "sub_data": [{"sub_id": "tables"}]}]}, fh)
        m = {"questions": qs, "sys_config": sys_config}
        if workload == "serve_reward":
            m["requests"] = gen.serve_schedule(rng, qs)
        return m
    if workload == "corpus_curate":
        docs = os.path.join(data, "documents.parquet")
        gen.write_documents(docs, gen.corpus(rng, 0, sz["docs"], []))
        return {"docs": docs, "out": os.path.join(work, "out", "curated")}
    base = gen.corpus(rng, 0, BASE_DOCS, [])
    gen.write_documents(os.path.join(data, "base.parquet"), base)
    pool, deltas = list(base), []
    for k in range(sz["deltas"]):
        d = gen.corpus(rng, BASE_DOCS + k * sz["delta_docs"], sz["delta_docs"], pool)
        path = os.path.join(data, f"delta{k}.parquet")
        gen.write_documents(path, d)
        pool += d
        deltas.append(path)
    return {"base": os.path.join(data, "base.parquet"), "deltas": deltas,
            "compact_every": sz["compact_every"]}


def corrupt(workload, res):
    """Damages one output, to show that the checks reject it."""
    if workload == "nl2sql_batch":
        first = res["outcomes"][0]
        iid = sorted(first)[0]
        first[iid]["ex"] = 1 - (first[iid]["ex"] or 0)
    elif workload == "serve_reward":
        res["batches"][0][1][0] += 1.0
    else:
        import pyarrow as pa
        import pyarrow.parquet as pq
        out = res["out_dir"]
        t = checks.read_parquet_dir(out)
        text = t.column("clean_text").to_pylist()
        text[0] = (text[0] or "") + " corrupted"
        t = t.set_column(t.column_names.index("clean_text"), "clean_text",
                         pa.array(text, pa.string()))
        shutil.rmtree(out)
        os.makedirs(out)
        pq.write_table(t, os.path.join(out, "part-0.parquet"))


def check(workload, res, manifest):
    if workload == "nl2sql_batch":
        return (checks.nl2sql(res["outcomes"], manifest["questions"]) +
                res["evaluator_mismatches"])
    if workload == "serve_reward":
        return checks.serve(res["runs"], res["batches"], manifest["questions"])
    if workload == "corpus_curate":
        return checks.table(res["out_dir"], res["oracle_sql"],
                            {"documents": [manifest["docs"]]})
    return checks.table(res["out_dir"], res["oracle_sql"],
                        {"documents": [manifest["base"], manifest["deltas"][0]]})


def end_to_end(workload, res, gen_s):
    passes = res["pass_s"]
    lat = res["request_s"] if workload == "serve_reward" else passes
    items = res["items"]
    return {
        "setup_s": gen_s + res["jvm_to_first_op_s"],
        "items_per_s": items / res["timed_s"],
        "wall_s": quantile(passes, 0.5),
        "latency_p50_s": quantile(lat, 0.5),
        "latency_p90_s": quantile(lat, 0.9),
        "batch_latency_p50_s": quantile(res["batch_s"], 0.5),
        "cpu_s_per_item": res["cpu_s"] / items,
        "peak_rss_mb": res["peak_rss_mb"],
    }


def per_layer(workload, res):
    got = dict(res["layers"])
    for m, xs in res.get("layer_samples", {}).items():
        got[m] = quantile(xs, 0.9 if m.endswith("_p90_s") else 0.5) if xs else 0.0
    got["core.session_build_s"] = res["session_build_s"]
    got["jvm.gc_s"] = res["jvm_gc_s"]
    got["jvm.heap_after_gc_mb"] = res["jvm_heap_after_gc_mb"]
    got["trace.overhead_s"] = (quantile(res["traced_pass_s"], 0.5) -
                               quantile(res["pass_s"], 0.5))
    missing = [m for m in PER_LAYER if applies(workload, m) and m not in got]
    if missing:
        raise SystemExit(f"traced run did not report {missing}")
    return {m: (got[m] if applies(workload, m) else 0.0) for m in PER_LAYER}


def git_commit(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(root, cp, work, manifest, deadline):
    man_path = os.path.join(work, "manifest.json")
    res_path = os.path.join(work, "result.json")
    with open(man_path, "w") as fh:
        json.dump(manifest, fh)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java"] + JVM_MEMORY + [
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", man_path, res_path]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=log, env=env)
        try:
            code = proc.wait(timeout=max(30.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("benchmark JVM timed out")
    if code != 0 or not os.path.exists(res_path):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-3000:])
        raise SystemExit(f"benchmark JVM failed ({code})")
    with open(res_path) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "min"), default="full")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage one output before checking (must then fail)")
    a = ap.parse_args()
    root = os.getcwd()
    cp, digest = build.build(root)
    # the build (first run in a tree only) does not count against the
    # run's own time limit
    deadline = time.time() + 165.0
    work = os.path.join(root, ".bench_work",
                        f"{a.workload}-{a.size}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # input generation is repeatable set-up: do it several times and
    # count the median towards setup_s
    gen_times = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        manifest = generate(a.workload, a.size, a.seed, work)
        gen_times.append(time.perf_counter() - t0)
    manifest.update({"workload": a.workload, "seconds": a.seconds,
                     "trace": a.trace, "cores": os.cpu_count(), "work": work})
    res = run_jvm(root, cp, work, manifest, deadline)
    res["out_dir"] = (manifest.get("out") if a.workload == "corpus_curate"
                      else res.get("first_delta_out"))
    if a.corrupt:
        corrupt(a.workload, res)
    errors = check(a.workload, res, manifest)
    attempted, failed = int(res["attempted"]), int(res["failed"])
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "size": a.size, "commit": git_commit(root),
        "source_digest": digest, "nproc": os.cpu_count(),
        "jvm_flags": res["jvm_flags"], "machine_start": res["machine_start"],
        "machine_end": res["machine_end"], "warmup_done": res["warmup_done"],
        "setup_parts_s": dict(res["setup_parts_s"],
                              generate=quantile(gen_times, 0.5),
                              session_build=res["session_build_s"]),
        "passes": res["passes"], "timed_s": res["timed_s"],
        "spans_file": "spans.json" if a.trace else None,
        "samples": {k: res.get(k) for k in ("pass_s", "traced_pass_s",
                                            "request_s", "handle_s", "batch_s")},
        "error_share": failed / max(attempted, 1),
        "errors": errors[:20], "jobs_by_source": res.get("jobs_by_source"),
    }
    if a.trace:
        metrics = per_layer(a.workload, res)
        units = PER_LAYER
    else:
        metrics = end_to_end(a.workload, res, quantile(gen_times, 0.5))
        units = END_TO_END
    record["metrics"] = metrics
    with open(os.path.join(work, "record.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    for sub in ("data", "out", "index", "snapshot", "warmup", "tmp",
                "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    print(f"perfbench {a.workload} seed={a.seed} nproc={os.cpu_count()} "
          f"passes={res['passes']} commit={record['commit']} "
          f"source={digest[:12]}")
    print(f"  machine start={res['machine_start']} end={res['machine_end']}")
    for k, v in metrics.items():
        print(f"  {k:32s} {v:14.6g} {units[k]}")
    print(f"  error_share {record['error_share']:.4f} "
          f"({failed} of {attempted} operations failed)")
    if res.get("jobs_by_source"):
        print("  jobs by source file: " + json.dumps(res["jobs_by_source"]))
    if errors:
        print(f"  INCORRECT: {len(errors)} check failures", file=sys.stderr)
        for e in errors[:10]:
            print("    " + e, file=sys.stderr)
        sys.exit(1)
    print("  correct: outputs match the generator labels / oracle")
    print(json.dumps({"correct": True, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
