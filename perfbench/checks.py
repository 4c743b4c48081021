"""Correctness checks over the benchmark JVM's outputs.

Each check returns a list of failure messages; an empty list means the
output is correct. `run.py` fails the run (nonzero exit, no result line)
when any check fails.

Table comparison follows the repo's oracle gate: columns sorted by name,
rows sorted by all values, exact equality except floats, which compare
to 1e-9 relative.
"""
import glob
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq


def nl2sql(passes, questions):
    """Every pass's per-item EX must equal the generator's label, and
    only the still-broken items may fail to execute."""
    errs = []
    want = {q["instance_id"]: q for q in questions}
    if not passes:
        errs.append("no evaluated pass")
    for n, outcome in enumerate(passes):
        if set(outcome) != set(want):
            errs.append(f"pass {n}: items {sorted(set(outcome) ^ set(want))[:5]}")
            continue
        for iid, got in outcome.items():
            q = want[iid]
            if got["ex"] != q["ex"]:
                errs.append(f"pass {n}: {iid} ({q['category']}) EX {got['ex']} "
                            f"!= label {q['ex']}")
            if got["pred_error"] != (q["category"] == "stuck"):
                errs.append(f"pass {n}: {iid} ({q['category']}) pred_error "
                            f"{got['pred_error']}")
    return errs


def serve(runs, batches, questions):
    """/api/run EX must equal the label; each /api/run_batch score minus
    its staged label must be a speed bonus in [0, 0.5] for correct items
    and exactly 0 otherwise; repeated signatures share one score."""
    errs = []
    want = {q["instance_id"]: q for q in questions}
    if not runs or not batches:
        errs.append(f"too few responses: {len(runs)} run, {len(batches)} batch")
    for iid, ex in runs:
        if ex != want[iid]["ex"]:
            errs.append(f"/api/run {iid}: EX {ex} != label {want[iid]['ex']}")
    for ids, scores in batches:
        if len(ids) != len(scores):
            errs.append(f"/api/run_batch: {len(scores)} scores for {len(ids)} items")
            continue
        seen = {}
        for iid, score in zip(ids, scores):
            q = want[iid]
            bonus = score - q["stage"]
            ok = (0.0 <= bonus <= 0.5) if q["ex"] == 1 else bonus == 0.0
            if not ok:
                errs.append(f"/api/run_batch {iid} ({q['category']}): score "
                            f"{score} vs stage {q['stage']}")
            if seen.setdefault(iid, score) != score:
                errs.append(f"/api/run_batch {iid}: repeated signature scored "
                            f"{seen[iid]} and {score}")
    return errs


def _norm(x):
    if isinstance(x, float) and math.isnan(x):
        return "NaN"
    if isinstance(x, (list, tuple)):
        return tuple(_norm(v) for v in x)
    if hasattr(x, "isoformat"):
        return x.isoformat()
    return x


def _equal(a, b):
    a, b = _norm(a), _norm(b)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_equal(x, y) for x, y in zip(a, b))
    if isinstance(a, float) and isinstance(b, float):
        return a == b or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _canon(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = [tuple(r[i] for i in order) for r in rows]
    rows.sort(key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r))
    return [names[i] for i in order], rows


def read_parquet_dir(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pa.concat_tables([pq.read_table(f) for f in files])


def table(got_dir, oracle_sql, views):
    """Compares a parquet output directory with the DuckDB oracle run
    over `views` (name -> list of parquet files)."""
    got = read_parquet_dir(got_dir)
    if got is None:
        return [f"no output in {got_dir}"]
    con = duckdb.connect()
    for name, files in views.items():
        lst = ", ".join(f"'{f}'" for f in files)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet([{lst}])")
    cur = con.execute(oracle_sql)
    want_names = [d[0] for d in cur.description]
    want_rows = cur.fetchall()
    con.close()
    names = got.column_names
    cols = [got.column(c).to_pylist() for c in names]
    got_rows = list(zip(*cols)) if cols else []
    gn, gr = _canon(names, got_rows)
    wn, wr = _canon(want_names, want_rows)
    if gn != wn:
        return [f"columns {gn} != oracle {wn}"]
    if len(gr) != len(wr):
        return [f"{len(gr)} rows != oracle {len(wr)}"]
    if not wr:
        return ["oracle returned no rows"]
    bad = [i for i, (a, b) in enumerate(zip(gr, wr)) if not _equal(a, b)]
    if bad:
        return [f"{len(bad)} rows differ from the oracle; first: "
                f"{str(gr[bad[0]])[:200]} vs {str(wr[bad[0]])[:200]}"]
    return []
