"""Seeded input generators for the four benchmark workloads.

Every generator takes a `random.Random` built from the run's seed, so the
same seed always yields byte-identical inputs. Each returns the expected
outcome of every item next to the item itself; the checks in `checks.py`
compare the program's outputs against those labels.

Fixed input properties (the same on every seed; only the specific rows,
constants and texts vary), and where each figure comes from:

- nl2sql questions: LARGE_SHARE of the set returns thousands of rows
  (the specification's "about 10%"). BROKEN_SHARE is non-executable and goes
  through repair (half repaired to an equivalent query, a quarter to a
  wrong one, a quarter stays broken), WRONG_SHARE returns wrong values,
  the rest are equivalent rewrites of the gold query. These three
  figures are chosen, not measured: no public source fixes them for
  this mock-LLM setup. They make every outcome category non-empty at the
  smallest size (16 questions), send a fifth of the items through the
  repair turns so that the optimize actor and its extra LLM calls show
  without dominating a pass, and give an overall EX of 0.6.
- serve load: each pass sends two rollout steps to /api/run, every one
  of the nproc workers asking for the same record (the group size is the
  client count the specification allows: nproc), each step followed by one
  /api/run_batch of BATCH_ITEMS records with BATCH_UNIQUE distinct
  signatures (the specification's 8 records, about half repeated). The
  server-held set has no large-result items. The two-steps-per-pass
  rhythm is chosen.
- corpora: NEAR_DUP_SHARE of the documents copy an earlier document and
  append one word (4.9% of the sf0.1 `documents` rows have that shape).
  EXACT_DUP_SHARE are verbatim copies; that figure is chosen (sf0.1 has
  0.2%) so that every 150-document delta holds at least one.
"""
import datetime
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

LARGE_SHARE = 0.10
BROKEN_SHARE = 0.20
WRONG_SHARE = 0.25
BATCH_ITEMS = 8
BATCH_UNIQUE = 4
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.01

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = [("en", 41), ("zh", 15), ("fr", 15), ("es", 15), ("de", 14)]
EPOCH = datetime.datetime(1992, 1, 1)
DAYS = 2400


def random_for(seed):
    return random.Random(f"perfbench-{seed}")


def _write(path, columns, schema):
    pq.write_table(pa.table(columns, schema=schema), path)


def write_tpch(rng, out_dir, n_customers):
    """Writes the ten catalog tables the engine registers. Only region,
    nation, customer and orders carry data the questions read; the other
    six hold a few rows so that registration succeeds. Returns the facts
    the question generator needs to keep every label certain."""
    os.makedirs(out_dir, exist_ok=True)
    i32, i64, f64, s, ts = (pa.int32(), pa.int64(), pa.float64(),
                            pa.string(), pa.timestamp("us"))
    _write(f"{out_dir}/region.parquet",
           {"r_regionkey": list(range(5)), "r_name": REGIONS},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(f"{out_dir}/nation.parquet",
           {"n_nationkey": list(range(25)), "n_name": NATIONS,
            "n_regionkey": [k % 5 for k in range(25)]},
           pa.schema([("n_nationkey", i32), ("n_name", s),
                      ("n_regionkey", i32)]))
    cust = {"c_custkey": [], "c_name": [], "c_nationkey": [],
            "c_acctbal": [], "c_mktsegment": []}
    for k in range(1, n_customers + 1):
        cust["c_custkey"].append(k)
        cust["c_name"].append(f"Customer#{k:09d}")
        # every nation gets customers, so no grouped answer is empty
        cust["c_nationkey"].append((k - 1) % 25 if k <= 25
                                   else rng.randrange(25))
        cust["c_acctbal"].append(round(rng.uniform(-999.99, 9999.99), 2))
        cust["c_mktsegment"].append(rng.choice(SEGMENTS))
    _write(f"{out_dir}/customer.parquet", cust,
           pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                      ("c_acctbal", f64), ("c_mktsegment", s)]))
    orders = {"o_orderkey": [], "o_custkey": [], "o_orderstatus": [],
              "o_totalprice": [], "o_orderdate": [], "o_orderpriority": []}
    for k in range(1, 10 * n_customers + 1):
        orders["o_orderkey"].append(k)
        orders["o_custkey"].append(rng.randrange(1, n_customers + 1))
        orders["o_orderstatus"].append(rng.choice(STATUSES))
        orders["o_totalprice"].append(round(rng.uniform(850.0, 500000.0), 2))
        orders["o_orderdate"].append(
            EPOCH + datetime.timedelta(days=rng.randrange(DAYS)))
        orders["o_orderpriority"].append(rng.choice(PRIORITIES))
    _write(f"{out_dir}/orders.parquet", orders,
           pa.schema([("o_orderkey", i64), ("o_custkey", i64),
                      ("o_orderstatus", s), ("o_totalprice", f64),
                      ("o_orderdate", ts), ("o_orderpriority", s)]))
    few = list(range(1, 6))
    _write(f"{out_dir}/supplier.parquet",
           {"s_suppkey": few, "s_name": [f"Supplier#{k}" for k in few],
            "s_nationkey": few, "s_acctbal": [1.0] * 5},
           pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                      ("s_acctbal", f64)]))
    _write(f"{out_dir}/part.parquet",
           {"p_partkey": few, "p_name": ["p"] * 5, "p_brand": ["b"] * 5,
            "p_type": ["t"] * 5, "p_size": few, "p_retailprice": [1.0] * 5},
           pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                      ("p_type", s), ("p_size", i32),
                      ("p_retailprice", f64)]))
    _write(f"{out_dir}/lineitem.parquet",
           {"l_orderkey": few, "l_partkey": few, "l_suppkey": few,
            "l_linenumber": few, "l_quantity": [1.0] * 5,
            "l_extendedprice": [1.0] * 5, "l_discount": [0.0] * 5,
            "l_tax": [0.0] * 5, "l_returnflag": ["N"] * 5,
            "l_linestatus": ["O"] * 5, "l_shipdate": [EPOCH] * 5},
           pa.schema([("l_orderkey", i64), ("l_partkey", i64),
                      ("l_suppkey", i64), ("l_linenumber", i32),
                      ("l_quantity", f64), ("l_extendedprice", f64),
                      ("l_discount", f64), ("l_tax", f64),
                      ("l_returnflag", s), ("l_linestatus", s),
                      ("l_shipdate", ts)]))
    _write(f"{out_dir}/events.parquet",
           {"event_id": few, "ts": [EPOCH] * 5, "user_id": few,
            "event_type": ["click"] * 5, "value": [1.0] * 5,
            "props": ["{}"] * 5},
           pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64),
                      ("event_type", s), ("value", f64), ("props", s)]))
    write_documents(f"{out_dir}/documents.parquet",
                    [(k, "a b c", "en", "src0") for k in few])
    _write(f"{out_dir}/embeddings.parquet",
           {"vec_id": few, "embedding": [[0.0, 1.0]] * 5, "label": few},
           pa.schema([("vec_id", i64),
                      ("embedding", pa.list_(pa.float32())),
                      ("label", i32)]))
    by_nation = {}
    for k, n, seg in zip(cust["c_custkey"], cust["c_nationkey"],
                         cust["c_mktsegment"]):
        by_nation.setdefault(n, []).append((k, seg))
    with_orders = sorted(set(orders["o_custkey"]))
    return {"by_nation": by_nation, "with_orders": with_orders}


def _date(day):
    return (EPOCH + datetime.timedelta(days=day)).strftime("%Y-%m-%d")


def _templates(rng, facts, kind):
    """One instance of template `kind` (0-4, or "large"): (text, gold,
    equivalent rewrite, wrong-value variant, non-executable variant).
    Every gold query has a deterministic row order and a non-empty
    answer."""
    if kind == "large":
        d = _date(rng.randrange(DAYS // 3, 2 * DAYS // 3))
        cols = "o_orderkey, o_custkey, o_totalprice"
        return (f"list every order placed on or after {d}",
                f"SELECT {cols} FROM orders WHERE o_orderdate >= DATE '{d}' "
                f"ORDER BY o_orderkey",
                f"SELECT o_custkey, o_orderkey, o_totalprice FROM orders "
                f"WHERE NOT (o_orderdate < DATE '{d}') ORDER BY o_orderkey",
                f"SELECT o_orderkey, o_custkey, o_totalprice + 1 AS "
                f"o_totalprice FROM orders WHERE o_orderdate >= DATE '{d}' "
                f"ORDER BY o_orderkey",
                f"SELECT o_orderkey, o_custkey, o_totalprce FROM orders "
                f"WHERE o_orderdate >= DATE '{d}' ORDER BY o_orderkey")
    if kind == 0:
        v = round(rng.uniform(0, 9000), 2)
        return (f"how many customers have an account balance above {v}",
                f"SELECT COUNT(*) AS n FROM customer WHERE c_acctbal > {v}",
                f"SELECT COUNT(1) AS cnt FROM customer WHERE {v} < c_acctbal",
                f"SELECT COUNT(*) + 1 AS n FROM customer WHERE c_acctbal > {v}",
                f"SELECT COUNT(*) AS n FROM customer WHERE c_acctbl > {v}")
    if kind == 1:
        k = rng.randrange(25)
        return (f"count customers of nation {k} per market segment",
                f"SELECT c_mktsegment, COUNT(*) AS n FROM customer WHERE "
                f"c_nationkey = {k} GROUP BY c_mktsegment ORDER BY c_mktsegment",
                f"SELECT c_mktsegment AS seg, COUNT(c_custkey) AS cnt FROM "
                f"customer WHERE c_nationkey IN ({k}) GROUP BY c_mktsegment "
                f"ORDER BY seg",
                f"SELECT c_mktsegment, COUNT(*) + 1 AS n FROM customer WHERE "
                f"c_nationkey = {k} GROUP BY c_mktsegment ORDER BY c_mktsegment",
                f"SELECT c_segment, COUNT(*) AS n FROM customer WHERE "
                f"c_nationkey = {k} GROUP BY c_segment ORDER BY c_segment")
    if kind == 2:
        r = rng.randrange(5)
        return (f"count customers per nation in region {REGIONS[r]}",
                f"SELECT n.n_name, COUNT(*) AS n FROM customer c JOIN nation n "
                f"ON c.c_nationkey = n.n_nationkey WHERE n.n_regionkey = {r} "
                f"GROUP BY n.n_name ORDER BY n.n_name",
                f"SELECT n.n_name AS nation, COUNT(c.c_custkey) AS cnt FROM "
                f"nation n, customer c WHERE c.c_nationkey = n.n_nationkey AND "
                f"n.n_regionkey = {r} GROUP BY n.n_name ORDER BY nation",
                f"SELECT n.n_name, COUNT(*) + 1 AS n FROM customer c JOIN "
                f"nation n ON c.c_nationkey = n.n_nationkey WHERE "
                f"n.n_regionkey = {r} GROUP BY n.n_name ORDER BY n.n_name",
                f"SELECT n.n_name, COUNT(*) AS n FROM customer c JOIN nation n "
                f"ON c.c_nationkey = n.n_nationkey WHERE n.n_region = {r} "
                f"GROUP BY n.n_name ORDER BY n.n_name")
    if kind == 3:
        k = rng.randrange(25)
        seg = rng.choice(sorted({s for _, s in facts["by_nation"][k]}))
        return (f"list the {seg} customers of nation {k} with their balance",
                f"SELECT c_custkey, c_name, c_acctbal FROM customer WHERE "
                f"c_nationkey = {k} AND c_mktsegment = '{seg}' ORDER BY c_custkey",
                f"SELECT c_name, c_acctbal, c_custkey FROM customer WHERE "
                f"c_mktsegment = '{seg}' AND c_nationkey = {k} ORDER BY c_custkey",
                f"SELECT c_custkey, c_name, c_acctbal + 1 AS c_acctbal FROM "
                f"customer WHERE c_nationkey = {k} AND c_mktsegment = '{seg}' "
                f"ORDER BY c_custkey",
                f"SELECT c_custkey, c_nme, c_acctbal FROM customer WHERE "
                f"c_nationkey = {k} AND c_mktsegment = '{seg}' ORDER BY c_custkey")
    c = rng.choice(facts["with_orders"])
    return (f"list the orders of customer {c} with their price",
            f"SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey = {c} "
            f"ORDER BY o_orderkey",
            f"SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey "
            f"BETWEEN {c} AND {c} ORDER BY o_orderkey",
            f"SELECT o_orderkey, o_totalprice + 1 AS o_totalprice FROM orders "
            f"WHERE o_custkey = {c} ORDER BY o_orderkey",
            f"SELECT o_orderkey, o_price FROM orders WHERE o_custkey = {c} "
            f"ORDER BY o_orderkey")


def questions(rng, facts, n, large=True):
    """`n` question records with their mock-LLM answers and EX labels.

    Each record: instance_id, question, gold_sql, pred (what generation
    answers), repair (what a repair turn answers, or None), ex (expected
    EX), stage (expected staged reward without the speed bonus),
    category. Category counts and the template mix are fixed by `n`; the
    seed picks the order, the constants and the data."""
    n_large = max(1, round(n * LARGE_SHARE)) if large else 0
    n_broken = max(4, round(n * BROKEN_SHARE))
    n_wrong = max(1, round(n * WRONG_SHARE))
    # broken items: half repaired equivalent, a quarter repaired wrong,
    # a quarter still broken after every repair turn
    cats = (["large_eq"] * (n_large - n_large // 2) +
            ["large_wrong"] * (n_large // 2) +
            ["fix_eq"] * (n_broken - 2 * (n_broken // 4)) +
            ["fix_wrong"] * (n_broken // 4) +
            ["stuck"] * (n_broken // 4) +
            ["wrong"] * n_wrong)
    cats += ["eq"] * (n - len(cats))
    if len(cats) != n:
        raise ValueError(f"question set too small: {n}")
    kinds = ["large" if c.startswith("large") else None for c in cats]
    small = [i for i, k in enumerate(kinds) if k is None]
    for j, i in enumerate(small):
        kinds[i] = j % 5
    order = list(range(n))
    rng.shuffle(order)
    out = []
    for i, pos in enumerate(order):
        cat = cats[pos]
        text, gold, eq, wrong, broken = _templates(rng, facts, kinds[pos])
        iid = f"Q{i:04d}"
        pred, repair = {
            "eq": (eq, None), "large_eq": (eq, None),
            "wrong": (wrong, None), "large_wrong": (wrong, None),
            "fix_eq": (broken, eq), "fix_wrong": (broken, wrong),
            "stuck": (broken, broken)}[cat]
        ex = 1 if cat in ("eq", "large_eq", "fix_eq") else 0
        stage = 3.0 if ex == 1 else (-0.5 if cat == "stuck" else 0.0)
        out.append({"instance_id": iid, "question": f"{iid} {text}",
                    "gold_sql": gold, "pred": pred, "repair": repair,
                    "ex": ex, "stage": stage, "category": cat,
                    "template": kinds[pos]})
    return out


def serve_schedule(rng, records):
    """One pass of the reward-server load: two rollout steps, each every
    worker asking /api/run for the reward of the same record (an
    equivalent one, then a repaired one, each of a fixed template), each
    followed by one /api/run_batch of BATCH_ITEMS inline records over
    BATCH_UNIQUE distinct signatures (equivalent, wrong, repaired, still
    broken), each repeated, in a seeded order."""
    def one(*cats):
        # the lowest template of the category, so every seed sends
        # requests of the same shape
        return min((r for r in records if r["category"] in cats),
                   key=lambda r: (str(r["template"]), r["instance_id"]))
    pick = [one("eq"), one("wrong"), one("fix_eq", "fix_wrong"), one("stuck")]
    reqs = []
    for k, run in enumerate((one("eq"), one("fix_eq"))):
        items = [r["instance_id"] for r in pick] * (BATCH_ITEMS // BATCH_UNIQUE)
        rng.shuffle(items)
        reqs += [{"kind": "run", "id": run["instance_id"]},
                 {"kind": "batch", "id": f"B{k:04d}", "items": items}]
    return reqs


def _doc_text(rng):
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randrange(8, 100)))


def corpus(rng, first_id, n, pool):
    """`n` documents with ids from `first_id`. NEAR_DUP_SHARE copy a
    document from `pool` (earlier documents, this batch included) and
    append one word; EXACT_DUP_SHARE copy one verbatim. Languages of
    fresh documents follow LANGS' percentages exactly."""
    langs = [l for l, w in LANGS for _ in range(round(n * w / 100))]
    langs = (langs + ["en"] * n)[:n]
    rng.shuffle(langs)
    n_near = round(n * NEAR_DUP_SHARE)
    n_exact = round(n * EXACT_DUP_SHARE)
    kinds = ["near"] * n_near + ["exact"] * n_exact
    kinds += ["fresh"] * (n - len(kinds))
    rng.shuffle(kinds)
    docs = []
    for i, kind in enumerate(kinds):
        doc_id = first_id + i
        src = pool + docs
        if kind != "fresh" and src:
            base = rng.choice(src)
            text = base[1] + (" dup" if kind == "near" else "")
            lang = base[2]
        else:
            text, lang = _doc_text(rng), langs[i]
        docs.append((doc_id, text, lang, f"src{doc_id % 20}"))
    return docs


def write_documents(path, docs):
    _write(path, {"doc_id": [d[0] for d in docs], "text": [d[1] for d in docs],
                  "lang": [d[2] for d in docs], "source": [d[3] for d in docs],
                  "n_chars": [len(d[1]) for d in docs]},
           pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                      ("lang", pa.string()), ("source", pa.string()),
                      ("n_chars", pa.int64())]))
