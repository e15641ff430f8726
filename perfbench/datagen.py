"""Input generators for the benchmark.

* ``write_tables``: the star-schema + events + documents + embeddings
  tables the program's queries read (``graft.sources.Tables``), with the
  same schemas and value domains as the TESTDATA.md fixtures. The
  tables are a fixed function of the scale factor, so every seed sees the
  same data and the seed only orders the requests.
* ``lifecycle_batch``: one raw ``synthetic_order_lifecycle`` CSV batch for
  the medallion pipeline, plus the counts every layer must produce, known
  from the generator alone.

Both are single-threaded and run before any timing.
"""
import csv
import datetime as dt
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES_VERSION = 1

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = (["en", "zh", "es", "de", "fr"], [0.44, 0.14, 0.14, 0.14, 0.14])


def _ts(base: str, seconds: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + (seconds * 1e6).astype("int64").astype("timedelta64[us]"))


def _money(a: np.ndarray) -> np.ndarray:
    return np.round(a, 2)


def _tables(sf: float) -> dict:
    rng = np.random.default_rng(42)
    n_cust = max(15, round(150_000 * sf))
    n_supp = max(10, round(10_000 * sf))
    n_part = max(200, round(200_000 * sf))
    n_ord = max(1500, round(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1000, round(1_000_000 * sf))
    n_users = max(15, round(15_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_vecs = max(500, round(20_000 * sf))
    day = 86400.0
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng.uniform(-999.99, 9999.99, n_supp))})
    names = [f"{a} {n}" for a in ADJECTIVES for n in NOUNS]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng.uniform(1000, 500000, n_ord)),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * day),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_line).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": _money(qty * rng.uniform(900, 2100, n_line)),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n_line) * day)})
    gaps = rng.exponential(30 * day / n_ev, n_ev)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts("2024-01-01", np.cumsum(gaps)),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": _money(rng.exponential(50, n_ev)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS[0], n_docs, p=LANGS[1]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64")})
    vecs = rng.normal(0, 1, (n_vecs, 64))
    for i in range(1, n_vecs):  # near-duplicate vectors for the dedup queries
        if rng.random() < 0.05:
            vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(0, 0.1, 64)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype("int32")})
    return t


def write_tables(root: str, sf: float) -> str:
    """Write the tables for ``sf`` under ``root`` once; return their dir."""
    out = os.path.join(root, f"tables-v{TABLES_VERSION}-sf{sf}")
    if os.path.exists(os.path.join(out, "_READY")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_READY"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


# ── medallion lifecycle batches ──────────────────────────────────────────

STAGES = ["order_created", "order_paid", "order_shipped", "order_delivered"]
CITIES = [("Sao Paulo", "SP"), ("Rio de Janeiro", "RJ"), ("Belo Horizonte", "MG"),
          ("Curitiba", "PR"), ("Porto Alegre", "RS"), ("Salvador", "BA"),
          ("Recife", "PE"), ("Fortaleza", "CE")]
FIRST = ["Ana", "Bruno", "Carla", "Diego", "Elisa", "Felipe", "Gabriela", "Hugo"]
LAST = ["Silva", "Souza", "Costa", "Santos", "Oliveira", "Pereira", "Lima"]
# The formats Silver parses (graft.operators.Silver.lifecycleFormats),
# reference format first.
TS_FORMATS = ["%Y-%m-%d %H:%M:%S.%f UTC", "%Y-%m-%d %H:%M:%S",
              "%Y-%m-%dT%H:%M:%S", "%d-%m-%Y %H:%M", "%Y/%m/%d %H:%M:%S",
              "%Y-%m-%d"]
UNPARSEABLE = ["n/a", "pending", "99/99/9999", "", "yesterday"]
HEADER = ["event_id", "order_id", "customer_id", "event_type", "event_timestamp",
          "customer_name", "customer_email", "customer_city", "customer_state",
          "payment_value", "lifecycle_step"]


def lifecycle_shares(seed: int, orders_base: int) -> dict:
    """The batch properties the seed fixes for one run."""
    r = random.Random(f"shares:{seed}")
    ref = r.uniform(0.55, 0.8)
    rest = [r.random() + 0.2 for _ in TS_FORMATS[1:]]
    return {
        "orders": round(orders_base * r.uniform(0.97, 1.03)),
        "duplicate_share": r.uniform(0.01, 0.03),
        "late_share": r.uniform(0.45, 0.65),      # orders reaching step 3-4
        "format_weights": [ref] + [(1 - ref) * x / sum(rest) for x in rest],
        "unparseable_share": r.uniform(0.005, 0.02),
        "null_payment_share": r.uniform(0.02, 0.08),
    }


def _uuid(r: random.Random) -> str:
    h = f"{r.getrandbits(128):032x}"
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


def lifecycle_batch(path: str, seed: int, index: int, shares: dict) -> dict:
    """Write one CSV batch; return its expected per-layer counts."""
    r = random.Random(f"batch:{seed}:{index}")
    start = dt.datetime(2025, 11, 1)
    rows, unparsed_ids, null_payments = [], set(), 0
    steps_of = {}  # order_id -> parseable steps present
    for _ in range(shares["orders"]):
        order, cust = _uuid(r), _uuid(r)
        late = r.random() < shares["late_share"]
        top = (4 if r.random() < 0.6 else 3) if late else (2 if r.random() < 0.7 else 1)
        name = f"{r.choice(FIRST)} {r.choice(LAST)}"
        city, state = r.choice(CITIES)
        t = start + dt.timedelta(seconds=r.uniform(0, 9 * 86400))
        steps_of[order] = set()
        for step in range(1, top + 1):
            t += dt.timedelta(seconds=r.uniform(600, 2 * 86400))
            eid = _uuid(r)
            if r.random() < shares["unparseable_share"]:
                ts = r.choice(UNPARSEABLE)
                unparsed_ids.add(eid)
            else:
                fmt = r.choices(TS_FORMATS, shares["format_weights"])[0]
                ts = t.strftime(fmt)
                steps_of[order].add(step)
            pay = ""
            if step == 2:
                if r.random() < shares["null_payment_share"]:
                    null_payments += 1
                else:
                    pay = f"{r.uniform(10, 900):.2f}"
            rows.append([eid, order, cust, STAGES[step - 1], ts, name,
                         f"{name.split()[0].lower()}.{cust[:6]}@example.com",
                         city, state, pay, step])
    distinct = len(rows)
    dups = [list(x) for x in r.sample(rows, max(1, round(distinct * shares["duplicate_share"])))]
    rows.extend(dups)
    r.shuffle(rows)
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(HEADER)
        w.writerows(rows)

    # SCD2 runs two CDC batches over the cleansed events: steps 1-2 as the
    # initial load, then every step. An order whose latest step moves past
    # 2 closes one version and inserts one; an order seen only at steps
    # 3-4 is inserted fresh.
    early = [o for o, s in steps_of.items() if s & {1, 2}]
    closed = sum(1 for o in early if max(steps_of[o]) >= 3)
    fresh = sum(1 for s in steps_of.values() if s and not s & {1, 2})
    silver = distinct - len(unparsed_ids)
    funnel = {st: 0 for st in STAGES}
    for s in steps_of.values():
        for step in s:
            funnel[STAGES[step - 1]] += 1
    return {
        "events": len(rows),
        "bronze_rows": len(rows),
        "silver_rows": silver,
        "dedup_dropped": len(dups),
        "ts_unparsed": len(unparsed_ids),
        "null_payments": null_payments,
        "scd2_rows": len(early) + closed + fresh,
        "scd2_closed": closed,
        "scd2_inserted": closed + fresh,
        "gold_rows": silver,
        "funnel": funnel,
    }
