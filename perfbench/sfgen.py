"""Seeded star-schema + corpus tables for the registry query probe.

The registry's queries read ten parquet tables from one directory
(`region nation customer supplier part orders lineitem events documents
embeddings`). The benchmark may read nothing outside its checkout, so it
generates these tables itself: same schemas and value domains as the
registry's fixtures, rows derived only from the seed. Sizes scale with
`sf`; at sf=0.001 the row counts match the smallest fixture.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pandas as pd

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["cold", "small", "large", "red", "shiny", "old", "new", "blue"]
PART_NOUN = ["widget", "bolt", "gear", "panel", "valve", "spring"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "the a fast slow big small key order sort table scan merge part window "
    "hash join batch stream spark dup group query row data filter customer "
    "line value agg column vector"
).split()
EMBED_DIM = 64


def _ts(base: dt.datetime, seconds: float) -> dt.datetime:
    return base + dt.timedelta(seconds=seconds)


def generate(out_dir: str, seed: int, sf: float = 0.001) -> dict[str, int]:
    """Write the ten tables under `out_dir` as `<name>.parquet`; returns
    row counts. Content depends only on (seed, sf)."""
    rng = random.Random(seed)
    n_cust = max(30, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_orders = max(200, int(1_500_000 * sf))
    n_events = max(200, int(1_000_000 * sf))
    n_docs = 500
    d0 = dt.datetime(1995, 1, 1)
    e0 = dt.datetime(2024, 1, 1)

    tables: dict[str, pd.DataFrame] = {}
    tables["region"] = pd.DataFrame(
        {"r_regionkey": pd.array(range(5), dtype="int32"), "r_name": REGIONS}
    )
    tables["nation"] = pd.DataFrame(
        {
            "n_nationkey": pd.array(range(25), dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pd.array([i % 5 for i in range(25)], dtype="int32"),
        }
    )
    tables["customer"] = pd.DataFrame(
        {
            "c_custkey": pd.array(range(n_cust), dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pd.array([rng.randrange(25) for _ in range(n_cust)], dtype="int32"),
            "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n_cust)],
            "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n_cust)],
        }
    )
    tables["supplier"] = pd.DataFrame(
        {
            "s_suppkey": pd.array(range(n_supp), dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pd.array([rng.randrange(25) for _ in range(n_supp)], dtype="int32"),
            "s_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n_supp)],
        }
    )
    tables["part"] = pd.DataFrame(
        {
            "p_partkey": pd.array(range(n_part), dtype="int64"),
            "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n_part)],
            "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n_part)],
            "p_type": [rng.choice(PART_TYPES) for _ in range(n_part)],
            "p_size": pd.array([rng.randint(1, 50) for _ in range(n_part)], dtype="int32"),
            "p_retailprice": [round(900.0 + 0.1 * i, 2) for i in range(n_part)],
        }
    )

    orders, lines = [], []
    for ok in range(n_orders):
        odate = _ts(d0, 86400 * rng.randrange(0, 2404))
        n_lines = rng.randint(1, 7)
        total = 0.0
        statuses = set()
        for ln in range(1, n_lines + 1):
            qty = float(rng.randint(1, 50))
            price = round(qty * rng.uniform(900.0, 2100.0), 2)
            ship = odate + dt.timedelta(days=rng.randint(1, 120))
            status = "F" if ship < dt.datetime(1998, 6, 1) or rng.random() < 0.5 else "O"
            statuses.add(status)
            lines.append(
                (ok, rng.randrange(n_part), rng.randrange(n_supp), ln, qty, price,
                 rng.randint(0, 10) / 100.0, rng.randint(0, 8) / 100.0,
                 rng.choice("ANR"), status, ship)
            )
            total += price
        ostatus = statuses.pop() if len(statuses) == 1 else "P"
        orders.append(
            (ok, rng.randrange(n_cust), ostatus, round(total, 2), odate, rng.choice(PRIORITIES))
        )
    tables["orders"] = pd.DataFrame(
        orders,
        columns=["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                 "o_orderdate", "o_orderpriority"],
    )
    li = pd.DataFrame(
        lines,
        columns=["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                 "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                 "l_linestatus", "l_shipdate"],
    )
    li["l_linenumber"] = li["l_linenumber"].astype("int32")
    tables["lineitem"] = li

    n_users = max(15, n_events // 70)
    events, t = [], 0.0
    for i in range(n_events):
        t += rng.expovariate(1.0 / (30 * 86400 / n_events))
        events.append(
            (i, _ts(e0, t), rng.randrange(n_users), rng.choice(EVENT_TYPES),
             round(rng.uniform(0.01, 330.0), 2), f'{{"k": {rng.randrange(100)}}}')
        )
    tables["events"] = pd.DataFrame(
        events, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )

    docs = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            # exact and near duplicates, so the dedup families find pairs
            src = docs[rng.randrange(len(docs))][1].split()
            if rng.random() < 0.5 and len(src) > 4:
                src[rng.randrange(len(src))] = rng.choice(WORDS)
            words = src
        else:
            words = [rng.choice(WORDS) for _ in range(rng.randint(10, 99))]
        text = " ".join(words)
        docs.append((i, text, rng.choice(LANGS), f"src{rng.randrange(20)}", len(text)))
    tables["documents"] = pd.DataFrame(
        docs, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )

    import numpy as np

    vecs = np.random.default_rng(seed).uniform(-0.5, 0.5, (n_docs, EMBED_DIM))
    tables["embeddings"] = pd.DataFrame(
        {
            "vec_id": pd.array(range(n_docs), dtype="int64"),
            "embedding": [v.astype("float32") for v in vecs],
            "label": pd.array([rng.randrange(10) for _ in range(n_docs)], dtype="int32"),
        }
    )

    # microsecond timestamps, as the fixtures store them (Spark reads no
    # nanosecond parquet timestamps)
    for name, col in (("orders", "o_orderdate"), ("lineitem", "l_shipdate"),
                      ("events", "ts")):
        tables[name][col] = tables[name][col].astype("datetime64[us]")
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return {k: len(v) for k, v in tables.items()}
