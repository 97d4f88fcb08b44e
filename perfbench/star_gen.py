"""Seeded star schema for the ``registry_pipelines`` workload.

Writes the ten tables ``catalog.load_table`` reads (``<dir>/<name>.parquet``,
one file each) with the column names and types of the repository's
synthetic test tables (TESTDATA.md), at a small size the benchmark can
regenerate from ``--seed`` in well under a second:

- ``documents``: texts over a 30-word vocabulary in five languages and
  twenty sources, with near-duplicate families (a copy with one word
  changed, or with `` dup`` appended), so the dedup pipelines find
  clusters;
- ``embeddings``: unit 64-vectors with ten labels, a share of them
  near-copies of earlier vectors;
- ``events``: one month of user events (five types, JSON props);
- ``orders`` / ``lineitem`` over ``customer``, ``part`` and ``supplier``,
  plus the fixed ``nation`` / ``region`` dimensions.

Only pyarrow and the standard library are used, so the same seed gives
the same bytes whatever Spark does.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("scan column window order sort part agg value line key join merge group "
         "query a vector hash slow stream filter fast the batch spark table small "
         "data big customer row").split()
LANGS = ("en", "en", "en", "fr", "es", "zh", "de")
EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
DIM = 64

SIZES = {
    # the DuckDB oracles of the three corpus pipelines take ~1.5 s each
    # at 40 documents and grow fast with the corpus
    "full": {"documents": 40, "embeddings": 200, "events": 400, "customers": 50,
             "parts": 60, "suppliers": 10, "orders": 300, "users": 12},
    "tiny": {"documents": 30, "embeddings": 60, "events": 120, "customers": 20,
             "parts": 30, "suppliers": 6, "orders": 100, "users": 6},
}
TS = pa.timestamp("us")


def _documents(rng: random.Random, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if texts and rng.random() < 0.15:
            words = rng.choice(texts).split()
            if rng.random() < 0.5:
                words[rng.randrange(len(words))] = rng.choice(VOCAB)
            else:
                words.append("dup")
        else:
            words = [rng.choice(VOCAB) for _ in range(rng.randint(8, 90))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _unit(v: list[float]) -> list[float]:
    norm = math.sqrt(sum(x * x for x in v)) or 1.0
    return [x / norm for x in v]


def _embeddings(rng: random.Random, n: int) -> pa.Table:
    vecs: list[list[float]] = []
    for _ in range(n):
        if vecs and rng.random() < 0.1:
            base = rng.choice(vecs)
            vecs.append(_unit([x + rng.gauss(0, 0.02) for x in base]))
        else:
            vecs.append(_unit([rng.gauss(0, 1) for _ in range(DIM)]))
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([rng.randrange(10) for _ in range(n)], pa.int32()),
    })


def _events(rng: random.Random, n: int, users: int) -> pa.Table:
    t0 = dt.datetime(2024, 1, 1)
    ts = sorted(t0 + dt.timedelta(microseconds=rng.randrange(30 * 86400 * 10**6))
                for _ in range(n))
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, TS),
        "user_id": pa.array([rng.randrange(users) for _ in range(n)], pa.int64()),
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(n)],
        "value": [round(rng.uniform(1, 200), 2) for _ in range(n)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n)],
    })


def _relational(rng: random.Random, c: dict) -> dict[str, pa.Table]:
    day0 = dt.datetime(1995, 1, 1)

    def date() -> dt.datetime:
        return day0 + dt.timedelta(days=rng.randrange(7 * 365))

    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                       "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                       "n_name": [f"NATION{i:02d}" for i in range(25)],
                       "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc, np_, ns, no = c["customers"], c["parts"], c["suppliers"], c["orders"]
    customer = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(nc)], pa.int32()),
        "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(nc)],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(nc)],
    })
    supplier = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(ns)], pa.int32()),
        "s_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(ns)],
    })
    part = pa.table({
        "p_partkey": pa.array(range(np_), pa.int64()),
        "p_name": [f"part {rng.choice(VOCAB)} {rng.choice(VOCAB)}" for _ in range(np_)],
        "p_brand": [f"Brand#{rng.randint(1, 5)}{rng.randint(1, 5)}" for _ in range(np_)],
        "p_type": [rng.choice(("STANDARD", "SMALL", "LARGE", "PROMO")) + " BRUSHED TIN"
                   for _ in range(np_)],
        "p_size": pa.array([rng.randint(1, 50) for _ in range(np_)], pa.int32()),
        "p_retailprice": [round(rng.uniform(900, 2000), 2) for _ in range(np_)],
    })
    li: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate")}
    totals = []
    for o in range(no):
        total = 0.0
        for ln in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            price = round(qty * rng.uniform(900, 2000), 2)
            total += price
            for k, v in (("l_orderkey", o), ("l_partkey", rng.randrange(np_)),
                         ("l_suppkey", rng.randrange(ns)), ("l_linenumber", ln),
                         ("l_quantity", qty), ("l_extendedprice", price),
                         ("l_discount", rng.randint(0, 10) / 100),
                         ("l_tax", rng.randint(0, 8) / 100),
                         ("l_returnflag", rng.choice("NAR")), ("l_linestatus", rng.choice("OF")),
                         ("l_shipdate", date())):
                li[k].append(v)
        totals.append(round(total, 2))
    orders = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array([rng.randrange(nc) for _ in range(no)], pa.int64()),
        "o_orderstatus": [rng.choice("OFP") for _ in range(no)],
        "o_totalprice": totals,
        "o_orderdate": pa.array([date() for _ in range(no)], TS),
        "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(no)],
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(li["l_orderkey"], pa.int64()),
        "l_partkey": pa.array(li["l_partkey"], pa.int64()),
        "l_suppkey": pa.array(li["l_suppkey"], pa.int64()),
        "l_linenumber": pa.array(li["l_linenumber"], pa.int32()),
        "l_quantity": li["l_quantity"],
        "l_extendedprice": li["l_extendedprice"],
        "l_discount": li["l_discount"],
        "l_tax": li["l_tax"],
        "l_returnflag": li["l_returnflag"],
        "l_linestatus": li["l_linestatus"],
        "l_shipdate": pa.array(li["l_shipdate"], TS),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders, "lineitem": lineitem}


def star_schema(seed: int, out_dir: str, size: str = "full") -> dict[str, int]:
    """Write the ten tables under ``out_dir``; returns their row counts."""
    c = SIZES[size]
    rng = random.Random(seed)
    tables = _relational(rng, c)
    tables["documents"] = _documents(rng, c["documents"])
    tables["embeddings"] = _embeddings(rng, c["embeddings"])
    tables["events"] = _events(rng, c["events"], c["users"])
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
