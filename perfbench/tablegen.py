"""Fixed synthetic tables for the operator sweep.

Writes one Parquet file per table in the layout ``session.load_tables``
reads (``<dir>/<name>.parquet``): a TPC-H-shaped star schema (region,
nation, supplier, part, customer, orders, lineitem), a 500-document text
corpus with planted near duplicates (an earlier document plus the word
``dup``) and 500 unit-norm 64-d embeddings around ten labelled centres.
Sizes and value domains follow the engine's sf0.01 test tables.

The tables do not depend on the workload seed: the sweep's expected row
counts are pinned for exactly this data, and the seed only orders the
queries.  ``random.Random`` with a fixed seed gives the same bytes on
every machine.
"""

from __future__ import annotations

import datetime
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

SEED = 20180115
N_CUSTOMERS = 1500
N_ORDERS = 15_000
N_PARTS = 2000
N_SUPPLIERS = 100
N_DOCUMENTS = 500
N_EMBEDDINGS = 500
DIM = 64
LABELS = 10

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
ADJECTIVES = ("red", "small", "hot", "old", "large", "blue", "cold", "new")
NOUNS = ("plate", "widget", "ring", "rod", "gear", "bolt", "pipe", "valve")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("de", "en", "es", "fr", "zh")
EPOCH = datetime.datetime(1995, 1, 1)


def _write(out_dir: str, name: str, columns: dict, schema: pa.Schema) -> None:
    table = pa.Table.from_pydict(columns, schema=schema)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _dims(out_dir: str, rng: random.Random) -> None:
    _write(
        out_dir, "region",
        {"r_regionkey": list(range(5)), "r_name": list(REGIONS)},
        pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    )
    _write(
        out_dir, "nation",
        {
            "n_nationkey": list(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": [i % 5 for i in range(25)],
        },
        pa.schema(
            [("n_nationkey", pa.int32()), ("n_name", pa.string()),
             ("n_regionkey", pa.int32())]
        ),
    )
    _write(
        out_dir, "supplier",
        {
            "s_suppkey": list(range(N_SUPPLIERS)),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
            "s_nationkey": [rng.randrange(25) for _ in range(N_SUPPLIERS)],
            "s_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(N_SUPPLIERS)],
        },
        pa.schema(
            [("s_suppkey", pa.int64()), ("s_name", pa.string()),
             ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]
        ),
    )
    _write(
        out_dir, "part",
        {
            "p_partkey": list(range(N_PARTS)),
            "p_name": [f"{rng.choice(ADJECTIVES)} {rng.choice(NOUNS)}" for _ in range(N_PARTS)],
            "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(N_PARTS)],
            "p_type": [rng.choice(PART_TYPES) for _ in range(N_PARTS)],
            "p_size": [rng.randint(1, 50) for _ in range(N_PARTS)],
            "p_retailprice": [900 + rng.randrange(1000) / 10 for _ in range(N_PARTS)],
        },
        pa.schema(
            [("p_partkey", pa.int64()), ("p_name", pa.string()),
             ("p_brand", pa.string()), ("p_type", pa.string()),
             ("p_size", pa.int32()), ("p_retailprice", pa.float64())]
        ),
    )
    _write(
        out_dir, "customer",
        {
            "c_custkey": list(range(N_CUSTOMERS)),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
            "c_nationkey": [rng.randrange(25) for _ in range(N_CUSTOMERS)],
            "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(N_CUSTOMERS)],
            "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(N_CUSTOMERS)],
        },
        pa.schema(
            [("c_custkey", pa.int64()), ("c_name", pa.string()),
             ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
             ("c_mktsegment", pa.string())]
        ),
    )


def _facts(out_dir: str, rng: random.Random) -> None:
    orders = {k: [] for k in (
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )}
    items = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate",
    )}
    for o in range(N_ORDERS):
        day = EPOCH + datetime.timedelta(days=rng.randrange(2400))
        total = 0.0
        statuses = set()
        for line in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            price = round(qty * rng.uniform(900, 2100), 2)
            ship = day + datetime.timedelta(days=rng.randint(1, 95))
            status = rng.choice("FO")
            statuses.add(status)
            items["l_orderkey"].append(o)
            items["l_partkey"].append(rng.randrange(N_PARTS))
            items["l_suppkey"].append(rng.randrange(N_SUPPLIERS))
            items["l_linenumber"].append(line)
            items["l_quantity"].append(qty)
            items["l_extendedprice"].append(price)
            items["l_discount"].append(rng.randint(0, 10) / 100)
            items["l_tax"].append(rng.randint(0, 8) / 100)
            items["l_returnflag"].append(rng.choice("ANR"))
            items["l_linestatus"].append(status)
            items["l_shipdate"].append(ship)
            total += price
        orders["o_orderkey"].append(o)
        orders["o_custkey"].append(rng.randrange(N_CUSTOMERS))
        orders["o_orderstatus"].append(statuses.pop() if len(statuses) == 1 else "P")
        orders["o_totalprice"].append(round(total, 2))
        orders["o_orderdate"].append(day)
        orders["o_orderpriority"].append(rng.choice(PRIORITIES))
    ts = pa.timestamp("us")
    _write(
        out_dir, "orders", orders,
        pa.schema(
            [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
             ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
             ("o_orderdate", ts), ("o_orderpriority", pa.string())]
        ),
    )
    _write(
        out_dir, "lineitem", items,
        pa.schema(
            [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
             ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
             ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
             ("l_discount", pa.float64()), ("l_tax", pa.float64()),
             ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
             ("l_shipdate", ts)]
        ),
    )


def _documents(out_dir: str, rng: random.Random) -> None:
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        if i >= 20 and rng.random() < 0.05:
            texts.append(rng.choice(texts) + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 99))))
    _write(
        out_dir, "documents",
        {
            "doc_id": list(range(N_DOCUMENTS)),
            "text": texts,
            "lang": [rng.choice(LANGS) for _ in texts],
            "source": [f"src{rng.randrange(20)}" for _ in texts],
            "n_chars": [len(t) for t in texts],
        },
        pa.schema(
            [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
             ("source", pa.string()), ("n_chars", pa.int64())]
        ),
    )


def _unit(v: list[float]) -> list[float]:
    norm = math.sqrt(sum(x * x for x in v))
    return [x / norm for x in v]


def _embeddings(out_dir: str, rng: random.Random) -> None:
    centres = [_unit([rng.gauss(0, 1) for _ in range(DIM)]) for _ in range(LABELS)]
    labels = [rng.randrange(LABELS) for _ in range(N_EMBEDDINGS)]
    vectors = [
        _unit([c + rng.gauss(0, 0.12) for c in centres[lab]]) for lab in labels
    ]
    _write(
        out_dir, "embeddings",
        {"vec_id": list(range(N_EMBEDDINGS)), "embedding": vectors, "label": labels},
        pa.schema(
            [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
             ("label", pa.int32())]
        ),
    )


def generate(out_dir: str) -> str:
    """Write every table under ``out_dir``; return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(SEED)
    _dims(out_dir, rng)
    _facts(out_dir, rng)
    _documents(out_dir, rng)
    _embeddings(out_dir, rng)
    return out_dir
