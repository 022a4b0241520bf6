"""Seeded benchmark inputs, written as parquet inside the work directory.

The program under test only ever sees these files:

- ``write_corpus``: the transcript corpus of ``datagen.generate_corpus``
  (the same generator the tests use), so the closed-form
  ``ExpectedGraph`` of the seed doubles as the build workload's answer.
- ``write_query_tables``: the ten neutral tables the ``queries()``
  contract reads (region, nation, customer, supplier, part, orders,
  lineitem, events, documents, embeddings), shaped like the smallest
  test scale factor: the same columns, types, key ranges and value
  domains, ~5% of documents as near-duplicates of another one.

Both are pure functions of the seed; no Spark is involved, so input
generation never warms the JVM the workloads are timed in.
"""

from __future__ import annotations

import math
import os
import random
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


def write_corpus(path: str, n_convs: int, seed: int, hot_conv_turns: int):
    """Write the seed's transcript corpus to ``path``; return the
    ``ExpectedGraph`` of triples and nodes it encodes."""
    from aisafetyintervention_literatureextraction_spark.datagen import (
        generate_corpus,
    )

    rows, expected = generate_corpus(
        n_convs=n_convs, seed=seed, hot_conv_turns=hot_conv_turns)
    cols = {f.name: [r[f.name] for r in rows] for f in CORPUS_SCHEMA}
    _write(pa.table(cols, schema=CORPUS_SCHEMA), path)
    return expected


# --------------------------------------------------------------------------
# neutral query tables
# --------------------------------------------------------------------------

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

_WORDS = ("a the big small fast slow row column table key value hash join "
          "merge sort scan filter group agg order line part customer data "
          "batch stream window query spark vector").split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "de", "es", "fr", "zh"]
_DIM = 64

# rows per table at the smallest test scale factor
SIZES = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
         "users": 15, "events": 1000, "documents": 500, "embeddings": 500}


def _day(rng: random.Random, lo: datetime, span_days: int) -> datetime:
    return lo + timedelta(days=rng.randrange(span_days))


def _money(rng: random.Random, lo: float, hi: float) -> float:
    return round(rng.uniform(lo, hi), 2)


def query_tables(seed: int) -> dict[str, pa.Table]:
    rng = random.Random(seed)
    n = SIZES
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(
            [rng.randrange(25) for _ in range(n["customer"])], pa.int32()),
        "c_acctbal": [_money(rng, -999.99, 9999.99) for _ in range(n["customer"])],
        "c_mktsegment": [rng.choice(_SEGMENTS) for _ in range(n["customer"])],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(
            [rng.randrange(25) for _ in range(n["supplier"])], pa.int32()),
        "s_acctbal": [_money(rng, -999.99, 9999.99) for _ in range(n["supplier"])],
    })
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": [f"{rng.choice(_PART_ADJ)} {rng.choice(_PART_NOUN)}"
                   for _ in range(n["part"])],
        "p_brand": [f"Brand#{1 + rng.randrange(25)}" for _ in range(n["part"])],
        "p_type": [rng.choice(_PART_TYPES) for _ in range(n["part"])],
        "p_size": pa.array([1 + rng.randrange(50) for _ in range(n["part"])],
                           pa.int32()),
        "p_retailprice": [round(900 + i / 10, 2) for i in range(n["part"])],
    })
    d0 = datetime(1995, 1, 1)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
        "o_custkey": pa.array(
            [rng.randrange(n["customer"]) for _ in range(n["orders"])], pa.int64()),
        "o_orderstatus": [rng.choice("FOP") for _ in range(n["orders"])],
        "o_totalprice": [_money(rng, 1000, 500000) for _ in range(n["orders"])],
        "o_orderdate": pa.array(
            [_day(rng, d0, 2404) for _ in range(n["orders"])], pa.timestamp("us")),
        "o_orderpriority": [rng.choice(_PRIORITIES) for _ in range(n["orders"])],
    })
    li: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate")}
    for ok in range(n["orders"]):
        for ln in range(1, 1 + max(1, min(12, round(rng.gauss(4, 2))))):
            li["l_orderkey"].append(ok)
            li["l_partkey"].append(rng.randrange(n["part"]))
            li["l_suppkey"].append(rng.randrange(n["supplier"]))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(float(1 + rng.randrange(50)))
            li["l_extendedprice"].append(_money(rng, 900, 105000))
            li["l_discount"].append(rng.randrange(11) / 100)
            li["l_tax"].append(rng.randrange(9) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(_day(rng, d0, 2500))
    out["lineitem"] = pa.table({
        **li,
        "l_orderkey": pa.array(li["l_orderkey"], pa.int64()),
        "l_partkey": pa.array(li["l_partkey"], pa.int64()),
        "l_suppkey": pa.array(li["l_suppkey"], pa.int64()),
        "l_linenumber": pa.array(li["l_linenumber"], pa.int32()),
        "l_shipdate": pa.array(li["l_shipdate"], pa.timestamp("us")),
    })
    ts, t = [], datetime(2024, 1, 1)
    for _ in range(n["events"]):
        t += timedelta(microseconds=rng.randrange(1, 5_000_000_000))
        ts.append(t)
    out["events"] = pa.table({
        "event_id": pa.array(range(n["events"]), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(
            [rng.randrange(n["users"]) for _ in range(n["events"])], pa.int64()),
        "event_type": [rng.choice(_EVENT_TYPES) for _ in range(n["events"])],
        "value": [round(rng.expovariate(1 / 50), 2) for _ in range(n["events"])],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n["events"])],
    })
    texts = [" ".join(rng.choice(_WORDS) for _ in range(rng.randrange(8, 80)))
             for _ in range(n["documents"])]
    for i in rng.sample(range(n["documents"]), n["documents"] // 20):
        texts[i] = texts[rng.randrange(n["documents"])] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n["documents"]), pa.int64()),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(n["documents"])],
        "source": [f"src{i % 20}" for i in range(n["documents"])],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    centers = [_unit([rng.gauss(0, 1) for _ in range(_DIM)]) for _ in range(10)]
    labels, vecs = [], []
    for _ in range(n["embeddings"]):
        lab = rng.randrange(10)
        labels.append(lab)
        vecs.append(_unit([0.15 * c + rng.gauss(0, 1 / math.sqrt(_DIM))
                           for c in centers[lab]]))
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n["embeddings"]), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def _unit(v: list[float]) -> list[float]:
    norm = math.sqrt(sum(x * x for x in v)) or 1.0
    return [x / norm for x in v]


def write_query_tables(data_dir: str, seed: int) -> str:
    for name, table in query_tables(seed).items():
        _write(table, os.path.join(data_dir, f"{name}.parquet"))
    return data_dir


def n_rows(path: str) -> int:
    return pq.ParquetFile(path).metadata.num_rows


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
