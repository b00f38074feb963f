"""Seeded contract tables for the benchmark's query suite.

The contract queries in ``__spark_entry__.queries()`` read parquet
tables named ``<dir>/<table>.parquet``. This module writes the tables
the benchmark's query suite reads, at the shape of the repository's
smallest contract scale (500 documents, 500 embeddings, 1000 events,
1500 orders, 150 customers) and with the same schemas and value
distributions, from a seed: the same seed gives the same files.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random

# the documents' vocabulary; "dup" is the corpus's rare high-idf term
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
RARE = "dup"
LANGS = (("en", 44), ("zh", 14), ("es", 14), ("de", 14), ("fr", 14))
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
SEGMENTS = ("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

SIZES = {"documents": 500, "embeddings": 500, "events": 1000,
         "orders": 1500, "customer": 150}
SOURCES = 20
USERS = 50
DIM = 64
LABELS = 10


def _documents(rng: random.Random, n: int) -> dict:
    texts = []
    for _ in range(n):
        n_chars = rng.randint(48, 553)
        words: list = []
        while sum(map(len, words)) + len(words) <= n_chars:
            words.append(RARE if rng.random() < 0.001 else rng.choice(VOCAB))
        texts.append(" ".join(words)[:n_chars])   # may cut the last word
    langs, weights = zip(*LANGS)
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": rng.choices(langs, weights, k=n),
        "source": [f"src{i % SOURCES}" for i in range(n)],
        "n_chars": [len(t) for t in texts],
    }


def _embeddings(rng: random.Random, n: int) -> dict:
    centers = [[rng.gauss(0, 1) for _ in range(DIM)] for _ in range(LABELS)]
    vecs, labels = [], []
    for _ in range(n):
        label = rng.randrange(LABELS)
        v = [c + rng.gauss(0, 0.8) for c in centers[label]]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
        labels.append(label)
    return {"vec_id": list(range(n)), "embedding": vecs, "label": labels}


def _events(rng: random.Random, n: int) -> dict:
    start = dt.datetime(2024, 1, 1)
    span_us = 30 * 86_400 * 1_000_000
    return {
        "event_id": list(range(n)),
        "ts": [start + dt.timedelta(microseconds=rng.randrange(span_us))
               for _ in range(n)],
        "user_id": [rng.randrange(USERS) for _ in range(n)],
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(n)],
        "value": [max(0.01, round(rng.expovariate(1 / 50), 2))
                  for _ in range(n)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n)],
    }


def _customer(rng: random.Random, n: int) -> dict:
    return {
        "c_custkey": list(range(n)),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": [rng.randrange(25) for _ in range(n)],
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n)],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n)],
    }


def _orders(rng: random.Random, n: int, customers: int) -> dict:
    first = dt.datetime(1995, 1, 1)
    return {
        "o_orderkey": list(range(n)),
        "o_custkey": [rng.randrange(customers) for _ in range(n)],
        "o_orderstatus": [rng.choice("FOP") for _ in range(n)],
        "o_totalprice": [round(rng.uniform(1000, 500_000), 2) for _ in range(n)],
        "o_orderdate": [first + dt.timedelta(days=rng.randrange(2400))
                        for _ in range(n)],
        "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(n)],
    }


def generate(seed: int, path: str) -> dict:
    """Write the tables for ``seed`` under ``path``; returns the
    documents columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"tables:{seed}")
    schemas = {
        "documents": pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                                ("lang", pa.string()), ("source", pa.string()),
                                ("n_chars", pa.int64())]),
        "embeddings": pa.schema([("vec_id", pa.int64()),
                                 ("embedding", pa.list_(pa.float32())),
                                 ("label", pa.int32())]),
        "events": pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                             ("user_id", pa.int64()), ("event_type", pa.string()),
                             ("value", pa.float64()), ("props", pa.string())]),
        "customer": pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                               ("c_nationkey", pa.int32()),
                               ("c_acctbal", pa.float64()),
                               ("c_mktsegment", pa.string())]),
        "orders": pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                             ("o_orderstatus", pa.string()),
                             ("o_totalprice", pa.float64()),
                             ("o_orderdate", pa.timestamp("us")),
                             ("o_orderpriority", pa.string())]),
    }
    columns = {
        "documents": _documents(rng, SIZES["documents"]),
        "embeddings": _embeddings(rng, SIZES["embeddings"]),
        "events": _events(rng, SIZES["events"]),
        "customer": _customer(rng, SIZES["customer"]),
        "orders": _orders(rng, SIZES["orders"], SIZES["customer"]),
    }
    os.makedirs(path, exist_ok=True)
    for name, cols in columns.items():
        pq.write_table(pa.table(cols, schema=schemas[name]),
                       os.path.join(path, f"{name}.parquet"))
    return columns["documents"]
