"""Seeded table sets for the ``curation_queries`` workload, cached on disk.

A table set is one directory holding ``documents``, ``events``,
``lineitem``, ``orders`` and ``customer`` parquet files, the tables the
nine timed queries read, with the schemas of the repository's sf0.001
test tables. Row counts are those of sf0.001 (1,000 events, 6,000 line
items, 1,500 orders, 150 customers) except for documents: 250 rather
than 500, because the ``dedup_minhash`` oracle compares all pairs and
takes about 17 s at 500 documents against 4 s at 250, while the Spark
side costs about the same at either size. The values are drawn afresh
from (workload seed, index), so every op reads tables no earlier op has
read, and the DuckDB oracles of ``__spark_entry__`` recompute the answers
from the same files.

Documents are bags of the test tables' 31-word vocabulary, and one in
ten repeats the text of an earlier one, as mirrored pages do, so the
dedup and similarity queries find pairs. Near copies (a few words
swapped) are left out: ``dedup_minhash`` bands 32 MinHashes into 8 bands
of 4, so it finds a pair at the 0.5 Jaccard threshold with probability
0.40, while its oracle is the exact all-pairs Jaccard. Each file is one
row group, as in the test tables.

A set is named by its seed, index and a hash of this file, written to a
temporary directory and renamed.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
import shutil

TABLES = ("documents", "events", "lineitem", "orders", "customer")

_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = (("en", 0.39), ("fr", 0.16), ("es", 0.16), ("de", 0.15), ("zh", 0.14))
_EVENTS = ("view", "click", "purchase", "signup", "error")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

N_DOCS, N_EVENTS, N_LINES, N_ORDERS, N_CUSTOMERS = 250, 1000, 6000, 1500, 150


def generator_hash() -> str:
    with open(__file__, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:12]


def _rng(seed: int, idx: int, table: str) -> random.Random:
    digest = hashlib.sha256(f"tables/{seed}/{idx}/{table}".encode()).digest()
    return random.Random(int.from_bytes(digest[:8], "big"))


def documents(rng: random.Random) -> dict:
    langs, weights = zip(*_LANGS)
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 20 and rng.random() < 0.1:
            texts.append(texts[rng.randrange(i)])
        else:
            texts.append(" ".join(rng.choices(_WORDS, k=rng.randint(8, 100))))
    return {
        "doc_id": list(range(N_DOCS)),
        "text": texts,
        "lang": rng.choices(langs, weights, k=N_DOCS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": [len(t) for t in texts],
    }


def events(rng: random.Random) -> dict:
    start = dt.datetime(2024, 1, 1)
    offsets = sorted(rng.randrange(30 * 86_400 * 10**6) for _ in range(N_EVENTS))
    return {
        "event_id": list(range(N_EVENTS)),
        "ts": [start + dt.timedelta(microseconds=o) for o in offsets],
        "user_id": [rng.randrange(15) for _ in range(N_EVENTS)],
        "event_type": [rng.choice(_EVENTS) for _ in range(N_EVENTS)],
        "value": [round(rng.uniform(0.0, 330.0), 2) for _ in range(N_EVENTS)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(N_EVENTS)],
    }


def _day(rng: random.Random, first: dt.datetime, days: int) -> dt.datetime:
    return first + dt.timedelta(days=rng.randrange(days))


def lineitem(rng: random.Random) -> dict:
    first = dt.datetime(1995, 1, 1)
    return {
        "l_orderkey": [rng.randrange(N_ORDERS) for _ in range(N_LINES)],
        "l_partkey": [rng.randrange(200) for _ in range(N_LINES)],
        "l_suppkey": [rng.randrange(10) for _ in range(N_LINES)],
        "l_linenumber": [rng.randint(1, 7) for _ in range(N_LINES)],
        "l_quantity": [float(rng.randint(1, 50)) for _ in range(N_LINES)],
        "l_extendedprice": [round(rng.uniform(900.0, 105_000.0), 2) for _ in range(N_LINES)],
        "l_discount": [rng.randint(0, 10) / 100 for _ in range(N_LINES)],
        "l_tax": [rng.randint(0, 8) / 100 for _ in range(N_LINES)],
        "l_returnflag": [rng.choice("ANR") for _ in range(N_LINES)],
        "l_linestatus": [rng.choice("FO") for _ in range(N_LINES)],
        "l_shipdate": [_day(rng, first, 2400) for _ in range(N_LINES)],
    }


def orders(rng: random.Random) -> dict:
    first = dt.datetime(1995, 1, 1)
    return {
        "o_orderkey": list(range(N_ORDERS)),
        "o_custkey": [rng.randrange(N_CUSTOMERS) for _ in range(N_ORDERS)],
        "o_orderstatus": [rng.choice("FOP") for _ in range(N_ORDERS)],
        "o_totalprice": [round(rng.uniform(800.0, 400_000.0), 2) for _ in range(N_ORDERS)],
        "o_orderdate": [_day(rng, first, 2400) for _ in range(N_ORDERS)],
        "o_orderpriority": [rng.choice(_PRIORITIES) for _ in range(N_ORDERS)],
    }


def customer(rng: random.Random) -> dict:
    return {
        "c_custkey": list(range(N_CUSTOMERS)),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": [rng.randrange(25) for _ in range(N_CUSTOMERS)],
        "c_acctbal": [round(rng.uniform(-999.0, 9_999.0), 2) for _ in range(N_CUSTOMERS)],
        "c_mktsegment": [rng.choice(_SEGMENTS) for _ in range(N_CUSTOMERS)],
    }


def _schemas():
    import pyarrow as pa

    ts = pa.timestamp("us")
    return {
        "documents": pa.schema(
            [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
             ("source", pa.string()), ("n_chars", pa.int64())]
        ),
        "events": pa.schema(
            [("event_id", pa.int64()), ("ts", ts), ("user_id", pa.int64()),
             ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())]
        ),
        "lineitem": pa.schema(
            [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
             ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
             ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
             ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
             ("l_linestatus", pa.string()), ("l_shipdate", ts)]
        ),
        "orders": pa.schema(
            [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
             ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
             ("o_orderdate", ts), ("o_orderpriority", pa.string())]
        ),
        "customer": pa.schema(
            [("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
             ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string())]
        ),
    }


def gen_tables(seed: int, idx: int) -> dict[str, dict]:
    """Columns of every table of one set; the same arguments always give
    the same values."""
    makers = {
        "documents": documents, "events": events, "lineitem": lineitem,
        "orders": orders, "customer": customer,
    }
    return {t: makers[t](_rng(seed, idx, t)) for t in TABLES}


def table_set(cache_dir: str, seed: int, idx: int) -> str:
    """Directory of the table set, generated on first use."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(cache_dir, f"tables_s{seed}_i{idx}_{generator_hash()}")
    if os.path.isdir(path):
        return path
    tmp = f"{path}.{os.getpid()}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    schemas = _schemas()
    for name, cols in gen_tables(seed, idx).items():
        table = pa.table(cols, schema=schemas[name])
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), row_group_size=len(table))
    try:
        os.rename(tmp, path)
    except OSError:  # another process renamed the same set first
        shutil.rmtree(tmp, ignore_errors=True)
    return path
