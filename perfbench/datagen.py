"""Seeded fixture tables for the benchmark.

Writes the ten tables ``hive_gateway_spark.session.TABLES`` names, with the
schema, row counts and value domains of the repository's sf0.01 test
fixtures (TPC-H-ish star schema, an ``events`` request stream, a
``documents`` corpus with 5% near-duplicates and unit ``embeddings``), as
single-row-group snappy parquet files like the fixtures. Every value is
drawn from ``numpy.random.default_rng(seed)``: the same seed gives the
same bytes, and the benchmark never reads data from outside its checkout.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.01
#: rows per table (the sf0.01 fixtures' counts).
ROWS = dict(customer=1_500, supplier=100, part=2_000, orders=15_000, lineitem=60_000,
            events=10_000, users=150, documents=500, embeddings=500)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DUP_SHARE = 0.05
EMBED_DIM = 64


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, span: int, n):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _keys(n):
    return pa.array(np.arange(n, dtype=np.int64))


def _documents(rng, n):
    lens = rng.integers(10, 100, n)
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    for i in np.flatnonzero(rng.random(n) < DUP_SHARE):
        if i:  # a near-duplicate repeats an earlier document plus a marker
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": _keys(n),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n):
    vecs = rng.standard_normal((n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1))
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": _keys(n),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def tables(seed: int) -> dict[str, pa.Table]:
    """All fixture tables drawn from ``seed``."""
    n = ROWS
    rng = np.random.default_rng(seed)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    out = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": i32(range(25)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }),
    }
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": _keys(c),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": i32(rng.integers(0, 25, c)),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": _pick(rng, SEGMENTS, c),
    })
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": _keys(s),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": i32(rng.integers(0, 25, s)),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    out["part"] = pa.table({
        "p_partkey": _keys(p),
        "p_name": _pick(rng, names, p),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], p),
        "p_type": _pick(rng, PART_TYPES, p),
        "p_size": i32(rng.integers(1, 51, p)),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 1),
    })
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": _keys(o),
        "o_custkey": pa.array(rng.integers(0, c, o)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000, 500_000, o),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, o),
        "o_orderpriority": _pick(rng, PRIORITIES, o),
    })
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li)),
        "l_partkey": pa.array(rng.integers(0, p, li)),
        "l_suppkey": pa.array(rng.integers(0, s, li)),
        "l_linenumber": i32(rng.integers(1, 8, li)),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, li),
        "l_discount": rng.integers(0, 11, li) / 100,
        "l_tax": rng.integers(0, 9, li) / 100,
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, li),
    })
    e = n["events"]
    month_us = 30 * 86_400 * 10**6
    ts = np.sort(rng.integers(0, month_us, e)) + np.datetime64("2024-01-01", "us")
    out["events"] = pa.table({
        "event_id": _keys(e),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, n["users"], e)),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
    })
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write(seed: int, out_dir: str) -> str:
    """Write every table to ``out_dir/<name>.parquet``; return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
