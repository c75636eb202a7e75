"""Seeded generator for the benchmark's input tables.

Writes the ten catalog tables (``sources.catalog.TABLES``) as parquet,
with the schemas, value domains and row-count scaling of the repo's
reference test data: uniform keys, TPC-H-like domains, a 30-word
document vocabulary with 5% of documents tagged ``dup``, 64-d unit
embeddings, and an events table spread over 30 days of 2024-01.

Row counts depend only on ``sf``; every value depends on ``seed``.
Document and embedding ids are always ``0..n-1``, so the codec rows,
whose payloads are synthesised from ``doc_id`` alone, produce the same
output for every seed (their reference digests rely on that).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

DAY_US = 86_400_000_000


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf``: the reference data's scaling,
    with a floor of 200 rows (the reference's is 500) on documents and
    embeddings so that small runs stay small."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(200, round(50_000 * sf)),
        "embeddings": max(200, round(20_000 * sf)),
    }


def _ts(values_us: np.ndarray, unit: str) -> pa.Array:
    scale = {"us": 1, "ms": 1000}[unit]
    return pa.array(values_us // scale, pa.int64()).cast(pa.timestamp(unit))


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    day0_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    customer = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    ns = n["supplier"]
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    keys = np.arange(npart)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    part = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": _pick(rng, names, npart),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    no = n["orders"]
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(day0_1995 + rng.integers(0, 2404, no) * DAY_US, "ms"),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    nl = n["lineitem"]
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _ts(day0_1995 + rng.integers(1, 2499, nl) * DAY_US, "ms"),
    })
    ne = n["events"]
    jan = np.datetime64("2024-01-01", "us").astype(np.int64)
    events = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(jan + np.sort(rng.integers(0, 30 * DAY_US, ne)), "us"),
        "user_id": pa.array(rng.integers(0, max(1, round(15_000 * sf)), ne), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    nd = n["documents"]
    words = np.asarray(WORDS, dtype=object)
    texts = []
    for i in range(nd):
        toks = list(words[rng.integers(0, len(WORDS), int(rng.integers(10, 100)))])
        if i % 20 == 8:
            toks += ["dup"] * int(rng.integers(1, 3))
        texts.append(" ".join(toks))
    documents = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events, "documents": documents,
        "embeddings": embeddings,
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def write_feed(table: pa.Table, out_dir: str, n_files: int, seed: int) -> None:
    """Split ``table``'s rows into ``n_files`` parquet files, each row
    landing in a seed-chosen file; rows keep their order inside a file."""
    os.makedirs(out_dir, exist_ok=True)
    which = np.random.default_rng(seed).integers(0, n_files, table.num_rows)
    for f in range(n_files):
        part = table.take(pa.array(np.flatnonzero(which == f)))
        pq.write_table(part, os.path.join(out_dir, f"part-{f:03d}.parquet"))
