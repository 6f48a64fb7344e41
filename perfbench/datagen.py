"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine's registered queries read (the TPC-H-like
star schema plus the `events`, `documents` and `embeddings` corpora) as
parquet files, with the column names and types of the repository's test
data. Every value is drawn from one `numpy.random.Generator` seeded by the
caller, so the same (seed, scale) always gives byte-identical inputs.

Scale follows TPC-H: `sf=0.01` gives 1 500 customers, 15 000 orders and
about 60 000 line items.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = (["small", "red", "blue", "green", "steel", "brass", "tiny", "big"],
              ["ring", "widget", "bolt", "nut", "gear", "spring", "valve", "pin"])
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
VOCAB = ("a agg batch big column customer data dup fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
EMBED_DIM = 64
EMBED_CLASSES = 10

_EPOCH = np.datetime64("1995-01-01T00:00:00", "us")
_EVENTS_EPOCH = np.datetime64("2024-01-01T00:00:00", "us")


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor `sf` (line items vary by seed)."""
    return {
        "customer": max(50, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(50, int(200_000 * sf)),
        "orders": max(500, int(1_500_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(50, int(50_000 * sf)),
        "embeddings": max(50, int(50_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Random word documents; one in eight is a near-copy of an earlier one
    (a few words replaced), so the dedup, exact-substring and
    duplicate-graph operators find real pairs and spans."""
    docs: list[list[str]] = []
    vocab = np.array(VOCAB)
    for i in range(n):
        if i >= 8 and rng.random() < 0.125:
            words = list(docs[int(rng.integers(0, i))])
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = str(vocab[rng.integers(0, len(vocab))])
            if rng.random() < 0.5:
                words.append("dup")
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 110)))])
        docs.append(words)
    return [" ".join(w) for w in docs]


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under `out_dir`; returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    size = table_sizes(sf)
    rows: dict[str, int] = {}

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    nc = size["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": list(np.array(SEGMENTS)[rng.integers(0, 5, nc)]),
    })

    ns = size["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })

    np_ = size["part"]
    adj, noun = PART_WORDS
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (np_, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": list(np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), np_)]),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 2000) * 0.1, 2),
    })

    no = size["orders"]
    odate = _EPOCH + rng.integers(0, 2403, no).astype("timedelta64[D]")
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": list(np.array(STATUSES)[rng.integers(0, 3, no)]),
        "o_totalprice": _money(rng, 900.0, 500_000.0, no),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": list(np.array(PRIORITIES)[rng.integers(0, 5, no)]),
    })

    per_order = rng.integers(1, 8, no)
    nl = int(per_order.sum())
    l_order = np.repeat(np.arange(no), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    l_line = np.arange(nl) - starts + 1
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship = np.repeat(odate, per_order) + rng.integers(1, 122, nl).astype("timedelta64[D]")
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(l_line, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": list(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": list(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })
    rows["lineitem"] = nl

    ne = size["events"]
    users = max(20, ne // 66)
    ts = _EVENTS_EPOCH + np.sort(rng.integers(0, 30 * 86_400_000_000, ne)).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, ne), pa.int64()),
        "event_type": list(np.array(EVENT_TYPES)[rng.integers(0, 5, ne)]),
        "value": _money(rng, 0.01, 500.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    nd = size["documents"]
    texts = _documents(rng, nd)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": list(np.array(LANGS)[rng.integers(0, len(LANGS), nd)]),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    nv = size["embeddings"]
    labels = rng.integers(0, EMBED_CLASSES, nv)
    centers = rng.normal(size=(EMBED_CLASSES, EMBED_DIM))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(nv, EMBED_DIM))
    dups = np.flatnonzero(rng.random(nv) < 0.05)
    dups = dups[dups > 0]
    src = rng.integers(0, dups, len(dups)) if len(dups) else dups
    vecs[dups] = vecs[src] + rng.normal(scale=0.01, size=(len(dups), EMBED_DIM))
    labels[dups] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

    rows.update({k: v for k, v in size.items()})
    rows.update(region=5, nation=25)
    return rows


def input_bytes(data_dir: str, tables: tuple[str, ...]) -> int:
    """On-disk parquet bytes of the given tables."""
    return sum(os.path.getsize(os.path.join(data_dir, f"{t}.parquet")) for t in tables)
