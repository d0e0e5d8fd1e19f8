"""Seeded synthetic inputs in the fixture schema (TPC-H-ish star schema,
``events``, ``documents``, ``embeddings``).

The benchmark cannot read the shipped fixture directories, so it builds
its own tables with the same column names, types and value domains.  Row
counts scale linearly with ``sf`` the way the fixtures do (sf0.1 holds
600k lineitem rows, 100k events, 5k documents, 2k embeddings).  The same
``(seed, sf)`` always yields byte-identical tables.

``documents`` additionally carries planted near-copies: a copy of a long
base document with one word appended, listed in ``planted_pairs`` so the
curation workload can check that every one of them is found.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
P_ADJ = ["large", "hot", "blue", "small", "red", "cold", "green", "old"]
P_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
# the word appended to a planted near-copy (never drawn for base texts)
PLANT_WORD = "dup"
EMB_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH_1995 = (datetime(1995, 1, 1) - datetime(1970, 1, 1)).days * _DAY_US
_EPOCH_2024 = (datetime(2024, 1, 1) - datetime(1970, 1, 1)).days * _DAY_US


@dataclass
class Dataset:
    """Where the tables landed plus the facts checks need."""

    sf_dir: str
    rows: dict[str, int] = field(default_factory=dict)
    arrow_bytes: dict[str, int] = field(default_factory=dict)
    planted_pairs: list[tuple[int, int]] = field(default_factory=list)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _write(sf_dir: str, name: str, table: pa.Table, ds: Dataset) -> None:
    pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    ds.rows[name] = table.num_rows
    ds.arrow_bytes[name] = table.nbytes


def _tpch(rng: np.random.Generator, sf: float, sf_dir: str, ds: Dataset) -> None:
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 20)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 200)
    n_li = max(int(6_000_000 * sf), 800)
    _write(sf_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    }), ds)
    _write(sf_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), ds)
    _write(sf_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    }), ds)
    _write(sf_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    }), ds)
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    _write(sf_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
    }), ds)
    _write(sf_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2405, n_ord) * _DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    }), ds)
    _write(sf_dir, "lineitem", lineitem_batch(rng, n_li, n_ord, n_part, n_supp), ds)


def lineitem_batch(
    rng: np.random.Generator, n: int, n_ord: int, n_part: int, n_supp: int,
    key_lo: int = 0,
) -> pa.Table:
    """``n`` lineitem rows with order keys drawn from
    ``[key_lo, key_lo + n_ord)`` (also used for the table workload's
    append batches)."""
    return pa.table({
        "l_orderkey": pa.array(rng.integers(key_lo, key_lo + n_ord, n).astype("int64")),
        "l_partkey": pa.array(rng.integers(0, n_part, n).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n).astype("int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype("int32")),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ["N", "A", "R"], n),
        "l_linestatus": _pick(rng, ["O", "F"], n),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, n) * _DAY_US),
    })


def _events(rng: np.random.Generator, sf: float, sf_dir: str, ds: Dataset) -> None:
    n = max(int(1_000_000 * sf), 500)
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n))
    _write(sf_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": _ts(_EPOCH_2024 + ts),
        "user_id": pa.array(rng.integers(0, max(n // 66, 10), n).astype("int64")),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(60.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }), ds)


def _documents(rng: np.random.Generator, sf: float, sf_dir: str, ds: Dataset) -> None:
    n = max(int(50_000 * sf), 60)
    n_plant = max(n // 40, 3)
    n_base = n - n_plant
    lens = rng.integers(10, 101, n_base)
    vocab = np.asarray(WORDS, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(WORDS), k)]) for k in lens]
    # near-copies of distinct long base docs: one appended word keeps the
    # char-8 shingle Jaccard far above the dedup threshold
    long_ids = np.flatnonzero(lens >= 60)
    bases = rng.choice(long_ids, n_plant, replace=False)
    for i, b in enumerate(sorted(bases.tolist())):
        texts.append(f"{texts[b]} {PLANT_WORD}")
        ds.planted_pairs.append((int(b), n_base + i))
    _write(sf_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n),
        "source": _pick(rng, [f"src{i}" for i in range(20)], n),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    }), ds)


def _embeddings(rng: np.random.Generator, sf: float, sf_dir: str, ds: Dataset) -> None:
    n = max(int(20_000 * sf), 40)
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, EMB_DIM))
    x = rng.normal(0.0, 1.0, (n, EMB_DIM)) + 0.6 * centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype="int32")),
        pa.array(x.reshape(-1)),
    )
    _write(sf_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": emb,
        "label": pa.array(labels.astype("int32")),
    }), ds)


GROUPS = {
    "tpch": _tpch,
    "events": _events,
    "documents": _documents,
    "embeddings": _embeddings,
}


def generate(sf_dir: str, seed: int, sf: float, groups: list[str]) -> Dataset:
    """Write the requested table groups under ``sf_dir``.  Each group
    draws from its own stream derived from ``seed``, so generating a
    subset yields the same tables as generating everything."""
    os.makedirs(sf_dir, exist_ok=True)
    ds = Dataset(sf_dir)
    for i, g in enumerate(sorted(GROUPS)):
        if g in groups:
            GROUPS[g](np.random.default_rng([seed, i]), sf, sf_dir, ds)
    return ds
