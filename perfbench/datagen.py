"""Seeded generator for the benchmark's input tables.

Writes the ten star-schema tables the query registry reads (``region``
… ``embeddings``, one parquet file each) with the same schemas and value
domains as the registry's reference test data, so every registered
query runs unchanged against the generated directory. All values come
from one ``numpy`` generator seeded by ``--seed``: the same seed and
size give byte-identical inputs.

``rows(scale)`` gives the row counts; ``scale=1.0`` is the sf0.1 shape
(600k lineitem rows), ``scale=0.1`` the sf0.01 shape.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.44, 0.14, 0.14, 0.14)
#: The 30-word vocabulary of the reference corpus.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def rows(scale: float) -> dict[str, int]:
    """Row count per generated table at ``scale`` (1.0 = sf0.1)."""

    def n(base: int) -> int:
        return max(10, int(round(base * scale)))

    return {
        "customer": n(15_000),
        "supplier": n(1_000),
        "part": n(20_000),
        "orders": n(150_000),
        "lineitem": n(600_000),
        "events": n(100_000),
        "users": n(1_500),
        "documents": n(5_000),
        "embeddings": n(2_000),
    }


def _days_us(rng, n: int, first: str, last: str) -> np.ndarray:
    lo = (np.datetime64(first, "us") - _EPOCH).astype(np.int64) // _DAY_US
    hi = (np.datetime64(last, "us") - _EPOCH).astype(np.int64) // _DAY_US
    return rng.integers(lo, hi + 1, n) * _DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def _documents(rng, n: int) -> pa.Table:
    """Word-salad documents over :data:`VOCAB`, 8–100 tokens each. About
    5% are near-duplicates of an earlier document (its text plus one or
    two ``dup`` tokens), so every dedup operator has pairs to find."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
            continue
        length = int(rng.integers(8, 101))
        texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), length)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def generate(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table under ``out_dir`` and return the row counts."""
    rng = np.random.default_rng(seed)
    n = rows(scale)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    })
    nc = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, nc, -999.99, 9999.99)),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    ns = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, ns, -999.99, 9999.99)),
    })
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": _pick(rng, names, npart),
        "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, npart)]),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(npart) % 1000) / 10.0),
    })
    no = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
        "o_totalprice": pa.array(_money(rng, no, 1000.0, 500000.0)),
        "o_orderdate": _ts(_days_us(rng, no, "1995-01-01", "2001-08-01")),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    nl = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, nl, 900.0, 105000.0)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
        "l_linestatus": _pick(rng, ("F", "O"), nl),
        "l_shipdate": _ts(_days_us(rng, nl, "1995-01-02", "2001-11-04")),
    })
    ne = n["events"]
    start = (np.datetime64("2024-01-01", "us") - _EPOCH).astype(np.int64)
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": _ts(start + np.sort(rng.integers(0, 30 * _DAY_US, ne))),
        "user_id": pa.array(rng.integers(0, n["users"], ne, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    tables["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv, dtype=np.int32)),
    })

    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
