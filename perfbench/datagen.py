"""Seeded generator for the engine's ten input tables.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as single-row-group snappy parquet files with the
same schemas, key ranges, value domains and row counts per scale factor
as the synthetic tables the registry's oracles were written against:

- TPC-H-ish star: dense 0-based keys, uniform foreign keys, 1995-2001
  dates stored as ``TIMESTAMP(isAdjustedToUTC=false, micros)``;
- ``events``: time-sorted January 2024 clicks with ``{"k": N}`` props;
- ``documents``: 10-100 words over a 30-word vocabulary, ~5% near
  duplicates (an earlier document plus a trailing ``dup`` token);
- ``embeddings``: unit-norm float32[64] vectors with a 0-9 label.

The same ``(sf, seed)`` always gives byte-identical files.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["small", "red", "blue", "hot", "cold", "large", "old", "new"]
NOUNS = ["ring", "widget", "bolt", "gear", "rod", "anvil", "plate", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def row_counts(sf: float) -> dict[str, int]:
    def scaled(base: int) -> int:
        return max(1, int(round(base * sf)))

    return {
        "customer": scaled(150_000),
        "supplier": scaled(10_000),
        "part": scaled(200_000),
        "orders": scaled(1_500_000),
        "lineitem": scaled(6_000_000),
        "events": scaled(1_000_000),
        "documents": max(500, scaled(50_000)),
        "embeddings": max(500, scaled(20_000)),
    }


def _micros(lo: str, hi: str) -> tuple[int, int]:
    to_us = lambda s: int(datetime.fromisoformat(s).timestamp()) * 1_000_000  # noqa: E731
    return to_us(lo + "T00:00:00+00:00"), to_us(hi + "T00:00:00+00:00")


def _days(rng, n: int, lo: str, hi: str) -> pa.Array:
    a, b = _micros(lo, hi)
    day = 86_400_000_000
    d = rng.integers(0, (b - a) // day + 1, n)
    return pa.array(a + d * day, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if originals and rng.random() < 0.05:
            texts.append(texts[originals[rng.integers(len(originals))]] + " dup")
            continue
        words = rng.choice(len(VOCAB), int(rng.integers(10, 101)))
        texts.append(" ".join(VOCAB[w] for w in words))
        originals.append(i)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    m = rng.standard_normal((n, 64)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    flat = pa.array(m.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * 64 + 1, 64, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    i64 = lambda k: pa.array(np.arange(k), pa.int64())  # noqa: E731
    nat = lambda k: pa.array(rng.integers(0, 25, k), pa.int32())  # noqa: E731
    out: dict[str, pa.Table] = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
    }
    k = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": i64(k),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
        "c_nationkey": nat(k),
        "c_acctbal": _money(rng, k, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, k),
    })
    k = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": i64(k),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
        "s_nationkey": nat(k),
        "s_acctbal": _money(rng, k, -999.99, 9999.99),
    })
    k = n["part"]
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    out["part"] = pa.table({
        "p_partkey": i64(k),
        "p_name": _pick(rng, names, k),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, k)]),
        "p_type": _pick(rng, PART_TYPES, k),
        "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) / 10.0, 1),
    })
    k = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": i64(k),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], k),
        "o_totalprice": _money(rng, k, 1000.0, 500000.0),
        "o_orderdate": _days(rng, k, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, k),
    })
    k = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, k, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], k),
        "l_linestatus": _pick(rng, ["F", "O"], k),
        "l_shipdate": _days(rng, k, "1995-01-02", "2001-11-04"),
    })
    k = n["events"]
    a, b = _micros("2024-01-01", "2024-01-31")
    out["events"] = pa.table({
        "event_id": i64(k),
        "ts": pa.array(np.sort(rng.integers(a, b, k)), pa.timestamp("us")),
        "user_id": pa.array(
            rng.integers(0, max(1, int(round(15_000 * sf))), k), pa.int64()
        ),
        "event_type": _pick(rng, EVENT_TYPES, k),
        "value": np.round(rng.exponential(50.0, k), 2),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]),
    })
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def generate(outdir: str, sf: float, seed: int) -> str:
    """Write every table to ``outdir/<name>.parquet``; returns ``outdir``."""
    os.makedirs(outdir, exist_ok=True)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(
            table, os.path.join(outdir, f"{name}.parquet"), compression="snappy"
        )
    return outdir
