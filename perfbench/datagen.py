"""Seeded generator for the batch tables the engine's queries read.

Writes one parquet file per table under ``out_dir`` with the same
schemas and value domains as the engine's testdata (TESTDATA.md,
FIXTURES.md §2): a TPC-H-like star schema, an ``events`` table, a ``documents``
corpus with ~5% near-duplicates and unit-norm ``embeddings``. Every
column is drawn independently and uniformly (as in the testdata), so
the query plans and result shapes match the testdata's at the same
scale factor. The same (seed, sf) always writes the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "new", "hot", "cold", "large", "old"]
PART_NOUN = ["anvil", "ring", "widget", "bolt", "plate", "gear", "rod", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64

_DAY_US = 86_400 * 1_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, lo: tuple, hi: tuple, n: int) -> pa.Array:
    start, end = _epoch_us(*lo), _epoch_us(*hi)
    days = rng.integers(0, (end - start) // _DAY_US + 1, n)
    return pa.array(start + days * _DAY_US, type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as in the testdata
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))]))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32)),
        pa.array(v.ravel(), type=pa.float32()),
    )
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": emb,
            "label": pa.array(rng.integers(0, 10, n), type=pa.int32()),
        }
    )


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every table at scale ``sf`` (sf=1 would be 6M lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32 = pa.int32()
    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), type=i32), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), type=i32),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], type=i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=i32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=i32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), type=i32),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _days(rng, (1995, 1, 1), (2001, 8, 1), n_ord),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
                "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), type=i32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
                "l_linestatus": _pick(rng, ["F", "O"], n_line),
                "l_shipdate": _days(rng, (1995, 1, 2), (2001, 11, 4), n_line),
            }
        ),
        "events": pa.table(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": pa.array(
                    _epoch_us(2024, 1, 1)
                    + np.sort(rng.integers(0, 30 * _DAY_US, n_ev)),
                    type=pa.timestamp("us"),
                ),
                "user_id": rng.integers(0, n_cust, n_ev, dtype=np.int64),
                "event_type": _pick(rng, EVENT_TYPES, n_ev),
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
            }
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
    }
    return out


def write(out_dir: str, seed: int, sf: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
