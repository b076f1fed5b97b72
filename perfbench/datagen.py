"""Seeded generator for the engine's ten input tables.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one parquet file each, with the column names and
types the declared queries and their DuckDB oracles read, and value
distributions shaped like the engine's reference test data (uniform keys,
Poisson(4) lines per order, 30 days of events, ~5% near-duplicate
documents over a 31-word vocabulary, unit-norm 64-dim embeddings).

The same ``(seed, sf)`` always writes the same bytes, so a benchmark run
is reproducible from its seed; the row counts depend on ``sf`` alone, so
runs with different seeds do the same amount of work.

Every column has the parquet physical and logical type of the reference
tables; ``events.ts`` in particular is INT64 TIMESTAMP(MICROS), not
adjusted to UTC, as the reference ``events.parquet`` stores it, so
``tables.load`` reads it without its nanosecond branch there and here.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "fr", "es", "de", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "purchase", "error", "view"]
PART_ADJ = ["red", "small", "hot", "cold", "old", "new", "large", "blue"]
PART_NOUN = ["gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt", "rod"]
PART_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]

DAY_US = 86_400_000_000


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (sf 1 = 6M lineitem rows)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> np.ndarray:
    return np.array(values)[rng.integers(0, len(values), n)]


def generate(out: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables under ``out``; returns rows written per table."""
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    os.makedirs(out, exist_ok=True)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"], dtype=np.int32),
            "c_acctbal": np.round(rng.uniform(-1000, 10000, n["customer"]), 2),
            "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"], dtype=np.int32),
            "s_acctbal": np.round(rng.uniform(-1000, 10000, n["supplier"]), 2),
        }
    )
    n_part = n["part"]
    pkeys = np.arange(n_part, dtype=np.int64)
    tables["part"] = pa.table(
        {
            "p_partkey": pkeys,
            "p_name": np.char.add(
                np.char.add(_pick(rng, PART_ADJ, n_part), " "),
                _pick(rng, PART_NOUN, n_part),
            ),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900.0 + (pkeys % 1000) * 0.1, 1),
        }
    )

    d0 = np.datetime64("1995-01-01", "D").astype(np.int64)
    d1 = np.datetime64("2001-08-01", "D").astype(np.int64)
    n_ord = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n_ord, dtype=np.int64),
            "o_orderstatus": _pick(rng, ["O", "P", "F"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
            "o_orderdate": _ts(rng.integers(d0, d1 + 1, n_ord) * DAY_US),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )

    l_orderkey = np.repeat(np.arange(n_ord, dtype=np.int64), rng.poisson(4.0, n_ord))
    n_li = len(l_orderkey)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": l_orderkey,
            "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], n_li, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _ts(rng.integers(d0, d1 + 96, n_li) * DAY_US),
        }
    )

    n_ev = n["events"]
    e0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(np.sort(rng.integers(e0, e0 + 30 * DAY_US, n_ev))),
            "user_id": rng.integers(0, max(1, n_ev // 66), n_ev, dtype=np.int64),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)],
        }
    )

    n_doc = n["documents"]
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), w)])
             for w in rng.integers(8, 97, n_doc)]
    # ~5% near-duplicates: an earlier document's text plus one word
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n_doc, p=LANG_P)],
            "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )

    n_vec = n["embeddings"]
    emb = rng.normal(size=(n_vec, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vec, dtype=np.int32),
        }
    )

    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
