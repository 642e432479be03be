"""Seeded input generator for the benchmark.

Writes the testdata table set (TPC-H-ish star schema plus ``events``,
``documents`` and ``embeddings``) as one parquet file per table, with
the same column names, types and value ranges as the repository's
testdata, so every headline query and its DuckDB oracle run unchanged
on it. Row counts scale with ``sf`` (``sf=0.01`` gives 60,000
lineitem rows). The same ``(seed, sf)`` always gives the same bytes.

Documents are random sequences over the testdata's 31-word English
vocabulary (``WORDS``), which the language-id and quality gates of the
curation queries accept; ``dup_every`` plants near copies (an earlier
document plus `` dup``) so the dedup queries have pairs to find. The
ingest workload draws from a large pseudo-word vocabulary instead
(``vocabulary``), so that no two of its documents are near duplicates
by chance.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "shiny", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "spring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)

_DAY_US = 86_400 * 1_000_000
_EVENTS_T0_US = 1_704_067_200 * 1_000_000  # 2024-01-01 UTC
_ORDERS_T0_DAY = 9131  # 1995-01-01 as days since the epoch


def vocabulary(rng: np.random.Generator, n: int = 2000) -> np.ndarray:
    """``n`` distinct pseudo-words of 3-8 letters."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(3, 9))
        words.add("".join(rng.choice(letters, k)))
    return np.array(sorted(words))


def documents(
    rng: np.random.Generator,
    n: int,
    vocab: np.ndarray = WORDS,
    min_words: int = 10,
    max_words: int = 100,
    dup_every: int = 0,
) -> dict[str, list]:
    """Columns of the ``documents`` table. With ``dup_every = k > 0``
    every k-th document (from the k-th on) is a near copy of a random
    earlier one."""
    texts: list[str] = []
    for i in range(n):
        if dup_every and i >= dup_every and i % dup_every == 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        k = int(rng.integers(min_words, max_words + 1))
        texts.append(" ".join(rng.choice(vocab, k)))
    ids = list(range(n))
    return {
        "doc_id": ids,
        "text": texts,
        "lang": list(rng.choice(LANGS, n)),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": [len(t) for t in texts],
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir`` as ``<name>.parquet``;
    returns the row count per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_orders = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(50, int(50_000 * sf))
    n_emb = max(50, int(50_000 * sf))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
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
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = rng.choice(PART_ADJ, n_part)
    noun = rng.choice(PART_NOUN, n_part)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(rng.uniform(900.0, 999.9, n_part), 1),
        }
    )
    odays = rng.integers(0, 2404, n_orders) + _ORDERS_T0_DAY
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
            "o_orderdate": pa.array(odays * _DAY_US, pa.timestamp("us")),
            "o_orderpriority": rng.choice(PRIORITIES, n_orders),
        }
    )
    lorder = rng.integers(0, n_orders, n_line)
    ship = odays[lorder] + rng.integers(1, 122, n_line)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(lorder, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["O", "F"], n_line),
            "l_shipdate": pa.array(ship * _DAY_US, pa.timestamp("us")),
        }
    )
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_events)) + _EVENTS_T0_US
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "value": _money(rng, 0.01, 490.0, n_events),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    tables["documents"] = pa.table(
        documents(rng, n_docs, dup_every=20),
        schema=pa.schema(
            [
                ("doc_id", pa.int64()),
                ("text", pa.string()),
                ("lang", pa.string()),
                ("source", pa.string()),
                ("n_chars", pa.int64()),
            ]
        ),
    )
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 0.02, (10, 64))
    vecs = rng.normal(0.0, 0.125, (n_emb, 64)) + centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def pre_read(out_dir: str) -> int:
    """Read every file under ``out_dir`` once so the first measured
    operation does not pay for cold page-cache reads; returns the bytes
    read."""
    total = 0
    for root, _dirs, files in os.walk(out_dir):
        for name in files:
            with open(os.path.join(root, name), "rb") as fh:
                while chunk := fh.read(1 << 22):
                    total += len(chunk)
    return total
