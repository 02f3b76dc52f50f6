"""Seeded input generators. Every input the benchmark feeds the program
is a pure function of ``--seed`` and a size, so two runs with one seed
see identical data and the program receives only generated files.

- ``write_tables``: the star-schema tables the query catalog reads
  (same names, columns and value domains as the repo's testdata), plus
  the ``events`` table whose contiguous ``event_id`` sizes the
  battle-log corpus (two replays per event).
- ``make_documents``: a text corpus with a stated share of exact and
  near duplicates, for the curation and admission workloads.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
ORDER_STATUS = ("O", "P", "F")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_WORDS = ("blue", "cold", "hot", "red", "small", "big", "green", "old")
PART_NOUNS = ("ring", "plate", "gear", "rod", "widget", "bolt", "nut", "pipe")


def _ts_us(start: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out_dir: str, seed: int, n_events: int) -> dict[str, int]:
    """Write every catalog table as one parquet file under ``out_dir``;
    returns row counts. Sizes scale with ``n_events`` in the testdata's
    proportions (orders = 1.5x events, lineitem = 4x orders)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_orders = n_events * 3 // 2
    n_lines = n_orders * 4
    n_cust = max(n_orders // 10, 50)
    n_supp = max(n_orders // 150, 10)
    n_part = max(n_orders * 2 // 15, 50)
    n_docs = max(n_events // 20, 100)

    events_off = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_events))
    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": list(REGIONS),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{PART_WORDS[a]} {PART_NOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        },
        "orders": {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": [ORDER_STATUS[i] for i in rng.integers(0, 3, n_orders)],
            "o_totalprice": _money(rng, 1000, 500000, n_orders),
            "o_orderdate": _ts_us(
                dt.datetime(1995, 1, 1),
                rng.integers(0, 2405, n_orders) * 86400 * 1_000_000,
            ),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_orders, n_lines),
            "l_partkey": rng.integers(0, n_part, n_lines),
            "l_suppkey": rng.integers(0, n_supp, n_lines),
            "l_linenumber": pa.array(rng.integers(1, 8, n_lines, dtype=np.int32)),
            "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_lines),
            "l_discount": rng.integers(0, 11, n_lines) / 100.0,
            "l_tax": rng.integers(0, 9, n_lines) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_lines)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_lines)],
            "l_shipdate": _ts_us(
                dt.datetime(1995, 1, 2),
                rng.integers(0, 2499, n_lines) * 86400 * 1_000_000,
            ),
        },
        "events": {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": _ts_us(dt.datetime(2024, 1, 1), events_off),
            "user_id": rng.integers(0, max(n_events // 60, 20), n_events),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(40.0, n_events), 2),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_events)],
        },
    }
    docs = make_documents(seed, n_docs, exact_share=0.05, near_share=0.05)
    tables["documents"] = docs
    counts = {}
    for name, cols in tables.items():
        tbl = cols if isinstance(cols, pa.Table) else pa.table(cols)
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts


def make_documents(
    seed: int,
    n: int,
    *,
    exact_share: float,
    near_share: float,
    id_offset: int = 0,
    salt: int = 0,
) -> pa.Table:
    """``n`` documents (doc_id, text, lang, source, n_chars). The last
    ``exact_share`` of rows copy an earlier doc's text verbatim and the
    ``near_share`` before them copy one with a single word replaced, so
    the dedup stages have a known amount of work. Base texts (20-100
    words drawn from VOCAB) and near copies are all distinct, so exact
    dedup finds exactly the planted copies."""
    rng = np.random.default_rng([seed, 2, salt])
    n_exact = int(n * exact_share)
    n_near = int(n * near_share)
    n_base = n - n_exact - n_near
    texts: list[str] = []
    seen: set[str] = set()
    while len(texts) < n_base:
        length = int(rng.integers(20, 101))
        text = " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), length))
        if text not in seen:
            texts.append(text)
            seen.add(text)
    for src in rng.integers(0, n_base, n_near):
        words = texts[src].split()
        pos = int(rng.integers(0, len(words)))
        for k in range(len(words)):  # the first one-word variant no doc has yet
            variant = list(words)
            p = (pos + k) % len(words)
            variant[p] = VOCAB[(VOCAB.index(variant[p]) + 1) % len(VOCAB)]
            text = " ".join(variant)
            if text not in seen:
                break
        texts.append(text)
        seen.add(text)
    for src in rng.integers(0, n_base, n_exact):
        texts.append(texts[src])
    return pa.table(
        {
            "doc_id": np.arange(id_offset, id_offset + n, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
            "source": [f"src{i}" for i in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
