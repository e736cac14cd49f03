"""Seeded benchmark inputs.

The benchmark's inputs come from the run's seed through numpy's PCG64
generator, one independent stream per input: here the ten registry
tables (same names, column types and value domains as the engine's
synthetic fixture tables, FIXTURES.md §3); the workloads draw their
probe terms, appended documents and paced-stream files from ``rng``
too. The same seed gives the same inputs.
"""

from __future__ import annotations

import os
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "hot", "small", "old", "red", "new", "big", "cold")
PART_NOUN = ("bolt", "gear", "anvil", "widget", "ring", "rod", "nut", "pipe")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("de", "en", "es", "fr", "zh")
#: the fixture documents' 31-word vocabulary (q21/q41 shapes depend on it)
DOC_WORDS = (
    "a the row query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part merge window "
    "order column join vector"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00 (UTC micros)
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00 (UTC micros)


def rng(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per input stream, so adding a stream
    never shifts another's values."""
    key = sum(ord(c) * 131 ** i for i, c in enumerate(stream)) % (1 << 32)
    return np.random.default_rng([seed, key])


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(g: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(g.uniform(lo, hi, n), 2)


def _texts(g: np.random.Generator, vocab, n: int, lo: int, hi: int) -> list:
    vocab = np.asarray(vocab)
    lens = g.integers(lo, hi + 1, n)
    return [" ".join(vocab[g.integers(0, len(vocab), k)]) for k in lens]


def near_duplicates(g: np.random.Generator, texts: list, share: float) -> list:
    """Replace ``share`` of the texts by a copy of an earlier text with one
    word changed, so MinHash/LSH queries have true near-duplicate pairs."""
    out = list(texts)
    n = len(out)
    for i in np.flatnonzero(g.random(n) < share):
        if i == 0:
            continue
        words = out[int(g.integers(0, i))].split(" ")
        words[int(g.integers(0, len(words)))] = DOC_WORDS[int(g.integers(0, len(DOC_WORDS)))]
        out[i] = " ".join(words)
    return out


def registry_tables(seed: int, sf: float) -> dict:
    """The ten registry tables at scale factor ``sf`` as Arrow tables."""
    g = rng(seed, "tables")
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_emb = max(500, int(20_000 * sf))
    n_users = max(50, int(15_000 * sf))
    t = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(g, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.asarray(SEGMENTS)[g.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(g, -999.99, 9999.99, n_supp),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": np.asarray(names)[g.integers(0, len(names), n_part)],
            "p_brand": [f"Brand#{i}" for i in g.integers(1, 26, n_part)],
            "p_type": np.asarray(PART_TYPES)[g.integers(0, 6, n_part)],
            "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + g.integers(0, 1000, n_part) / 10.0, 2),
        }
    )
    odate = _EPOCH_1995 + g.integers(0, 2404, n_ord) * _DAY_US
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": g.integers(0, n_cust, n_ord),
            "o_orderstatus": np.asarray(("F", "O", "P"))[g.integers(0, 3, n_ord)],
            "o_totalprice": _money(g, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(odate),
            "o_orderpriority": np.asarray(PRIORITIES)[g.integers(0, 5, n_ord)],
        }
    )
    per = g.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype="int64"), per)
    n_li = len(okey)
    starts = np.repeat(np.cumsum(per) - per, per)
    qty = g.integers(1, 51, n_li).astype("float64")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": g.integers(0, n_part, n_li),
            "l_suppkey": g.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * g.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": g.integers(0, 11, n_li) / 100.0,
            "l_tax": g.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.asarray(("A", "N", "R"))[g.integers(0, 3, n_li)],
            "l_linestatus": np.asarray(("F", "O"))[g.integers(0, 2, n_li)],
            "l_shipdate": _ts(np.repeat(odate, per) + g.integers(1, 122, n_li) * _DAY_US),
        }
    )
    ev_ts = np.sort(_EPOCH_2024 + g.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": _ts(ev_ts),
            "user_id": g.integers(0, n_users, n_ev),
            "event_type": np.asarray(EVENT_TYPES)[
                g.choice(5, n_ev, p=[0.4, 0.3, 0.15, 0.1, 0.05])
            ],
            "value": np.maximum(0.01, np.round(g.exponential(50.0, n_ev), 2)),
            "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = documents(seed, sf)
    labels = g.integers(0, 10, n_emb)
    centers = g.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + g.normal(0.0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True) * 0.8).astype("float32")
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype="int64"),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def doc_texts(g: np.random.Generator, n: int) -> list:
    """``n`` document texts of 10–99 words over the fixture vocabulary."""
    return _texts(g, DOC_WORDS, n, 10, 99)


def documents(seed: int, sf: float) -> pa.Table:
    """The ``documents`` table at scale factor ``sf`` (5,000 docs at
    sf0.1), from its own stream so it can be made without the others."""
    g = rng(seed, "documents")
    n_docs = max(500, int(50_000 * sf))
    texts = near_duplicates(g, doc_texts(g, n_docs), 0.1)
    return pa.table(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": np.asarray(LANGS)[g.integers(0, 5, n_docs)],
            "source": [f"src{i}" for i in g.integers(0, 20, n_docs)],
            "n_chars": np.array([len(s) for s in texts], dtype="int64"),
        }
    )


def write_tables(tables: dict, out_dir: str) -> None:
    """One ``<name>.parquet`` file per table — the layout ``queries/_tables.t``
    reads."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
