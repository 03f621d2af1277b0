"""Seeded parquet tables in the schema of the repo's query registry.

``tables_dir(cache_root, seed, sf)`` writes the ten tables that
``hadoop_wordcount_spark.sources.tables.TABLES`` names, one parquet
file each, with the column names and types and the value shapes of
the testdata the registry's oracles were written against (FIXTURES.md
F2-F4). Row counts scale with ``sf`` (sf=0.01: 500 documents, 60,000
lineitems). The directory name carries seed and scale, so a second run
with the same arguments reuses it.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
_EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
_P_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
_P_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]


def _ts(rng: np.random.Generator, n: int, start: str, end: str, unit: str) -> np.ndarray:
    lo = np.datetime64(start, unit).astype(np.int64)
    hi = np.datetime64(end, unit).astype(np.int64)
    return rng.integers(lo, hi, size=n).astype(f"datetime64[{unit}]")


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lens = rng.integers(10, 100, size=n)
    words = rng.integers(0, len(_WORDS), size=int(lens.sum()))
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(_WORDS[w] for w in ws) for ws in np.split(words, cuts)]
    # Exact and near duplicates for the dedup family: a doc copies an
    # earlier one, and a near duplicate also swaps its last word.
    for i in range(n // 10, n):
        r = rng.random()
        if r < 0.03:
            texts[i] = texts[int(rng.integers(0, i))]
        elif r < 0.08:
            src = texts[int(rng.integers(0, i))].rsplit(" ", 1)[0]
            texts[i] = f"{src} dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(_LANGS, size=n, p=_LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, size=n)
    vecs = centers[labels] + 0.8 * rng.normal(size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    ts = np.sort(_ts(rng, n, "2024-01-01", "2024-01-31", "us"))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, size=n), pa.int64()),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, size=n), pa.string()),
            "value": pa.array(_money(rng.exponential(50.0, size=n)) + 0.01, pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)], pa.string()),
        }
    )


def _relational(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    region = pa.table(
        {"r_regionkey": pa.array(np.arange(5), pa.int32()), "r_name": pa.array(_REGIONS)}
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng.uniform(-999.99, 9999.99, size=n_cust))),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, size=n_cust)),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng.uniform(-999.99, 9999.99, size=n_supp))),
        }
    )
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                [f"{_P_ADJ[a]} {_P_NOUN[b]}" for a, b in rng.integers(0, 8, size=(n_part, 2))]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, size=n_part)]),
            "p_type": pa.array(rng.choice(_P_TYPES, size=n_part)),
            "p_size": pa.array(rng.integers(1, 51, size=n_part), pa.int32()),
            "p_retailprice": pa.array(_money(900.0 + (np.arange(n_part) % 1000) * 0.1)),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["P", "O", "F"], size=n_ord)),
            "o_totalprice": pa.array(_money(rng.uniform(1000.0, 500_000.0, size=n_ord))),
            "o_orderdate": pa.array(_ts(rng, n_ord, "1995-01-01", "2001-08-02", "D").astype("datetime64[us]"), pa.timestamp("us")),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, size=n_ord)),
        }
    )
    qty = rng.integers(1, 51, size=n_line).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, size=n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, size=n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, size=n_line), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(_money(qty * rng.uniform(18.0, 2100.0, size=n_line))),
            "l_discount": pa.array(rng.integers(0, 11, size=n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, size=n_line) / 100.0),
            "l_returnflag": pa.array(rng.choice(["R", "A", "N"], size=n_line)),
            "l_linestatus": pa.array(rng.choice(["O", "F"], size=n_line)),
            "l_shipdate": pa.array(_ts(rng, n_line, "1995-01-02", "2001-11-05", "D").astype("datetime64[us]"), pa.timestamp("us")),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def _generate(out_dir: str, seed: int, sf: float) -> None:
    rng = np.random.default_rng([seed, 3])
    tables = _relational(rng, sf)
    tables["events"] = _events(rng, int(1_000_000 * sf), n_users=150)
    tables["documents"] = _documents(rng, int(50_000 * sf))
    tables["embeddings"] = _embeddings(rng, int(50_000 * sf))
    for name, table in tables.items():
        # one row group per table, like the registry's testdata
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=table.num_rows or 1)


def tables_dir(cache_root: str, seed: int, sf: float) -> str:
    """Return the directory of the cached tables, generating them on a miss."""
    out = os.path.join(cache_root, f"tables_s{seed}_sf{sf:g}")
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _generate(tmp, seed, sf)
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
