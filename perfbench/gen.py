"""Seeded input generation for the benchmark workloads.

Everything a run consumes is produced here, in the benchmark process,
from the run's ``--seed``: the TPC-H-shaped tables of ``relational``,
the orders table and change batches of ``ingest``, and the documents,
embeddings and queries of the curation slice of ``ingest``. The same
seed gives byte-identical inputs. The program under test only ever sees
the parquet files and DataFrames built from these arrays.

Money columns are whole cents and quantities whole units, so every
DECIMAL sum the plans compute is exact and the DuckDB twins agree
cell for cell.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil"]

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(_EPOCH_1995 + days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    return rng.integers(lo * 100, hi * 100, n) / 100.0


def tpch_tables(rng: np.random.Generator, n_orders: int) -> dict[str, pa.Table]:
    """The seven relational tables, with about ``4 * n_orders`` lineitems."""
    n_cust = max(50, n_orders // 10)
    n_part = max(50, n_orders // 8)
    n_supp = max(10, n_orders // 150)
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999, 9999, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999, 9999, n_supp),
    })
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _cents(rng, 900, 1000, n_part),
    })
    odays = rng.integers(0, 2400, n_orders)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": _cents(rng, 1000, 500000, n_orders),
        "o_orderdate": _ts(odays),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    })
    # 1..7 lines per order (4 on average), numbered 1..n within the
    # order so (l_orderkey, l_linenumber) is a key, as in TPC-H; rows
    # are shuffled so the file is not clustered by order
    per_order = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders), per_order)
    lnum = np.arange(len(okey)) - np.repeat(np.cumsum(per_order) - per_order, per_order) + 1
    shuffle = rng.permutation(len(okey))
    okey, lnum = okey[shuffle], lnum[shuffle]
    n_line = len(okey)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(odays[okey] + rng.integers(1, 122, n_line)),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem,
    }


def order_prices(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    """``(o_orderkey, o_totalprice)`` rows: the ingest workload's table
    and change batches."""
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_totalprice": _cents(rng, 1000, 500000, len(keys)),
    })


#: 150 made-up words; document text draws from them with Zipf weights
VOCAB = [
    a + b
    for a in ("ka", "lo", "mi", "nu", "pe", "ri", "so", "tu", "va", "ze")
    for b in ("bar", "cen", "dol", "fin", "gar", "hul", "jet", "kos",
              "lum", "mor", "nex", "pid", "qua", "rob", "sil")
]


def documents(
    rng: np.random.Generator, ids: np.ndarray, copies: list[str] = ()
) -> pa.Table:
    """``(doc_id, text, y)`` rows with 20-59 Zipf-drawn words each and
    a 0/1 label. The first ``len(copies)`` documents are near-duplicates
    of the given texts: one word replaced."""
    n = len(ids)
    lens = rng.integers(20, 60, n)
    words = np.array(VOCAB)[(rng.zipf(1.3, int(lens.sum())) - 1) % len(VOCAB)]
    texts = [" ".join(w) for w in np.split(words, np.cumsum(lens)[:-1])]
    for j, src in enumerate(copies):
        toks = src.split()
        toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[j] = " ".join(toks)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "y": pa.array(rng.integers(0, 2, n), pa.int32()),
    })


def embeddings(
    rng: np.random.Generator, ids: np.ndarray, centers: np.ndarray
) -> pa.Table:
    """``(vec_id, embedding)`` rows: float32 vectors scattered around
    randomly chosen rows of ``centers``."""
    pick = rng.integers(0, len(centers), len(ids))
    vecs = centers[pick] + 0.5 * rng.standard_normal((len(ids), centers.shape[1]))
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
    })


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    """One single-row-group parquet file per table, the testdata layout
    ``sources.readers.read_table`` expects."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))
