"""Deterministic benchmark input tables.

The benchmark generates its own tables instead of reading data from
outside its checkout. The layout follows the repository's test data
(one parquet file per table, TPC-H-ish star schema plus a `documents`
corpus), so the declared queries in `chapterhousedb_spark.workload` run
on it unchanged. The data seed is fixed: the workload seed chooses the
statements, literals and paging walks, never the tables, so pinned row
counts stay valid for every workload seed.

Sizes: lineitem 600k rows (sf0.1-sized, the bulk of interactive scans
and every paged result), orders 150k, customer 15k, nation 25,
documents 1,000 (small enough that one cold pass of the
batch queries fits a benchmark run). lineitem is ordered by
l_orderkey and orders by o_orderkey, as TPC-H data is.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VERSION = "v1"  # bump when the generated tables change

N_CUSTOMER = 15_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_DOCUMENTS = 1_000
# Several row groups per large table, so a selective scan reads a few of
# them and a full scan splits across cores: the interactive statements
# then cost what their planning and writing cost, not one whole-file
# decode each.
ROW_GROUP = 50_000

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
    "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA",
    "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EPOCH_MS_1992 = 694_224_000_000  # 1992-01-01T00:00:00Z
_DAY_MS = 86_400_000


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array(_NATIONS, pa.string()),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    custkey = np.arange(1, N_CUSTOMER + 1, dtype=np.int64)
    customer = pa.table({
        "c_custkey": pa.array(custkey),
        "c_name": pa.array([f"Customer#{k:09d}" for k in custkey], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2)),
        "c_mktsegment": _pick(rng, _SEGMENTS, N_CUSTOMER),
    })
    orderkey = np.arange(1, N_ORDERS + 1, dtype=np.int64)
    orderdate = _EPOCH_MS_1992 + rng.integers(0, 2400, N_ORDERS) * _DAY_MS
    orders = pa.table({
        "o_orderkey": pa.array(orderkey),
        "o_custkey": pa.array(rng.integers(1, N_CUSTOMER + 1, N_ORDERS, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": pa.array(np.round(rng.uniform(900.0, 500_000.0, N_ORDERS), 2)),
        "o_orderdate": pa.array(orderdate, pa.timestamp("ms")),
        "o_orderpriority": _pick(rng, _PRIORITIES, N_ORDERS),
    })
    # 1-7 lines per order, truncated to exactly N_LINEITEM rows
    lines = rng.integers(1, 8, N_ORDERS)
    l_order = np.repeat(orderkey, lines)[:N_LINEITEM]
    l_number = np.concatenate([np.arange(1, n + 1) for n in lines])[:N_LINEITEM]
    n = len(l_order)
    quantity = rng.integers(1, 51, n).astype(np.float64)
    partkey = rng.integers(1, 20_001, n, dtype=np.int64)
    unit = 900.0 + (partkey % 1000) + (partkey % 100) / 100.0
    shipdate = orderdate[l_order - 1] + rng.integers(1, 122, n) * _DAY_MS
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(partkey),
        "l_suppkey": pa.array(rng.integers(1, 1001, n, dtype=np.int64)),
        "l_linenumber": pa.array(l_number.astype(np.int32)),
        "l_quantity": pa.array(quantity),
        "l_extendedprice": pa.array(np.round(quantity * unit, 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": pa.array(shipdate, pa.timestamp("ms")),
    })
    return {
        "nation": nation,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "documents": _documents(rng),
    }


def _documents(rng: np.random.Generator) -> pa.Table:
    """Random-word documents with planted exact and near duplicates, so
    the dedup, clustering and quality queries have real work to do."""
    texts = []
    for i in range(N_DOCUMENTS):
        r = rng.random()
        if i >= 20 and r < 0.04:  # exact copy of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i >= 20 and r < 0.12:  # near copy: a few words replaced
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(words) // 20)):
                words[int(rng.integers(0, len(words)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        else:
            words = [_VOCAB[j] for j in rng.integers(0, len(_VOCAB), int(rng.integers(8, 90)))]
            if rng.random() < 0.05:
                words.append("dup")
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCUMENTS, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, _LANGS, N_DOCUMENTS, p=_LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCUMENTS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def ensure_data(work_dir: str) -> str:
    """Generate the tables under `work_dir` once and return their
    directory. Written to a temporary sibling and renamed into place,
    so an interrupted run never leaves a partial data set behind."""
    final = os.path.join(work_dir, f"data-{VERSION}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(np.random.default_rng(DATA_SEED)).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), row_group_size=ROW_GROUP)
    os.rename(tmp, final)
    return final
