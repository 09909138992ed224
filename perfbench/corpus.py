"""The ``query_mix`` corpus, made from the seed: the five tables its
queries read, with the schemas of the repository's sf0.01 test corpus
(TESTDATA.md) and about its row counts and value ranges.

- ``customer`` (1500), ``orders`` (15 000) and ``lineitem`` (about 60 000,
  1-7 lines per order, integral quantities, so some orders pass the
  large-order threshold);
- ``embeddings`` (500 unit vectors of 64 float32 around 10 labelled
  centres, one in ten a near copy of an earlier vector);
- ``documents`` (500 texts of 20-80 words from a small vocabulary with
  stop words and short words).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMERS = 1500
N_ORDERS = 15_000
N_VECTORS = 500
DIM = 64
N_LABELS = 10
N_DOCS = 500
TABLES = ("customer", "orders", "lineitem", "embeddings", "documents")

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_WORDS = ("key agg row scan slow fast table value part hash merge batch spark "
          "line sort window order data column join small customer query big "
          "filter group stream vector a the of and to in is").split()
_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]


def _dates(rng, n: int) -> np.ndarray:
    days = rng.integers(0, 365 * 6, n)
    return np.datetime64("1996-01-01", "us") + days.astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write(seed: int, directory: str) -> dict[str, int]:
    """Write the five tables as ``<directory>/<table>.parquet``; returns
    their row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(directory)
    tables = {}

    ck = np.arange(N_CUSTOMERS, dtype=np.int64)
    tables["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMERS).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMERS),
        "c_mktsegment": rng.choice(_SEGMENTS, N_CUSTOMERS),
    })

    ok = np.arange(N_ORDERS, dtype=np.int64)
    tables["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, N_CUSTOMERS, N_ORDERS).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, N_ORDERS),
        "o_orderdate": pa.array(_dates(rng, N_ORDERS), pa.timestamp("us")),
        "o_orderpriority": rng.choice(_PRIORITIES, N_ORDERS),
    })

    lines = rng.integers(1, 8, N_ORDERS)
    n = int(lines.sum())
    tables["lineitem"] = pa.table({
        "l_orderkey": np.repeat(ok, lines),
        "l_partkey": rng.integers(0, 2000, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, n).astype(np.int64),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 100_000.0, n),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": pa.array(_dates(rng, n), pa.timestamp("us")),
    })

    centres = rng.standard_normal((N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, N_VECTORS)
    vecs = centres[labels] + 0.8 * rng.standard_normal((N_VECTORS, DIM))
    # one vector in ten is a near copy of an earlier one, for semantic dedup
    dups = rng.choice(np.arange(1, N_VECTORS), N_VECTORS // 10, replace=False)
    for i in dups:
        src = int(rng.integers(0, i))
        labels[i] = labels[src]
        vecs[i] = vecs[src] + 0.01 * rng.standard_normal(DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(N_VECTORS, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })

    texts = [" ".join(rng.choice(_WORDS, int(rng.integers(20, 81))))
             for _ in range(N_DOCS)]
    tables["documents"] = pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, N_DOCS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    for name, table in tables.items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
