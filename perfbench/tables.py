"""Seeded TPC-H-shaped tables for the `analyst_queries` workload.

The query catalog reads `<dir>/<table>.parquet` for the ten tables in
`plans.testdata_queries.TABLES`. These are generated here with the
same schemas and value shapes as the catalog's committed sf0.01
testdata, so the benchmark needs nothing outside its checkout:

- star schema: region/nation/customer/supplier/part/orders/lineitem
  with uniform foreign keys (some orders have no lineitems);
- `events`: a 30-day stream, exponential values, 5 event types;
- `documents`: texts over a 30-word vocabulary, 5% of them a copy of
  an earlier document plus the word "dup" (the near-duplicate pairs
  the dedup entries must find);
- `embeddings`: 64-d unit Gaussian vectors with 10 labels.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table (the catalog's sf0.01 sizes)
SIZES = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "hot", "large", "small", "red", "green", "cold", "dark",
            "light", "tiny", "giant", "old", "new"]
PART_NOUN = ["ring", "bolt", "anvil", "widget", "gear"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
VOCAB = ("a the spark table window merge column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row agg key query scan batch").split()


def _ts(rng, n, start: str, end: str, unit: str = "D") -> np.ndarray:
    lo, hi = np.datetime64(start, unit), np.datetime64(end, unit)
    return (lo + rng.integers(0, (hi - lo).astype(np.int64) + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = SIZES
    tables: dict[str, pa.Table] = {}
    i32 = pa.int32()

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    keys = np.arange(n["part"], dtype=np.int64)
    tables["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in keys],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    })
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _ts(rng, n["orders"], "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
    })
    m = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": pa.array(rng.integers(1, 8, m), i32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _ts(rng, m, "1995-01-02", "2001-11-04"),
    })
    e = n["events"]
    tables["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": np.sort(_ts(rng, e, "2024-01-01T00:00:00", "2024-01-30T23:59:59", "us")),
        "user_id": rng.integers(0, e // 67, e),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    texts: list[str] = []
    for k in range(n["documents"]):
        if k >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, k))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    tables["documents"] = pa.table({
        "doc_id": np.arange(n["documents"], dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n["documents"], p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{k % 20}" for k in range(n["documents"])],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n["embeddings"], 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n["embeddings"], dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n["embeddings"]), i32),
    })
    return tables


def write_tables(root: Path, seed: int) -> None:
    """Write every table as `<root>/<name>.parquet`."""
    root.mkdir(parents=True, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, root / f"{name}.parquet")
