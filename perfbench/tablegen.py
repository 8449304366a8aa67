"""Seeded TPC-H-like tables for the queries workload.

The column names and parquet types match the fixtures the package reads
through ``tables.load`` (lineitem, orders, customer, part, supplier,
nation, region, events, documents, embeddings). ``scale`` counts
multiples of the sf0.01 row counts: lineitem has ``60_000 * scale``
rows. Every key family (order, customer, part, user, event, document) is
drawn over a range that grows with ``scale``, so joins and groups grow
linearly rather than fanning out. Fact tables are written with about 16
row groups per file so a scan splits across cores.

Values stay where a cross-engine check is well posed: prices carry two
decimals, timestamps are whole microseconds and distinct, and no pair of
embeddings has a cosine within 1e-5 of the 0.2 near-duplicate threshold
(a pair that close would fall on either side by summation order alone).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROW_GROUPS = 16
COSINE_THRESHOLD = 0.2
COSINE_MARGIN = 1e-5
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = np.array(["en", "zh", "es", "de", "fr"])
_LANG_P = np.array([0.44, 0.15, 0.14, 0.14, 0.13])


def _ts(day_offsets: np.ndarray, start: str) -> pa.Array:
    base = np.datetime64(start, "us")
    us = base + (day_offsets.astype("int64") * 86_400_000_000).astype("timedelta64[us]")
    return pa.array(us, pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict, row_groups: int = 1) -> int:
    table = pa.table(cols)
    n = table.num_rows
    pq.write_table(
        table,
        os.path.join(out_dir, f"{name}.parquet"),
        row_group_size=max(1, -(-n // row_groups)),
    )
    return n


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, k: int = 10):
    centroids = rng.normal(size=(k, dim))
    labels = rng.integers(0, k, n)
    vecs = centroids[labels] * 0.35 + rng.normal(size=(n, dim))
    for _ in range(100):
        v32 = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
        v64 = v32.astype(np.float64)
        norms = np.linalg.norm(v64, axis=1)
        cos = (v64 @ v64.T) / np.outer(norms, norms)
        np.fill_diagonal(cos, 0.0)
        close = np.abs(cos - COSINE_THRESHOLD) < COSINE_MARGIN
        bad = np.unique(np.nonzero(close)[0])
        if bad.size == 0:
            return v32, labels.astype(np.int32)
        vecs[bad] = centroids[labels[bad]] * 0.35 + rng.normal(size=(bad.size, dim))
    raise RuntimeError("could not place embeddings away from the cosine threshold")


def generate(out_dir: str, seed: int, scale: int) -> dict[str, int]:
    """Write every table under ``out_dir``; return {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_li, n_ord, n_cust = 60_000 * scale, 15_000 * scale, 1_500 * scale
    n_part, n_supp, n_ev, n_doc = 2_000 * scale, 100 * scale, 10_000 * scale, 500 * scale
    n_users, n_emb = 150 * scale, 500
    rows: dict[str, int] = {}

    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"], n_cust),
    })
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    colors = np.array(["red", "blue", "green", "small", "large", "shiny", "dull", "pale"])
    things = np.array(["widget", "bolt", "ring", "gear", "valve", "spring", "clip", "nut"])
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(rng.choice(colors, n_part), " "),
                              rng.choice(things, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(rng.integers(0, 2400, n_ord), "1995-01-01"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    }, ROW_GROUPS)
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts(rng.integers(0, 2499, n_li), "1995-01-02"),
    }, ROW_GROUPS)
    # events: distinct, increasing microsecond timestamps over 30 days
    span_us = 30 * 86_400_000_000
    step = span_us // n_ev
    offs = np.arange(n_ev, dtype=np.int64) * step + rng.integers(0, step, n_ev)
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]")
    rows["events"] = _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], n_ev),
        "value": np.round(rng.exponential(40.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }, ROW_GROUPS)
    n_words = rng.integers(8, 90, n_doc)
    vocab = np.array(_WORDS)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in n_words]
    rows["documents"] = _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=_LANG_P),
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs, labels = _embeddings(rng, n_emb)
    rows["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return rows
