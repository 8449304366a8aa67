"""Reference results for the queries workload, computed by DuckDB from
SQL kept here, and the comparator that checks the program against them.

The SQL is the benchmark's own copy. It started from the registry's
oracles and ``bench.py``'s twin SQL, but a change to the program cannot
change what the program is checked against. Results depend only on the
input tables, so they are cached by a digest of the parquet bytes.

``python3 perfbench/refs.py --seed N`` builds the tables of one seed
and their references anew, discarding any cached copy.
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import pickle
import shutil
import sys

# key -> (reference SQL, {column index: decimals}) where the map names
# only the columns that round a sum or mean of non-integer doubles: that
# sum's order depends on partitioning, so after rounding the two sides may
# differ by one unit in the last place. Every other column, rounded or
# not, is compared with the relative tolerance alone.
REFERENCES: dict[str, tuple[str, dict[int, int]]] = {
    "q1_pricing": ("""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2), round(sum(l_extendedprice), 2),
               round(sum(l_extendedprice * (1 - l_discount)), 2),
               round(avg(l_quantity), 2), round(avg(l_extendedprice), 2),
               round(avg(l_discount), 2), count(*)
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        GROUP BY l_returnflag, l_linestatus""", {3: 2, 4: 2, 6: 2, 7: 2}),
    "join3_top10": ("""
        WITH per_order AS (
          SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS orev
          FROM lineitem GROUP BY l_orderkey
        ), per_cust AS (
          SELECT o.o_custkey, sum(p.orev) AS rev
          FROM per_order p JOIN orders o ON p.l_orderkey = o.o_orderkey
          GROUP BY o.o_custkey
        )
        SELECT c.c_custkey, c.c_name, round(pc.rev, 2) AS revenue
        FROM per_cust pc JOIN customer c ON pc.o_custkey = c.c_custkey
        ORDER BY revenue DESC, c.c_custkey LIMIT 10""", {2: 2}),
    "tumbling_1h": ("""
        SELECT date_trunc('hour', ts) AS window_start,
               date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
               event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        FROM events WHERE ts IS NOT NULL
        GROUP BY ALL""", {4: 2}),
    "json_events_agg": ("""
        SELECT event_type, count(*) AS n,
               sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS sum_k,
               round(avg(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)), 2) AS avg_k
        FROM events GROUP BY event_type""", {}),
    "q_topk_per_group": ("""
        SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total
        FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
          FROM orders
        ) WHERE rn <= 3""", {}),
    "q_agg_rollup": ("""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)""", {}),
    "q_join_asof": ("""
        SELECT e.event_id, e.user_id, e.ts AS err_ts, p.ts AS last_purchase_ts
        FROM (SELECT * FROM events WHERE event_type = 'error') e
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON e.user_id = p.user_id AND e.ts >= p.ts""", {}),
    "q_text_tfidf": ("""
        WITH tf AS (
          SELECT doc_id, u.word AS word, count(*) AS tf
          FROM documents, unnest(string_split(text, ' ')) AS u(word)
          GROUP BY doc_id, u.word
        ), df AS (
          SELECT word, count(*) AS df FROM tf GROUP BY word
        ), n AS (SELECT count(*) AS n FROM documents)
        SELECT tf.doc_id, tf.word, tf.tf,
               round(tf.tf * ln(n.n / df.df), 4) AS tfidf
        FROM tf JOIN df ON tf.word = df.word, n""", {}),
    "q_dedup_semantic_cluster": ("""
        WITH RECURSIVE v AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), sims AS MATERIALIZED (
          SELECT a.vec_id AS a, b.vec_id AS b,
                 list_cosine_similarity(a.v, b.v) AS sim
          FROM v a JOIN v b ON a.vec_id != b.vec_id
        ), sym AS (SELECT a, b FROM sims WHERE sim >= 0.2),
        reach(a, b) AS (
          SELECT vec_id, vec_id FROM v
          UNION
          SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
        )
        SELECT a AS vec_id, min(b) AS cluster_id, (a = min(b)) AS is_canonical
        FROM reach GROUP BY a""", {}),
}

REL_TOL = 1e-9


def input_digest(table_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(table_dir)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(table_dir, name), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:24]


def compute(table_dir: str, keys, threads: int) -> dict[str, list[tuple]]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads={int(threads)}")
        con.execute("SET TimeZone='UTC'")
        for name in sorted(os.listdir(table_dir)):
            if name.endswith(".parquet"):
                path = os.path.join(table_dir, name).replace("'", "''")
                con.execute(
                    f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')"
                )
        return {k: con.execute(REFERENCES[k][0]).fetchall() for k in keys}
    finally:
        con.close()


def references(table_dir: str, keys, cache_dir: str, threads: int) -> dict[str, list[tuple]]:
    """Reference rows per key, from the cache when the input is known."""
    path = os.path.join(cache_dir, f"refs-{input_digest(table_dir)}.pkl")
    cached: dict = {}
    if os.path.exists(path):
        with open(path, "rb") as fh:
            cached = pickle.load(fh)
    missing = [k for k in keys if k not in cached]
    if missing:
        cached.update(compute(table_dir, missing, threads))
        os.makedirs(cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "wb") as fh:
            pickle.dump(cached, fh)
        os.replace(tmp, path)
    return {k: cached[k] for k in keys}


# ------------------------------------------------------------ comparator


def _sort_key(row: tuple) -> tuple:
    """Order rows by their non-float values first (None before values),
    then by their floats, so tolerance-equal rows line up."""
    exact = tuple((v is not None, v) for v in row if not isinstance(v, float))
    floats = tuple((v is not None, v) for v in row if isinstance(v, float))
    return exact + floats


def _close(a, b, decimals: int | None) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        # a sum's order depends on partitioning: after rounding to d
        # decimals the two sides may differ by one unit in the last place
        unit = 10.0 ** -decimals * (1 + 1e-6) if decimals is not None else 0.0
        return abs(a - b) <= max(REL_TOL * max(abs(a), abs(b)), unit)
    return a == b


def compare(actual: list[tuple], expected: list[tuple], decimals: dict[int, int]) -> str | None:
    """None when the row multisets agree within tolerance, else a reason."""
    if len(actual) != len(expected):
        return f"{len(actual)} rows, expected {len(expected)}"
    got, want = sorted(map(tuple, actual), key=_sort_key), sorted(map(tuple, expected), key=_sort_key)
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w):
            return f"row {i}: {len(g)} columns, expected {len(w)}"
        for j, (a, b) in enumerate(zip(g, w)):
            if not _close(a, b, decimals.get(j)):
                return f"row {i} column {j}: {a!r}, expected {b!r} (row {g!r})"
    return None


def main(argv: list[str] | None = None) -> int:
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, here)
    import run  # noqa: E402  (the benchmark's own input layout)

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args(argv)
    table_dir = run.table_dir(args.seed)
    shutil.rmtree(table_dir, ignore_errors=True)
    table_dir = run.ensure_tables(args.seed)
    path = os.path.join(run.CACHE, f"refs-{input_digest(table_dir)}.pkl")
    if os.path.exists(path):
        os.remove(path)
    refs = references(table_dir, run.QUERY_KEYS, run.CACHE, os.cpu_count() or 1)
    for k, rows in refs.items():
        print(f"{k}\t{len(rows)} rows")
    return 0


if __name__ == "__main__":
    sys.exit(main())
