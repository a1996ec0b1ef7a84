"""Deterministic generator for the benchmark's input tables.

Writes the ten parquet tables the registry reads (the TPC-H-ish star
schema, `events`, `documents`, `embeddings`) with the same schemas and
value shapes as the project's sf0.01 test data: 1.5k customers, 15k
orders, 60k line items, 10k events, 500 documents (5% of them a copy of
another document plus " dup") and 500 unit-norm 64-d embeddings.

Every value is a pure function of the row index and a fixed data seed
(DuckDB's `hash`), so the same code writes byte-for-byte the same
tables on every run; the benchmark's `--seed` does not change the data,
only the query order and the stream slicing.
"""
import os
import shutil

import duckdb

DATA_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

N_CUST, N_SUPP, N_PART = 1500, 100, 2000
N_ORDERS, N_LINES, N_EVENTS, N_USERS = 15000, 60000, 10000, 150
N_DOCS, N_VECS, DIM = 500, 500, 64

VOCAB = ["row", "the", "query", "stream", "fast", "spark", "line", "small",
         "customer", "group", "value", "hash", "batch", "sort", "data", "big",
         "filter", "key", "agg", "scan", "slow", "table", "part", "a",
         "merge", "window", "order", "column", "join", "vector"]
ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]


def _list(xs):
    return "[" + ", ".join("'" + x + "'" for x in xs) + "]"


def _u(salt):
    """Uniform double in [0, 1) from (row index i, salt, data seed)."""
    return f"((hash(i, {salt}, {DATA_SEED}) % 1000000) / 1000000.0)"


def _pick(xs, salt):
    return f"({_list(xs)})[1 + CAST(hash(i, {salt}, {DATA_SEED}) % {len(xs)} AS INTEGER)]"


def _int(lo, hi, salt):
    """Uniform integer in [lo, hi]."""
    return f"({lo} + CAST(hash(i, {salt}, {DATA_SEED}) % {hi - lo + 1} AS BIGINT))"


SQL = {
    "region": """
        SELECT CAST(i AS INTEGER) AS r_regionkey,
               (['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'])[i + 1] AS r_name
        FROM range(5) t(i)""",
    "nation": """
        SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name,
               CAST(i % 5 AS INTEGER) AS n_regionkey
        FROM range(25) t(i)""",
    "customer": f"""
        SELECT CAST(i AS BIGINT) AS c_custkey,
               'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
               CAST({_int(0, 24, 1)} AS INTEGER) AS c_nationkey,
               round(-999.99 + {_u(2)} * 10999.0, 2) AS c_acctbal,
               {_pick(['MACHINERY', 'AUTOMOBILE', 'HOUSEHOLD', 'BUILDING', 'FURNITURE'], 3)} AS c_mktsegment
        FROM range({N_CUST}) t(i)""",
    "supplier": f"""
        SELECT CAST(i AS BIGINT) AS s_suppkey,
               'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
               CAST({_int(0, 24, 4)} AS INTEGER) AS s_nationkey,
               round(-999.99 + {_u(5)} * 10999.0, 2) AS s_acctbal
        FROM range({N_SUPP}) t(i)""",
    "part": f"""
        SELECT CAST(i AS BIGINT) AS p_partkey,
               {_pick(ADJ, 6)} || ' ' || {_pick(NOUN, 7)} AS p_name,
               'Brand#' || {_int(1, 25, 8)} AS p_brand,
               {_pick(['ECONOMY', 'STANDARD', 'LARGE', 'SMALL', 'MEDIUM', 'PROMO'], 9)} AS p_type,
               CAST({_int(1, 50, 10)} AS INTEGER) AS p_size,
               round(900.0 + (i % 1000) / 10.0, 1) AS p_retailprice
        FROM range({N_PART}) t(i)""",
    "orders": f"""
        SELECT CAST(i AS BIGINT) AS o_orderkey,
               {_int(0, N_CUST - 1, 11)} AS o_custkey,
               {_pick(['O', 'F', 'P'], 12)} AS o_orderstatus,
               round(1000.0 + {_u(13)} * 499000.0, 2) AS o_totalprice,
               TIMESTAMP '1995-01-01' + to_days(CAST({_int(0, 2403, 14)} AS INTEGER)) AS o_orderdate,
               {_pick(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], 15)} AS o_orderpriority
        FROM range({N_ORDERS}) t(i)""",
    "lineitem": f"""
        SELECT {_int(0, N_ORDERS - 1, 16)} AS l_orderkey,
               {_int(0, N_PART - 1, 17)} AS l_partkey,
               {_int(0, N_SUPP - 1, 18)} AS l_suppkey,
               CAST({_int(1, 7, 19)} AS INTEGER) AS l_linenumber,
               CAST({_int(1, 50, 20)} AS DOUBLE) AS l_quantity,
               round(900.0 + {_u(21)} * 104100.0, 2) AS l_extendedprice,
               {_int(0, 10, 22)} / 100.0 AS l_discount,
               {_int(0, 8, 23)} / 100.0 AS l_tax,
               {_pick(['A', 'N', 'R'], 24)} AS l_returnflag,
               {_pick(['O', 'F'], 25)} AS l_linestatus,
               TIMESTAMP '1995-01-02' + to_days(CAST({_int(0, 2498, 26)} AS INTEGER)) AS l_shipdate
        FROM range({N_LINES}) t(i)""",
    # ts strictly increases with event_id: slot i of a 30-day window
    # plus jitter smaller than one slot.
    "events": f"""
        SELECT CAST(i AS BIGINT) AS event_id,
               TIMESTAMP '2024-01-01' + to_microseconds(
                   CAST((i + {_u(27)}) * {30 * 86400 * 1000000 // N_EVENTS} AS BIGINT)) AS ts,
               {_int(0, N_USERS - 1, 28)} AS user_id,
               {_pick(['click', 'signup', 'error', 'view', 'purchase'], 29)} AS event_type,
               round(0.01 - 40.0 * ln(1.0 - {_u(30)} * 0.999999), 2) AS value,
               '{{"k": ' || {_int(0, 99, 31)} || '}}' AS props
        FROM range({N_EVENTS}) t(i)""",
    "documents": f"""
        WITH base AS (
          SELECT i,
                 array_to_string(list_transform(range({_int(10, 99, 32)}),
                     j -> ({_list(VOCAB)})[1 + CAST(hash(i, j, 33, {DATA_SEED}) % {len(VOCAB)} AS INTEGER)]),
                   ' ') AS body,
                 {_u(34)} AS u_dup,
                 {_int(0, N_DOCS - 1, 35)} AS src
          FROM range({N_DOCS}) t(i)),
        txt AS (
          SELECT b.i,
                 CASE WHEN b.u_dup < 0.05 AND b.src <> b.i THEN o.body || ' dup'
                      ELSE b.body END AS text
          FROM base b JOIN base o ON o.i = b.src)
        SELECT CAST(i AS BIGINT) AS doc_id, text,
               CASE WHEN {_u(36)} < 0.44 THEN 'en'
                    ELSE {_pick(['zh', 'de', 'fr', 'es'], 37)} END AS lang,
               'src' || (i % 20) AS source,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM txt ORDER BY i""",
    # Box-Muller normals, normalized to unit length.
    "embeddings": f"""
        WITH g AS (
          SELECT i, list_transform(range({DIM}), d ->
                   sqrt(-2.0 * ln(1.0 - (hash(i, d, 38, {DATA_SEED}) % 1000000) / 1000000.0))
                   * cos(2.0 * pi() * (hash(i, d, 39, {DATA_SEED}) % 1000000) / 1000000.0)) AS v
          FROM range({N_VECS}) t(i))
        SELECT CAST(i AS BIGINT) AS vec_id,
               CAST(list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y))))
                    AS FLOAT[]) AS embedding,
               CAST({_int(0, 9, 40)} AS INTEGER) AS label
        FROM g ORDER BY i""",
}


def generate(data_dir):
    """Write every table under data_dir (idempotent: a complete dir is
    marked by a `_COMPLETE` file and left alone)."""
    if os.path.exists(os.path.join(data_dir, "_COMPLETE")):
        return
    staging = data_dir + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    con = duckdb.connect()
    con.execute("SET threads TO 1")  # row order independent of scheduling
    for t in TABLES:
        con.execute(f"COPY ({SQL[t]}) TO '{staging}/{t}.parquet' (FORMAT PARQUET)")
    con.close()
    open(os.path.join(staging, "_COMPLETE"), "w").close()
    shutil.rmtree(data_dir, ignore_errors=True)
    os.rename(staging, data_dir)
