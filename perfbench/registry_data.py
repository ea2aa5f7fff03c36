"""Input tables and oracle row counts for the registry workload.

The tables have the shape and sizes of the repo's sf0.1 test set: a
TPC-H-like star schema (region, nation, customer, supplier, part, orders,
lineitem) plus `events`, `documents` and `embeddings`. They are generated
from a fixed seed, so every run sees the same tables; the run's own seed
only sets the query order.

Oracle counts run each query's DuckDB twin (`oracleSql` in the registry)
over the same tables and keep the row count.
"""
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

WORDS = ("a the data spark line column order small sort fast value scan hash "
         "slow group batch agg filter query big key window row part table "
         "stream merge join vector customer").split()
PART_ADJ = "large hot blue old red new cold small".split()
PART_NOUN = "ring bolt plate gizmo rod widget gear nut".split()


def _ts(rng, n, start, days, unit_s):
    """n timestamps from `start` (numpy datetime64) spread over `days`."""
    offs = rng.integers(0, days * 86400 // unit_s, n) * unit_s
    return (np.datetime64(start, "us")
            + (offs * 1_000_000).astype("timedelta64[us]"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables():
    """Column dicts of every table, at the sf0.1 sizes."""
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_supp, n_part = 15000, 1000, 20000
    n_ord, n_line, n_evt = 150000, 600000, 100000
    n_doc, n_vec = 5000, 2000
    t = {}
    t["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD",
             "BUILDING"], n_cust)}
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"],
            n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1,
                                  2)}
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _ts(rng, n_ord, "1995-01-01", 2400, 86400),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord)}
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(rng, n_line, "1995-01-02", 2500, 86400)}
    ev_ts = np.sort(_ts(rng, n_evt, "2024-01-01", 30, 1)
                    + rng.integers(0, 1_000_000, n_evt).astype(
                        "timedelta64[us]"))
    t["events"] = {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, 1500, n_evt),
        "event_type": rng.choice(
            ["signup", "click", "error", "view", "purchase"], n_evt),
        "value": np.round(rng.exponential(60.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]}
    texts = []
    for i in range(n_doc):
        # about one document in twenty repeats an earlier one with one
        # word changed, so the dedup operators have near-duplicates to find
        if i > 10 and rng.random() < 0.05:
            w = texts[int(rng.integers(0, i))].split(" ")
            w[int(rng.integers(0, len(w)))] = str(rng.choice(WORDS))
        else:
            w = list(rng.choice(WORDS, int(rng.integers(10, 101))))
        texts.append(" ".join(w))
    t["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], n_doc,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)}
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32)}
    return t


def write_tables(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables().items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def oracle_counts(tables_dir, sql_by_name):
    """Row count of each oracle SQL over the tables in `tables_dir`."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(tables_dir, t)}.parquet'")
    counts = {}
    for name, sql in sql_by_name.items():
        counts[name] = con.execute(
            f"SELECT count(*) FROM ({sql}) AS q").fetchone()[0]
    con.close()
    return counts
