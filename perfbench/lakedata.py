"""Seeded generator of the lake tables the benchmark's queries read.

Same table names, column names, types and value domains as the
registry's test tables (FIXTURES.md section 2), drawn from a seeded
generator at a chosen scale (1.0 = 60,000 lineitem rows, the size of
the sf0.01 test tables; the sf0.1 tables are ten times larger). Only
the tables the ``lake_queries`` workload reads are made.

Every distribution copies what the sf0.01 test tables hold, as
``profile`` measures it (figures in the comments below):

- keys and foreign keys are uniform. ``l_orderkey`` uniform over the
  orders gives Poisson(4) lines per order: the test tables have 257
  orders without lines, 1,120 with one, 3,024 with four and at most
  13, where Poisson(4) expects 275, 1,099, 2,930 and about 12;
- dates are whole days, uniform and independent: ``o_orderdate`` over
  1995-01-01..2001-08-01, ``l_shipdate`` over 1995-01-02..2001-11-04
  (ship minus order date runs from -2,383 to +2,478 days there);
- prices, quantities, discounts, taxes, flags, segments and priorities
  are uniform over the test tables' ranges, and price is independent of
  quantity (correlation 0.003);
- 10,000 events of 150 users (49 to 86 each) at microsecond times
  uniform over the 30 days from 2024-01-01, so a user's median gap is
  about 7 hours (7.3 h there) and most events open a 30 min session of
  their own; ``value`` is exponential with mean 50 (median 34.6);
- 500 embeddings: 64-dim float32 unit vectors, label uniform on 0..9.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng, choices, n) -> list:
    return [choices[i] for i in rng.integers(0, len(choices), n)]


def tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(1500 * scale), max(10, int(100 * scale)), int(2000 * scale)
    n_ord, n_li, n_ev = int(15000 * scale), int(60000 * scale), int(10000 * scale)
    n_emb = int(500 * scale)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                              "r_name": list(REGIONS)})
    out["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                              "n_name": [f"NATION_{i}" for i in range(25)],
                              "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2405, n_ord) * _US_PER_DAY),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
        "l_linestatus": _pick(rng, ("F", "O"), n_li),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2499, n_li) * _US_PER_DAY)})
    ev_us = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _US_PER_DAY, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ev_us),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(np.maximum(0.01, rng.exponential(50.0, n_ev)), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    vec = rng.standard_normal((n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return out


def write(out_dir: str, seed: int, scale: float = 1.0) -> None:
    """One ``<table>.parquet`` file per table under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, scale).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


#: (name, DuckDB SQL) of each figure ``profile`` measures
PROFILE_SQL = (
    ("orders", "SELECT count(*) FROM orders"),
    ("lineitem", "SELECT count(*) FROM lineitem"),
    ("orders_without_lines", "SELECT count(*) FROM orders WHERE o_orderkey NOT IN "
                             "(SELECT l_orderkey FROM lineitem)"),
    ("lines_per_order_var", "SELECT var_pop(n) FROM (SELECT count(l_orderkey) AS n FROM orders "
                            "LEFT JOIN lineitem ON l_orderkey = o_orderkey GROUP BY o_orderkey)"),
    ("orderdate_days", "SELECT datediff('day', min(o_orderdate), max(o_orderdate)) FROM orders"),
    ("shipdate_days", "SELECT datediff('day', min(l_shipdate), max(l_shipdate)) FROM lineitem"),
    ("ship_order_corr", "SELECT corr(epoch(l_shipdate), epoch(o_orderdate)) FROM lineitem "
                        "JOIN orders ON l_orderkey = o_orderkey"),
    ("price_mean", "SELECT avg(l_extendedprice) FROM lineitem"),
    ("users", "SELECT count(DISTINCT user_id) FROM events"),
    ("events_days", "SELECT datediff('second', min(ts), max(ts)) / 86400 FROM events"),
    ("user_gap_median_h", "SELECT median(g) / 3600 FROM (SELECT epoch(ts) - lag(epoch(ts)) "
                          "OVER (PARTITION BY user_id ORDER BY ts) AS g FROM events)"),
    ("value_mean", "SELECT avg(value) FROM events"),
    ("embedding_dim", "SELECT max(len(embedding)) FROM embeddings"),
    ("embedding_norm", "SELECT avg(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), "
                       "CAST(embedding AS DOUBLE[])))) FROM embeddings"),
    ("labels", "SELECT count(DISTINCT label) FROM embeddings"),
)


def profile(sf_dir: str) -> dict[str, float]:
    """The figures the generator copies, measured on the tables in
    ``sf_dir`` (one ``<table>.parquet`` each)."""
    import duckdb

    con = duckdb.connect()
    for t in ("orders", "lineitem", "events", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    out = {name: float(con.execute(sql).fetchone()[0]) for name, sql in PROFILE_SQL}
    con.close()
    return out
