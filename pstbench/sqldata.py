"""Deterministic sf0.01-shaped tables for the traced SQL builders.

Writes the ten tables the query registry reads (``region`` .. ``embeddings``)
with the column names, parquet types and row counts of the sf0.01 test
corpus, so every registered builder and its DuckDB oracle run on them
unchanged. Values are drawn from a seeded hash, so one seed always gives
the same bytes whatever the thread count.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
VERSION = 2

_I64, _I32, _F64, _STR, _TS = pa.int64(), pa.int32(), pa.float64(), pa.string(), pa.timestamp("us")
SCHEMAS = {
    "region": [("r_regionkey", _I32), ("r_name", _STR)],
    "nation": [("n_nationkey", _I32), ("n_name", _STR), ("n_regionkey", _I32)],
    "customer": [("c_custkey", _I64), ("c_name", _STR), ("c_nationkey", _I32),
                 ("c_acctbal", _F64), ("c_mktsegment", _STR)],
    "supplier": [("s_suppkey", _I64), ("s_name", _STR), ("s_nationkey", _I32),
                 ("s_acctbal", _F64)],
    "part": [("p_partkey", _I64), ("p_name", _STR), ("p_brand", _STR), ("p_type", _STR),
             ("p_size", _I32), ("p_retailprice", _F64)],
    "orders": [("o_orderkey", _I64), ("o_custkey", _I64), ("o_orderstatus", _STR),
               ("o_totalprice", _F64), ("o_orderdate", _TS), ("o_orderpriority", _STR)],
    "lineitem": [("l_orderkey", _I64), ("l_partkey", _I64), ("l_suppkey", _I64),
                 ("l_linenumber", _I32), ("l_quantity", _F64), ("l_extendedprice", _F64),
                 ("l_discount", _F64), ("l_tax", _F64), ("l_returnflag", _STR),
                 ("l_linestatus", _STR), ("l_shipdate", _TS)],
    "events": [("event_id", _I64), ("ts", _TS), ("user_id", _I64), ("event_type", _STR),
               ("value", _F64), ("props", _STR)],
    "documents": [("doc_id", _I64), ("text", _STR), ("lang", _STR), ("source", _STR),
                  ("n_chars", _I64)],
    "embeddings": [("vec_id", _I64), ("embedding", pa.list_(pa.float32())), ("label", _I32)],
}

_VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast", "filter",
          "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
          "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
          "vector", "window"]

# u(i, salt): uniform [0, 1) from a seeded hash of (row, column salt)
_SQL = {
    "region": """SELECT i::INT r_regionkey,
        ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] r_name FROM range(5) t(i)""",
    "nation": """SELECT i::INT n_nationkey, 'NATION_' || i n_name, (i % 5)::INT n_regionkey
        FROM range(25) t(i)""",
    "customer": """SELECT i c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') c_name,
        floor(u(i, 1) * 25)::INT c_nationkey, round(u(i, 2) * 10999.99 - 999.99, 2) c_acctbal,
        ['MACHINERY','AUTOMOBILE','FURNITURE','HOUSEHOLD','BUILDING'][1 + floor(u(i, 3) * 5)::INT]
          c_mktsegment FROM range({n}) t(i)""",
    "supplier": """SELECT i s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') s_name,
        floor(u(i, 1) * 25)::INT s_nationkey, round(u(i, 2) * 10999.99 - 999.99, 2) s_acctbal
        FROM range({n}) t(i)""",
    "part": """SELECT i p_partkey,
        ['large','hot','blue','green','red','tiny','steel','brass'][1 + floor(u(i, 1) * 8)::INT]
          || ' ' || ['ring','bolt','nut','gear','pipe','valve','cable','plate'][1 + floor(u(i, 2) * 8)::INT]
          p_name,
        'Brand#' || (1 + floor(u(i, 3) * 25)::INT) p_brand,
        ['LARGE','ECONOMY','STANDARD','SMALL','MEDIUM','PROMO'][1 + floor(u(i, 4) * 6)::INT] p_type,
        (1 + floor(u(i, 5) * 50))::INT p_size, round(900 + (i % 1000) / 10.0, 1) p_retailprice
        FROM range({n}) t(i)""",
    "orders": """SELECT i o_orderkey, floor(u(i, 1) * {customer})::BIGINT o_custkey,
        ['O','F','P'][1 + floor(u(i, 2) * 3)::INT] o_orderstatus,
        round(1000 + u(i, 3) * 499000, 2) o_totalprice,
        TIMESTAMP '1995-01-01' + to_days(floor(u(i, 4) * 2404)::INT) o_orderdate,
        ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][1 + floor(u(i, 5) * 5)::INT]
          o_orderpriority FROM range({n}) t(i)""",
    "lineitem": """SELECT floor(u(i, 1) * {orders})::BIGINT l_orderkey,
        floor(u(i, 2) * {part})::BIGINT l_partkey, floor(u(i, 3) * {supplier})::BIGINT l_suppkey,
        (1 + floor(u(i, 4) * 7))::INT l_linenumber, (1 + floor(u(i, 5) * 50))::DOUBLE l_quantity,
        round(900 + u(i, 6) * 104000, 2) l_extendedprice, floor(u(i, 7) * 11) / 100.0 l_discount,
        floor(u(i, 8) * 9) / 100.0 l_tax, ['A','N','R'][1 + floor(u(i, 9) * 3)::INT] l_returnflag,
        ['O','F'][1 + floor(u(i, 10) * 2)::INT] l_linestatus,
        TIMESTAMP '1995-01-02' + to_days(floor(u(i, 11) * 2498)::INT) l_shipdate
        FROM range({n}) t(i)""",
    "events": """SELECT i event_id,
        TIMESTAMP '2024-01-01' + to_microseconds((i * 25.9 + u(i, 1) * 25)::BIGINT * 1000000
          + floor(u(i, 2) * 1000000)::BIGINT) ts,
        floor(u(i, 3) * {users})::BIGINT user_id,
        ['signup','click','error','view','purchase'][1 + floor(u(i, 4) * 5)::INT] event_type,
        round(u(i, 5) * u(i, 6) * 560.21, 2) "value",
        '{{"k": ' || floor(u(i, 7) * 100)::INT || '}}' props FROM range({n}) t(i)""",
    "documents": """SELECT doc_id, "text", lang, source, length("text")::BIGINT n_chars FROM (
        SELECT i doc_id,
          array_to_string(list_transform(range(8 + floor(u(i, 1) * 92)::INT),
            j -> {vocab}[1 + floor(u(i * 128 + j, 2) * 31)::INT]), ' ') "text",
          ['en','en','en','zh','de','fr','es'][1 + floor(u(i, 3) * 7)::INT] lang,
          'src' || (i % 20) source FROM range({n}) t(i))""",
    "embeddings": """SELECT vec_id, list_transform(v, x -> (x / sqrt(list_sum(
          list_transform(v, y -> y * y))))::FLOAT) embedding, "label" FROM (
        SELECT i vec_id, floor(u(i, 1) * 10)::INT "label",
          list_transform(range(64), j -> u(i * 64 + j, 2) + u(i * 64 + j, 3)
            + u(i * 64 + j, 4) - 1.5) v FROM range({n}) t(i))""",
}


def generate(out_dir: str, seed: int) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    salt = int.from_bytes(hashlib.sha1(f"pstbench-sql:{seed}".encode()).digest()[:6], "little")
    con.execute(f"CREATE MACRO u(i, c) AS (hash(i * 1000003 + c * 7919 + {salt}) % 1000000007) / 1000000007.0")
    vocab = "[" + ",".join(f"'{w}'" for w in _VOCAB) + "]"
    for name, cols in SCHEMAS.items():
        sql = _SQL[name].format(n=ROWS[name], vocab=vocab, users=ROWS["events"] // 66, **ROWS)
        tbl = con.execute(sql).fetch_arrow_table()
        tbl = tbl.cast(pa.schema(cols))
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    con.close()
    info = {"seed": seed, "version": VERSION, "rows": ROWS}
    with open(os.path.join(out_dir, "tables.json"), "w") as fh:
        json.dump(info, fh)
    return info


def ensure_tables(cache_root: str, seed: int) -> str:
    """Tables for ``seed`` under ``cache_root``: generated once, then reused;
    only the two most recently used sets are kept."""
    d = os.path.join(cache_root, f"sql-seed{seed}-v{VERSION}")
    if not os.path.exists(os.path.join(d, "tables.json")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        generate(tmp, seed)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    os.utime(d)
    olds = sorted(
        (e for e in os.scandir(cache_root) if e.is_dir() and e.name.startswith("sql-seed")),
        key=lambda e: e.stat().st_mtime,
        reverse=True,
    )
    for e in olds[2:]:
        shutil.rmtree(e.path, ignore_errors=True)
    return d

