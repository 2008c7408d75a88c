"""Seeded catalog corpus and the DuckDB oracle check for the catalog workload.

The registry queries read a TPC-H-ish star schema plus ``events``,
``documents`` and ``embeddings`` tables (schemas.CORPUS_TABLES). The
benchmark may only read inside its checkout, so it generates that corpus
itself, with the same column names and types, from the workload seed.
Every value is a hash of (seed, row, column salt), so generation is
deterministic regardless of DuckDB's thread count.
"""

from __future__ import annotations

import datetime as _dt
import math
import os
from decimal import Decimal

import duckdb

from cassaforte_meter_transmission_gen_spark.schemas import CORPUS_TABLES

_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "big stream group filter vector"
).split()


#: row counts as a share of sf0.01's: sf0.001. The catalog queries' first
#: runs in a session (the oracle check, in set-up) grow with the data.
SCALE = 0.1


def _sql(seed: int) -> dict[str, str]:
    """One SELECT per table, ``SCALE`` times the sf0.01 row counts."""
    scale = SCALE
    n_cust = max(50, int(1500 * scale))
    n_supp = max(10, int(100 * scale))
    n_part = max(50, int(2000 * scale))
    n_ord = max(200, int(15000 * scale))
    n_ev = max(200, int(10000 * scale))
    n_doc = max(60, int(500 * scale))
    n_vec = max(60, int(500 * scale))
    vocab = "[" + ",".join(f"'{w}'" for w in _VOCAB) + "]"
    nv = len(_VOCAB)

    def u(key: str, salt: int) -> str:
        return f"((hash({key}, {salt}, {seed}) % 1000000)::DOUBLE / 1000000.0)"

    def pick(options: list[str], key: str, salt: int) -> str:
        arr = "[" + ",".join(f"'{o}'" for o in options) + "]"
        return f"{arr}[1 + floor({u(key, salt)} * {len(options)})::INT]"

    def word(key: str, salt: int) -> str:
        return f"{vocab}[1 + floor({u(key, salt)} * {nv})::INT]"

    # near-duplicates: the last 20% of documents copy an earlier one with
    # ~5% of words replaced, so MinHash/SimHash find real pairs
    n_base = n_doc - n_doc // 5
    doc_len = f"(8 + floor({u('b', 21)} * 80)::INT)"
    return {
        "region": """
            SELECT i::INT AS r_regionkey,
                   ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """
            SELECT i::INT AS n_nationkey, 'NATION_' || i AS n_name,
                   (i % 5)::INT AS n_regionkey
            FROM range(25) t(i)""",
        "customer": f"""
            SELECT i::BIGINT AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
                   floor({u('i', 1)} * 25)::INT AS c_nationkey,
                   round({u('i', 2)} * 11000 - 1000, 2) AS c_acctbal,
                   {pick(['FURNITURE', 'HOUSEHOLD', 'MACHINERY', 'AUTOMOBILE', 'BUILDING'], 'i', 3)}
                     AS c_mktsegment
            FROM range({n_cust}) t(i)""",
        "supplier": f"""
            SELECT i::BIGINT AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
                   floor({u('i', 4)} * 25)::INT AS s_nationkey,
                   round({u('i', 5)} * 11000 - 1000, 2) AS s_acctbal
            FROM range({n_supp}) t(i)""",
        "part": f"""
            SELECT i::BIGINT AS p_partkey,
                   {pick(['small', 'red', 'large', 'blue', 'steel'], 'i', 6)} || ' ' ||
                   {pick(['ring', 'widget', 'bolt', 'gear', 'pipe'], 'i', 7)} AS p_name,
                   'Brand#' || (1 + floor({u('i', 8)} * 25)::INT) AS p_brand,
                   {pick(['ECONOMY', 'STANDARD', 'PROMO', 'LARGE', 'SMALL'], 'i', 9)} AS p_type,
                   (1 + floor({u('i', 10)} * 50))::INT AS p_size,
                   round(900 + {u('i', 11)} * 1100, 2) AS p_retailprice
            FROM range({n_part}) t(i)""",
        "orders": f"""
            SELECT i::BIGINT AS o_orderkey,
                   floor({u('i', 12)} * {n_cust})::BIGINT AS o_custkey,
                   {pick(['O', 'F', 'P'], 'i', 13)} AS o_orderstatus,
                   round(1000 + {u('i', 14)} * 499000, 2) AS o_totalprice,
                   TIMESTAMP '1995-01-01' + INTERVAL 1 DAY * floor({u('i', 15)} * 2400)::INT
                     AS o_orderdate,
                   {pick(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], 'i', 16)}
                     AS o_orderpriority
            FROM range({n_ord}) t(i)""",
        "lineitem": f"""
            SELECT o.i::BIGINT AS l_orderkey,
                   floor({u('o.i * 8 + k', 17)} * {n_part})::BIGINT AS l_partkey,
                   floor({u('o.i * 8 + k', 18)} * {n_supp})::BIGINT AS l_suppkey,
                   (k + 1)::INT AS l_linenumber,
                   (1 + floor({u('o.i * 8 + k', 19)} * 50))::DOUBLE AS l_quantity,
                   round(900 + {u('o.i * 8 + k', 20)} * 104000, 2) AS l_extendedprice,
                   floor({u('o.i * 8 + k', 22)} * 11) / 100 AS l_discount,
                   floor({u('o.i * 8 + k', 23)} * 9) / 100 AS l_tax,
                   {pick(['R', 'A', 'N'], 'o.i * 8 + k', 24)} AS l_returnflag,
                   {pick(['O', 'F'], 'o.i * 8 + k', 25)} AS l_linestatus,
                   TIMESTAMP '1995-01-01'
                     + INTERVAL 1 DAY * (floor({u('o.i', 15)} * 2400)::INT
                                         + 1 + floor({u('o.i * 8 + k', 26)} * 120)::INT)
                     AS l_shipdate
            FROM range({n_ord}) o(i), range(7) l(k)
            WHERE k <= floor({u('o.i', 27)} * 7)""",
        "events": f"""
            SELECT i::BIGINT AS event_id,
                   TIMESTAMP '2024-01-01'
                     + to_microseconds(floor({u('i', 28)} * 2592000000000)::BIGINT) AS ts,
                   floor({u('i', 29)} * 150)::BIGINT AS user_id,
                   {pick(['click', 'signup', 'error', 'view', 'purchase'], 'i', 30)} AS event_type,
                   round({u('i', 31)} * 490 + 0.01, 2) AS value,
                   '{{"k": ' || floor({u('i', 32)} * 100)::INT || '}}' AS props
            FROM range({n_ev}) t(i)""",
        "documents": f"""
            WITH d AS (
              SELECT i, CASE WHEN i < {n_base} THEN i ELSE i % {n_base} END AS b
              FROM range({n_doc}) t(i)
            ), w AS (
              SELECT i, array_to_string(list_transform(
                       range({doc_len}),
                       j -> CASE WHEN i >= {n_base} AND {u('i * 1000 + j', 33)} < 0.05
                                 THEN {word('i * 1000 + j', 34)}
                                 ELSE {word('b * 1000 + j', 35)} END), ' ') AS text
              FROM d
            )
            SELECT i::BIGINT AS doc_id, text,
                   {pick(['en', 'en', 'en', 'de', 'es', 'fr', 'zh'], 'i', 36)} AS lang,
                   'src' || floor({u('i', 37)} * 20)::INT AS source,
                   length(text)::BIGINT AS n_chars
            FROM w""",
        "embeddings": f"""
            WITH v AS (SELECT i, floor({u('i', 38)} * 10)::INT AS label FROM range({n_vec}) t(i))
            SELECT i::BIGINT AS vec_id,
                   list_transform(range(64), dd -> ({u('label * 64 + dd', 39)} - 0.5
                                                   + ({u('i * 64 + dd', 40)} - 0.5) * 0.3)::FLOAT)
                     AS embedding,
                   label
            FROM v""",
    }


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every corpus table; returns
    row counts."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    counts: dict[str, int] = {}
    try:
        for name, sql in _sql(seed).items():
            path = os.path.join(out_dir, f"{name}.parquet")
            con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet)")
            counts[name] = con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]
    finally:
        con.close()
    return counts


def duck_connection(corpus_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in CORPUS_TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{corpus_dir}/{name}.parquet')"
        )
    return con


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def canonical_rows(cols: list[str], rows: list[tuple]) -> list[str]:
    """Order-insensitive, column-order-insensitive row encoding."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon(r[i]) for i in order) for r in rows)


def oracle_rows(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple]]:
    rel = con.sql(sql)
    return list(rel.columns), rel.fetchall()
