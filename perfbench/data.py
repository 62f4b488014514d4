"""Benchmark inputs: a TPC-H-shaped star schema written by DuckDB.

The tables have the same names, columns and types as the sf fixtures the
engine's tests use (region, nation, customer, supplier, part, orders,
lineitem). Every value is a function of the row number through DuckDB's
`hash`, so a scale factor always produces the same bytes, independent of
thread count. The engine's own readers and writers (CsvSource, Sinks)
are never used here: a change to the program cannot change its inputs.

Each scale is written once per checkout under `.work/data/sf<scale>/`
as one parquet file and one CSV copy per table, and reused after that.
"""
import os
import shutil

import duckdb

# Rows per table at scale factor 1 (lineitem: 4 lines per order).
ROWS_AT_SF1 = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
               "orders": 1_500_000, "lineitem": 6_000_000}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
VERSION = "1"  # bump when the generator changes, so old copies are rebuilt


def _u(i, salt):
    """Uniform double in [0, 1) from a row number and a column salt."""
    return f"((hash({i} * 1000003 + {salt}) % 1000000) / 1000000.0)"


def _pick(i, salt, items):
    arr = "[" + ", ".join(f"'{s}'" for s in items) + "]"
    return f"{arr}[1 + CAST(floor({_u(i, salt)} * {len(items)}) AS INTEGER)]"


def _cents(i, salt, lo, hi):
    """Money value in [lo, hi) with two decimals."""
    return f"round({lo} + floor({_u(i, salt)} * {int((hi - lo) * 100)}) / 100.0, 2)"


def _day(i, salt, start, ndays):
    return (f"(TIMESTAMP '{start}' + to_days(CAST(floor({_u(i, salt)} * {ndays})"
            f" AS INTEGER)))")


def table_sql(scale):
    n = {t: max(1, int(round(r * float(scale)))) for t, r in ROWS_AT_SF1.items()}
    i = "i"
    return {
        "region": """SELECT CAST(i AS INTEGER) AS r_regionkey,
            ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name,
            CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT CAST(i AS BIGINT) AS c_custkey,
            'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
            CAST(floor({_u(i, 11)} * 25) AS INTEGER) AS c_nationkey,
            {_cents(i, 12, -999.99, 9999.99)} AS c_acctbal,
            {_pick(i, 13, ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'])}
              AS c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "supplier": f"""SELECT CAST(i AS BIGINT) AS s_suppkey,
            'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
            CAST(floor({_u(i, 21)} * 25) AS INTEGER) AS s_nationkey,
            {_cents(i, 22, -999.99, 9999.99)} AS s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""SELECT CAST(i AS BIGINT) AS p_partkey,
            {_pick(i, 31, ['large', 'hot', 'blue', 'old', 'small', 'red', 'cold', 'new'])}
              || ' ' || {_pick(i, 32, ['ring', 'bolt', 'plate', 'gear', 'nut', 'pipe', 'valve', 'spring'])}
              AS p_name,
            'Brand#' || CAST(1 + floor({_u(i, 33)} * 25) AS INTEGER) AS p_brand,
            {_pick(i, 34, ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'])} AS p_type,
            CAST(1 + floor({_u(i, 35)} * 50) AS INTEGER) AS p_size,
            round(900 + (i % 1000) / 10.0, 2) AS p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""SELECT CAST(i AS BIGINT) AS o_orderkey,
            CAST(floor({_u(i, 41)} * {n['customer']}) AS BIGINT) AS o_custkey,
            {_pick(i, 42, ['F', 'O', 'P'])} AS o_orderstatus,
            {_cents(i, 43, 1000, 500000)} AS o_totalprice,
            {_day(i, 44, '1995-01-01', 2404)} AS o_orderdate,
            {_pick(i, 45, ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])}
              AS o_orderpriority
            FROM range({n['orders']}) t(i)""",
        "lineitem": f"""SELECT
            CAST(floor({_u(i, 51)} * {n['orders']}) AS BIGINT) AS l_orderkey,
            CAST(floor({_u(i, 52)} * {n['part']}) AS BIGINT) AS l_partkey,
            CAST(floor({_u(i, 53)} * {n['supplier']}) AS BIGINT) AS l_suppkey,
            CAST(1 + floor({_u(i, 54)} * 7) AS INTEGER) AS l_linenumber,
            CAST(1 + floor({_u(i, 55)} * 50) AS DOUBLE) AS l_quantity,
            {_cents(i, 56, 900, 105000)} AS l_extendedprice,
            CAST(floor({_u(i, 57)} * 11) AS DOUBLE) / 100 AS l_discount,
            CAST(floor({_u(i, 58)} * 9) AS DOUBLE) / 100 AS l_tax,
            {_pick(i, 59, ['A', 'N', 'R'])} AS l_returnflag,
            {_pick(i, 60, ['F', 'O'])} AS l_linestatus,
            {_day(i, 61, '1995-01-02', 2498)} AS l_shipdate
            FROM range({n['lineitem']}) t(i)""",
    }


def scale_dir(work, scale):
    return os.path.join(work, "data", f"sf{scale}")


def ensure(work, scale):
    """Write the tables for `scale` unless a complete copy exists.
    Returns the directory holding `<table>.parquet` and `csv/<table>.csv`."""
    out = scale_dir(work, scale)
    stamp = os.path.join(out, "COMPLETE")
    if os.path.exists(stamp) and open(stamp).read() == VERSION:
        return out
    if os.path.exists(out):
        shutil.rmtree(out)
    tmp = out + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(os.path.join(tmp, "csv"))
    con = duckdb.connect()
    con.sql("SET threads = 2")
    for name, sql in table_sql(scale).items():
        con.sql(f"CREATE TABLE {name} AS {sql}")
        con.sql(f"COPY {name} TO '{tmp}/{name}.parquet' "
                "(FORMAT parquet, ROW_GROUP_SIZE 10000000)")
        con.sql(f"COPY {name} TO '{tmp}/csv/{name}.csv' (HEADER, DELIMITER ',')")
    con.close()
    with open(os.path.join(tmp, "COMPLETE"), "w") as f:
        f.write(VERSION)
    os.rename(tmp, out)
    return out
