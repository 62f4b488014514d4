"""Answer checks for the `headline` workload.

The harness times the registry's bench queries through the noop sink,
then writes each query's result once as parquet with the query's DuckDB
oracle (`Registry.oracleSql`). This module compares them the way
`scripts/check.py` does: columns sorted by name, same types, same rows
after sorting every column.
"""
import glob
import os

import duckdb


def _canon(con, sql):
    rel = con.sql(sql)
    cols = sorted(rel.columns)
    types = [str(t) for _, t in sorted(zip(rel.columns, rel.types), key=lambda p: p[0])]
    sel = ", ".join(f'"{c}"' for c in cols)
    rows = con.sql(f"SELECT {sel} FROM ({sql}) ORDER BY ALL").fetchall()
    return cols, types, rows


def check_answers(data_dir, root, out, corrupt):
    """Why each query's answer is wrong, by query name (None when right
    or when the query has no oracle)."""
    con = duckdb.connect()
    con.sql("SET threads = 2")
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    wrong = {}
    for i, a in enumerate(out["headline_answers"]):
        q = a["query"]
        if a["status"] != "ok":
            wrong[q] = a["status"]
            continue
        if not a.get("oracle"):
            continue
        try:
            got = _canon(con, f"SELECT * FROM '{os.path.join(root, a['dir'])}/*.parquet'")
            want = _canon(con, a["oracle"])
        except Exception as e:  # noqa: BLE001 - any oracle failure is a failed check
            wrong[q] = f"oracle error: {e}"
            continue
        if corrupt and i == 0:
            want = (want[0], want[1], want[2][1:])
        if got[0] != want[0]:
            wrong[q] = f"columns {got[0]} != {want[0]}"
        elif got[1] != want[1]:
            wrong[q] = f"types {got[1]} != {want[1]}"
        elif got[2] != want[2]:
            wrong[q] = f"rows differ ({len(got[2])} vs {len(want[2])})"
    con.close()
    return wrong
