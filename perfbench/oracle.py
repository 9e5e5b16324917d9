"""Check each query's Spark output against its DuckDB oracle SQL.

The comparison is the repo's own gate, tools/oracle_check.py: columns
matched by name, types equal by class, rows compared as sorted multisets,
floats equal within 1e-9, and every oracle run under a wall-clock budget.
"""
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))

from oracle_check import TABLES, check_types, compare, run_budgeted  # noqa: E402


def _connect(data_dir):
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _rows(tbl, cols):
    lists = [tbl.column(c).to_pylist() for c in cols]
    return sorted(zip(*lists), key=lambda r: tuple((v is None, str(v)) for v in r))


def _check(con, spark_tbl, sql, name, budget_s):
    """None when equal, else a one-line reason."""
    oracle_tbl = run_budgeted(con, sql, budget_s, name)
    cols = sorted(spark_tbl.column_names)
    if cols != sorted(oracle_tbl.column_names):
        return f"columns spark={cols} oracle={sorted(oracle_tbl.column_names)}"
    errs, _ = check_types(name, spark_tbl.schema, oracle_tbl.schema, cols)
    if errs:
        return errs[0]
    why = compare(name, _rows(spark_tbl, cols), _rows(oracle_tbl, cols), cols)
    # equal within the float tolerance counts as equal, as in the gate
    return None if why is None or why.startswith("FLOAT-CLOSE") else why


def check_all(data_dir, out_dir, oracle_sql, names, budget_s=60.0):
    """{query: (ok, detail, spark_rows)} for every name."""
    con = _connect(data_dir)
    res = {}
    for n in names:
        try:
            spark_tbl = con.execute(
                f"SELECT * FROM '{out_dir}/{n}/*.parquet'").fetch_arrow_table()
        except Exception as e:
            res[n] = (False, f"no readable output: {e}".splitlines()[0], -1)
            continue
        sql = oracle_sql.get(n)
        if sql is None:
            res[n] = (True, "no oracle; row count only", spark_tbl.num_rows)
            continue
        try:
            why = _check(con, spark_tbl, sql, n, budget_s)
        except Exception as e:
            why = f"oracle error: {e}".splitlines()[0]
            # an internal error invalidates the connection; a fresh one
            # keeps one bad oracle from failing every later check
            if "invalidated" in str(e) or "INTERNAL" in str(e):
                con.close()
                con = _connect(data_dir)
        res[n] = (why is None, why or "", spark_tbl.num_rows)
    con.close()
    return res
