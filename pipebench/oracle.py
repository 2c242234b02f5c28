"""DuckDB oracle for the operator_queries workload: each query's oracle SQL
runs over the same parquet tables the Spark run read, and the result is
compared with the Spark output by tools/check_oracle.py's own `compare`
(column names, row count and every value, after sorting columns and rows),
together with that tool's Python re-implementations for the queries it has
them for.
"""
import contextlib
import glob
import io
import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from check_oracle import SUPPLEMENTARY, compare  # noqa: E402


def verdict(q, oracle_df, spark_df, tag=""):
    """None when `compare` accepts, else the line it printed."""
    said = io.StringIO()
    with contextlib.redirect_stdout(said):
        ok = compare(q, oracle_df, spark_df, tag)
    return None if ok else " ".join(said.getvalue().split())[:400]


def connect(tables_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for path in sorted(glob.glob(f"{tables_dir}/*.parquet")):
        name = path.rsplit("/", 1)[-1][: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    return con


def read_spark(out_dir):
    files = sorted(glob.glob(f"{out_dir}/*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet under {out_dir}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def check_all(tables_dir, outputs_dir, oracle_sql):
    """One message per query whose Spark output differs from its oracle."""
    con = connect(tables_dir)
    checks = [(q, "", lambda sql=sql: con.execute(sql).df())
              for q, sql in sorted(oracle_sql.items())]
    checks += [(q, "[py]", lambda fn=SUPPLEMENTARY[q]: fn(con))
               for q in sorted(oracle_sql) if q in SUPPLEMENTARY]
    errors = []
    for q, tag, oracle_df in checks:
        try:
            why = verdict(q, oracle_df(), read_spark(f"{outputs_dir}/{q}"), tag)
        except Exception as e:  # a failed oracle query is a failed check
            why = f"FAIL {q}{tag}: {type(e).__name__}: {' '.join(str(e).split())[:300]}"
        if why:
            errors.append(why)
    con.close()
    return errors
