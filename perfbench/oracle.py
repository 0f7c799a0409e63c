"""DuckDB oracle check for the query_suite workload.

The harness saves each query's warm-up result as parquet under
<results>/<name>/ and the queries' oracle SQL in
<results>/oracle_sql.json. This runs every oracle in DuckDB over the same
fixture tables and compares them with the comparison of the repository's
tools/check_oracle.py (columns sorted by name, rows sorted, floats within
1e-9). Returns {name: problem} for every mismatch.
"""
import contextlib
import glob
import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
import check_oracle  # noqa: E402  (duckdb and pandas come with it)
import duckdb  # noqa: E402
import pandas as pd  # noqa: E402


def check(sf_dir, results_dir):
    con = duckdb.connect()
    for t in check_oracle.TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    problems = {}
    # check_oracle prints its warnings to stdout, whose last line is the result
    with contextlib.redirect_stdout(sys.stderr):
        for name, sql in sorted(oracles.items()):
            parts = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
            try:
                if not parts:
                    raise RuntimeError("no saved result")
                spark_df = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
                found = check_oracle.compare(name, spark_df, con.execute(sql).df())
            except Exception as e:  # any failure to check is a failed query
                found = [f"{type(e).__name__}: {e}"]
            if found:
                problems[name] = "; ".join(found[:3])
    con.close()
    return problems, sorted(oracles)
