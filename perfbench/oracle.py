"""DuckDB oracle for the stream twins: each twin's `SparkEntry.oracleSql`
run over the same generated parquet, compared in row order with the rows
the engine returned (written by the harness JVM from its warm pass).
"""
import duckdb

from analyze import same_rows
from gen import TABLES


def check(results_dir, tables_dir, oracle_sql):
    """name → (ok, reason) for every query in `oracle_sql`."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            ocur = con.execute(sql)
            ocols = [d[0] for d in ocur.description]
            orows = ocur.fetchall()
            scur = con.execute(f"SELECT * FROM '{results_dir}/{name}/*.parquet'")
            scols = [d[0] for d in scur.description]
            srows = scur.fetchall()
        except Exception as e:  # a missing result or failing oracle fails the query
            out[name] = (False, f"{type(e).__name__}: {e}"[:300])
            continue
        out[name] = same_rows(ocols, orows, scols, srows)
    con.close()
    return out
