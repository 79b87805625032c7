"""DuckDB oracle comparison for the gate_queries workload.

The harness writes one pass of each gate query to `<dir>/<query>/` as
parquet, plus `oracle_sql.json` (the query's `SparkEntry.oracleSql` text)
and `tables.txt` (the generated table directory). Each query's output must
equal its oracle's result: same columns, same row count, same values in the
same order (every gate query is totally ordered).
"""
import json
import os


def compare(out_dir):
    """Return one message per mismatching query (empty when all match)."""
    import duckdb

    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    with open(os.path.join(out_dir, "tables.txt")) as f:
        tables = f.read().strip()
    con = duckdb.connect()
    for t in sorted(os.listdir(tables)):
        if t.endswith(".parquet"):
            con.sql(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                    f"read_parquet('{tables}/{t}/*.parquet')")
    failures = []
    for name, sql in sorted(oracles.items()):
        try:
            got = _canon(con.sql(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df())
            want = _canon(con.sql(sql).df())
        except Exception as e:  # a query that cannot be compared is a failure
            failures.append(f"oracle {name}: {e}")
            continue
        if list(got.columns) != list(want.columns):
            failures.append(f"oracle {name}: columns {list(got.columns)} != {list(want.columns)}")
        elif len(got) != len(want):
            failures.append(f"oracle {name}: {len(got)} rows, oracle {len(want)}")
        elif not got.equals(want):
            diff = (got != want) & ~(got.isna() & want.isna())
            failures.append(f"oracle {name}: {int(diff.sum().sum())} differing cells")
    return failures


def _canon(df):
    return df[sorted(df.columns)].reset_index(drop=True)
