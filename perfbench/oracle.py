"""Output check of the batch suite: each row's result, written as parquet by
the engine, must equal the row's oracle SQL run by DuckDB over the same
generated tables. Both sides are normalized the way dev/oracle_check.py
normalizes them (columns sorted by name, every cell stringified, rows
sorted)."""
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "dev"))
from oracle_check import normalize  # noqa: E402


def check_rows(data_dir, out_dir, oracle_sql, tables):
    """Returns {row name: None if the result matches, else a reason}."""
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    verdicts = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            expected = normalize(con.execute(sql).fetchdf())
            got = normalize(con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchdf())
        except Exception as e:  # a row whose output is missing or unreadable is wrong
            verdicts[name] = f"unreadable: {e}"
            continue
        if expected[0] != got[0]:
            verdicts[name] = f"columns {got[0]} != oracle {expected[0]}"
        elif expected[1] != got[1]:
            verdicts[name] = f"{len(got[1])} rows differ from the oracle's {len(expected[1])}"
        else:
            verdicts[name] = None
    con.close()
    return verdicts
