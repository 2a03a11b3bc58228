"""Checks query results against the DuckDB oracle.

Each query's result, written by the runner as parquet, is compared with
its `SparkEntry.oracleSql` statement run by DuckDB over the same input
tables: columns sorted by name, rows sorted by all columns, values
compared exactly (NaN equals NaN). This is the comparison the
repository's oracle gate makes."""
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _normalise(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: tuple(str(x) for x in t))


def _equal(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return a == b


def check(tables_dir, results_dir, oracle_sql):
    """Returns {name: (ok, rows_returned, message)} for every query."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(tables_dir, t)}.parquet'")
    verdicts = {}
    for name, sql in sorted(oracle_sql.items()):
        path = os.path.join(results_dir, name)
        if not os.path.isdir(path):
            verdicts[name] = (False, 0, "no result written")
            continue
        got = con.execute(f"SELECT * FROM '{path}/*.parquet'")
        got_cols, got_rows = _normalise(
            got.fetchall(), [d[0] for d in got.description])
        try:
            want = con.execute(sql)
            want_cols, want_rows = _normalise(
                want.fetchall(), [d[0] for d in want.description])
        except duckdb.Error as e:
            verdicts[name] = (False, len(got_rows), f"oracle failed: {e}")
            continue
        if got_cols != want_cols:
            msg = f"columns {got_cols} != {want_cols}"
        elif len(got_rows) != len(want_rows):
            msg = f"{len(got_rows)} rows != {len(want_rows)}"
        else:
            bad = next((i for i, (a, b) in enumerate(zip(got_rows, want_rows))
                        if not all(map(_equal, a, b))), None)
            msg = None if bad is None else \
                f"row {bad}: {got_rows[bad]} != {want_rows[bad]}"
        verdicts[name] = (msg is None, len(got_rows), msg)
    con.close()
    return verdicts
