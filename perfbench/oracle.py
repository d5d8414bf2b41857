"""DuckDB oracle for the query workloads: each judged query's Spark
result must equal its `SparkEntry.oracleSql` statement run by DuckDB over
the same generated tables (columns sorted by name, same row count, then
cell-by-cell equality of the stringified values)."""

import glob
import json
import os
import threading
import time

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def check(tables_dir, oracle_json, results, timeout_s=None):
    """Returns ({query: error}, {query: oracle seconds}) over the (query,
    spark result dir) pairs in `results`. A result that does not match its
    oracle, a query without an oracle statement, and (with `timeout_s`) an
    oracle interrupted after that many seconds are errors."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = f"{tables_dir}/{t}.parquet"
        # A generated table is a parquet dataset; a judged one, one file.
        if os.path.isdir(path):
            path += "/*.parquet"
        elif not os.path.isfile(path):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    with open(oracle_json) as f:
        sql = json.load(f)
    errors, seconds = {}, {}
    for query, out in results:
        timer = threading.Timer(timeout_s, con.interrupt) if timeout_s else None
        if timer:
            timer.start()
        t0 = time.time()
        try:
            if query not in sql:
                raise ValueError("no oracle statement")
            want = con.execute(sql[query]).df()
            files = sorted(glob.glob(os.path.join(out, "*.parquet")))
            got = pd.concat([pd.read_parquet(p) for p in files]) if files else want.iloc[0:0]
            want = want[sorted(want.columns)]
            got = got[sorted(got.columns)]
            if list(want.columns) != list(got.columns):
                raise ValueError(f"columns {list(got.columns)} != {list(want.columns)}")
            if len(want) != len(got):
                raise ValueError(f"{len(got)} rows != {len(want)}")
            w = want.astype(str).values.tolist()
            g = got.astype(str).values.tolist()
            if w != g:
                row = next(i for i, (a, b) in enumerate(zip(w, g)) if a != b)
                raise ValueError(f"row {row}: {g[row]} != {w[row]}")
        except Exception as e:  # any failure is a wrong result
            errors[query] = f"{type(e).__name__}: {e}"[:300]
        finally:
            seconds[query] = time.time() - t0
            if timer:
                timer.cancel()
    return errors, seconds
