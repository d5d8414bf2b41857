#!/usr/bin/env python3
# Driver-style DuckDB oracle compare for graft.Verify output.
# Usage: python3 dev/check_oracle.py [sfDir] [verifyOutDir]
# Registers each test table as a DuckDB view, runs every oracle_sql.json
# query, and compares to the engine parquet: columns sorted by name,
# row count, then stringified cell equality (mimics the correctness
# gate). Requires driver-side python deps (duckdb, pandas, pyarrow).
import duckdb, json, glob, os, sys
import pandas as pd
sfdir = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
outdir = sys.argv[2] if len(sys.argv) > 2 else '/tmp/verify_out'
con = duckdb.connect()
# A table is one parquet file, or a directory of part files as Spark
# writes it (perfbench's Gen.tables); a generated dir holds only the
# tables it was asked for, so a missing table is skipped.
for tbl in ['region','nation','customer','supplier','part','orders','lineitem','events','documents','embeddings']:
    path = f'{sfdir}/{tbl}.parquet'
    if os.path.isdir(path):
        path = f'{path}/*.parquet'
    elif not os.path.exists(path):
        continue
    con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM '{path}'")
oracle = json.load(open(f'{outdir}/oracle_sql.json'))
# Optional 3rd arg: comma-list of query names to check (default: all).
if len(sys.argv) > 3:
    only = set(sys.argv[3].split(','))
    unknown = only - oracle.keys()
    if unknown:  # a typo'd name must not pass as a silent green
        sys.exit(f'ERR  unknown query name(s): {sorted(unknown)} — nothing checked')
    oracle = {k: v for k, v in oracle.items() if k in only}
fails = 0
for name, sql in sorted(oracle.items()):
    try:
        want = con.execute(sql).df()
        got = pd.read_parquet(glob.glob(f'{outdir}/{name}/*.parquet')[0])
        want = want[sorted(want.columns)]
        got = got[sorted(got.columns)]
        if list(want.columns) != list(got.columns):
            print(f'FAIL {name}: cols want={list(want.columns)} got={list(got.columns)}'); fails += 1; continue
        if len(want) != len(got):
            print(f'FAIL {name}: rows want={len(want)} got={len(got)}'); fails += 1; continue
        w = want.astype(str).values.tolist(); g = got.astype(str).values.tolist()
        if w != g:
            print(f'FAIL {name}: values differ')
            for i,(a,b) in enumerate(zip(w,g)):
                if a != b: print('  row', i, 'want', a, 'got', b); break
            fails += 1
        else:
            print(f'OK   {name} ({len(want)} rows)')
    except Exception as e:
        print(f'ERR  {name}: {e}'); fails += 1
sys.exit(1 if fails else 0)
