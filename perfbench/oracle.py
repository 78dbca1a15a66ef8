"""Output check of the query gate.

Every gate query must match DuckDB running its `SparkEntry.oracleSql`
over the same tables: same columns, same row count and equal values after
the canonicalisation of tools/compare_oracle.py (imported from there:
columns sorted by name, widths normalised, floats rounded to 6 places,
rows sorted).
"""
import glob
import json
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), '..', 'tools'))
from compare_oracle import canon  # noqa: E402

TABLES = ['region', 'nation', 'customer', 'supplier', 'part', 'orders',
          'lineitem', 'events', 'documents', 'embeddings']


def read_result(path):
    files = sorted(glob.glob(os.path.join(path, '*.parquet')))
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def check(data_dir, out_dir, perturb=False):
    """Returns {query: None if it matches, else a one-line reason}."""
    oracle = json.load(open(os.path.join(out_dir, 'oracle_sql.json')))
    con = duckdb.connect()
    con.execute('SET threads TO 1')
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    verdicts = {}
    for d in sorted(glob.glob(os.path.join(out_dir, 'q*'))):
        name = os.path.basename(d)
        got = read_result(d)
        if perturb and len(got):
            # the smoke test's mutation: one result row goes missing
            got, perturb = got.iloc[1:], False
        if name not in oracle:
            verdicts[name] = 'no oracle SQL'
            continue
        exp = con.execute(oracle[name]).df()
        a, b = canon(got), canon(exp)
        if list(a.columns) != list(b.columns):
            verdicts[name] = f'columns {list(a.columns)} != {list(b.columns)}'
        elif len(a) != len(b):
            verdicts[name] = f'{len(a)} rows != oracle {len(b)}'
        else:
            try:
                pd.testing.assert_frame_equal(a, b, check_dtype=True,
                                              check_exact=False, rtol=1e-6)
                verdicts[name] = None
            except AssertionError as e:
                verdicts[name] = 'values differ: ' + ' '.join(str(e).split())[:200]
    return verdicts
