"""DuckDB oracle comparison for the query workloads.

The rules are the repository correctness gate's (`tools/check.py`): its
table list, normalization and value equality are imported from there, so
the two cannot drift apart. This module adds reading every part file of a
result and the dropped-row self-test.
"""
import glob
import os
import sys

import duckdb
import pandas as pd
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check import TABLES, norm, values_equal  # noqa: E402


def connect(tables_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables_dir, t + '.parquet')}')")
    return con


def compare(con, result_dir, sql, drop_row=False):
    """(ok, detail) for one query. `drop_row` removes the first result row
    first: the self-test that a corrupted result is caught."""
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        return False, "no Spark output"
    spark_df = pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)
    if drop_row:
        spark_df = spark_df.iloc[1:]
    if sql is None:
        return False, "no oracle SQL"
    try:
        duck_df = con.execute(sql).fetchdf()
    except Exception as e:  # the oracle itself failing is a failed check
        return False, f"oracle SQL error: {str(e)[:200]}"
    s, o = norm(spark_df.copy()), norm(duck_df.copy())
    if list(s.columns) != list(o.columns):
        return False, f"columns spark={list(s.columns)} oracle={list(o.columns)}"
    if len(s) != len(o):
        return False, f"rows spark={len(s)} oracle={len(o)}"
    for c in s.columns:
        # equal, or both missing; `values_equal` explains the first difference
        eq = (s[c] == o[c]) | (s[c].isna() & o[c].isna())
        if not eq.all():
            sv, ov = s[c].tolist(), o[c].tolist()
            for i in (~eq).to_numpy().nonzero()[0]:
                if not values_equal(sv[i], ov[i]):
                    return False, f"value mismatch col={c} row={i}: spark={sv[i]!r} oracle={ov[i]!r}"
    return True, f"{len(s)} rows"
