"""DuckDB oracle check for the query mixes.

Same semantics as ``tools/compare_oracle.py``: every parquet part file of
the Spark output is read, columns are compared in sorted order after
``astype(str)``, and a cell may differ only where both sides are NULL.
"""
import glob
import json
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq


def _mismatch(spark_df, duck_df):
    """None when the frames match, else a one-line reason."""
    s = spark_df[sorted(spark_df.columns)].reset_index(drop=True)
    d = duck_df[sorted(duck_df.columns)].reset_index(drop=True)
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} != {list(d.columns)}"
    if s.shape != d.shape:
        return f"shape {s.shape} != {d.shape}"
    for c in s.columns:
        a = s[c].astype(str).tolist()
        b = d[c].astype(str).tolist()
        if a == b:
            continue
        na_a = s[c].isna().tolist()
        na_b = d[c].isna().tolist()
        for i, (x, y, nx, ny) in enumerate(zip(a, b, na_a, na_b)):
            if x != y and not (nx and ny):
                return f"col {c} row {i}: spark={x!r} duck={y!r}"
    return None


def check(tables_dir, verify_dir, queries):
    """Returns {query: None or failure reason} for every query in the mix.
    A query without oracle SQL fails: every mix query must be oracle-checked."""
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    with open(os.path.join(verify_dir, "oracle_sql.json"), encoding="utf-8") as fh:
        oracle = json.load(fh)
    out = {}
    for q in queries:
        parts = sorted(glob.glob(os.path.join(verify_dir, q, "*.parquet")))
        if q not in oracle:
            out[q] = "no oracle SQL"
        elif not parts:
            out[q] = "no Spark output"
        else:
            try:
                spark_df = pa.concat_tables([pq.read_table(p) for p in parts]).to_pandas()
                out[q] = _mismatch(spark_df, con.execute(oracle[q]).fetchdf())
            except Exception as e:  # an oracle that cannot run is a failed check
                out[q] = f"{type(e).__name__}: {e}"
    con.close()
    return out
