"""DuckDB oracle check of one query output.

The program's output parquet and the oracle SQL's result (DuckDB 1.0 on the
same tables) are compared as tools/check.py, the repository's oracle gate,
compares them: both read through Arrow into pandas, columns sorted by name,
rows sorted, cells compared with their type (an int and a float, or a
Decimal and a float, never match).
"""
import glob
import os
import sys

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check import frame  # noqa: E402
from gen_tables import TABLES  # noqa: E402


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute("SET threads=4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def compare(con, sql, out_dir):
    """None when the output in out_dir equals the oracle's, else a reason."""
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not files:
        return "no output parquet"
    try:
        exp_cols, exp = frame(con.execute(sql).arrow().to_pandas(), "oracle", None)
        got_cols, got = frame(pq.ParquetDataset(files).read().to_pandas(), "spark", None)
    except TypeError as e:  # check.py's sort fails on array cells, as the gate does
        return f"cannot sort the frames: {e}"
    if exp_cols != got_cols:
        return f"columns {got_cols} != {exp_cols}"
    if len(exp) != len(got):
        return f"{len(got)} rows != {len(exp)}"
    bad = [i for i, (e, g) in enumerate(zip(exp, got)) if e != g]
    if bad:
        return f"{len(bad)}/{len(exp)} rows differ, first: {got[bad[0]]} != {exp[bad[0]]}"
    return None
