"""Bit-exact comparison of the benchmark's pipeline dumps with their DuckDB oracles.

The rules are those of tools/compare.py --bitexact: columns are compared
in name order, row counts must match, float columns must agree at the
IEEE bit level (all NaNs count as equal, and so do two nulls), and
every other column by value.
"""
import json
import sys

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

TABLES = ("events", "documents")


def _mismatch(exp, got):
    if list(exp.columns) != list(got.columns):
        return f"columns {list(exp.columns)} != {list(got.columns)}"
    if len(exp) != len(got):
        return f"rows {len(exp)} != {len(got)}"
    for c in exp.columns:
        e, g = exp[c], got[c]
        if e.dtype.kind == "f" or g.dtype.kind == "f":
            ev = e.astype("float64").to_numpy(dtype="float64", na_value=np.nan)
            gv = g.astype("float64").to_numpy(dtype="float64", na_value=np.nan)
            neq = ~((np.isnan(ev) & np.isnan(gv)) | (ev.view("uint64") == gv.view("uint64")))
        elif e.dtype == g.dtype:
            neq = (~((e.isna() & g.isna()) | (e == g))).to_numpy()
        else:
            neq = (~((e.isna() & g.isna()) | (e.astype(object) == g.astype(object)))).to_numpy()
        n = int(neq.sum())
        if n:
            i = int(np.argmax(neq))
            return f"{c}: {n} values differ, first at row {i}: {e.iloc[i]!r} != {g.iloc[i]!r}"
    return None


def _oracle(input_dir, sql):
    con = duckdb.connect()
    try:
        con.execute("set enable_progress_bar = false")
        for t in TABLES:
            path = input_dir / f"{t}.parquet"
            if path.exists():
                con.execute(f"create view {t} as select * from read_parquet('{path}')")
        return con.execute(sql).df()
    finally:
        con.close()


def check(input_dir, dump_dir):
    """Returns {pipeline: True if its dump equals its oracle bit for bit}."""
    oracle = json.loads((dump_dir / "oracle_sql.json").read_text())
    result = {}
    for name, sql in sorted(oracle.items()):
        # an oracle that errors or a dump that cannot be read is a
        # failure of that pipeline, as in tools/compare.py
        try:
            exp = _oracle(input_dir, sql)
            got = pq.read_table(dump_dir / name).to_pandas()
            exp = exp.reindex(sorted(exp.columns), axis=1)
            got = got.reindex(sorted(got.columns), axis=1)
            why = _mismatch(exp, got)
        except Exception as e:  # noqa: BLE001
            why = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
        if why:
            print(f"[perfbench] oracle {name}: {why}", file=sys.stderr)
        result[name] = why is None
    return result
