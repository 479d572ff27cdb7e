"""DuckDB check of the olap workload's query outputs.

Each output is compared with DuckDB running the query's oracle SQL over the
same generated tables, canonicalized the way scripts/local_verify.py does:
columns sorted by name, rows sorted by every column, floats compared
bitwise, everything else compared as rendered text.
"""
import glob
import json
import os

import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def _mismatch(got, exp):
    """First difference between two canonical frames, or None."""
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs oracle {list(exp.columns)}"
    if len(got) != len(exp):
        return f"{len(got)} rows vs oracle {len(exp)}"
    for c in got.columns:
        g, e = got[c], exp[c]
        if g.dtype.kind == "f" and e.dtype.kind == "f":
            ga, ea = g.to_numpy(dtype=float), e.to_numpy(dtype=float)
            eq = (ga == ea) | (np.isnan(ga) & np.isnan(ea))
        else:
            eq = g.astype(str).to_numpy() == e.astype(str).to_numpy()
        if not eq.all():
            i = int(np.argmin(eq))
            return f"{c}[row {i}]: {g.iloc[i]!r} vs oracle {e.iloc[i]!r}"
    return None


def check(data_dir, out_dir):
    """Return {query: (ok_runs, error or None)} for every query in oracle.json."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle.json")) as f:
        queries = json.load(f)
    result = {}
    for name, q in sorted(queries.items()):
        files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        try:
            if not files:
                raise RuntimeError("no output written")
            got = _canon(duckdb.sql(f"SELECT * FROM read_parquet({files!r})").df())
            result[name] = (q["ok_runs"], _mismatch(got, _canon(con.sql(q["sql"]).df())))
        except Exception as e:  # an oracle or read error fails the check too
            result[name] = (q["ok_runs"], f"{type(e).__name__}: {e}")
    return result
