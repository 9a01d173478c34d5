"""sql-mix answer check: each sampled query's reference dump against its
declared DuckDB oracle SQL, compared the way `tools/check_oracle.py` does
(its `canon`, then column names, row count and cell text)."""
import glob
import importlib.util
import json
import os

import duckdb
import pandas as pd


def _canon(repo_root):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(repo_root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.TABLES, mod.canon


def check(repo_root, data_dir, ref_dir):
    """Returns {query name: None if it matches, else what differs}."""
    tables, canon = _canon(repo_root)
    con = duckdb.connect()
    try:
        for t in tables:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        with open(os.path.join(ref_dir, "oracle_sql.json")) as f:
            oracle = json.load(f)
        out = {}
        for name in sorted(os.listdir(ref_dir)):
            d = os.path.join(ref_dir, name)
            if not os.path.isdir(d):
                continue
            files = sorted(glob.glob(f"{d}/*.parquet"))
            got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
            if name not in oracle:
                out[name] = None if len(got) > 0 else "no rows and no oracle"
                continue
            try:
                exp = con.execute(oracle[name]).df()
                g, e = canon(got), canon(exp)
            except Exception as err:  # an oracle or canon failure is a failed check
                out[name] = f"oracle error: {err}"
                continue
            if list(g.columns) != list(e.columns):
                out[name] = f"columns {list(g.columns)} != {list(e.columns)}"
            elif len(g) != len(e):
                out[name] = f"rows {len(g)} != {len(e)}"
            elif (g.astype(str) != e.astype(str)).any().any():
                out[name] = "values differ"
            else:
                out[name] = None
        return out
    finally:
        con.close()
