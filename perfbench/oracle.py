"""DuckDB oracle check of dumped query results.

The comparison rules of `tools/verify_local.py`: columns sorted by name,
rows sorted by all columns, timestamps compared as ISO strings, floats
compared exactly (NaN equal to NaN).
"""
import glob
import hashlib
import os

import duckdb
import numpy as np
import pandas as pd


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if np.issubdtype(s.dtype, np.datetime64):
            out[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif s.dtype == object:
            out[c] = s.map(lambda v: v.isoformat() if hasattr(v, "isoformat") else v)
        else:
            out[c] = s
    df = pd.DataFrame(out)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort",
                            na_position="first").reset_index(drop=True)
    return df


def _mismatch(got, exp):
    g, e = _canon(got), _canon(exp)
    if list(g.columns) != list(e.columns):
        return f"schema spark={list(g.columns)} duckdb={list(e.columns)}"
    if len(g) != len(e):
        return f"rows spark={len(g)} duckdb={len(e)}"
    for c in g.columns:
        a, b = g[c], e[c]
        if np.issubdtype(a.dtype, np.floating) or np.issubdtype(b.dtype, np.floating):
            af, bf = a.astype(float).to_numpy(), b.astype(float).to_numpy()
            neq = ~((af == bf) | (np.isnan(af) & np.isnan(bf)))
        else:
            neq = (~(a.eq(b) | (a.isna() & b.isna()))).to_numpy()
        if neq.any():
            i = int(np.argmax(neq))
            return f"column {c}: spark={a.iloc[i]!r} duckdb={b.iloc[i]!r}"
    return None


def load(dump_dir, name):
    """The Spark result written under `dump_dir/name`, or None."""
    files = sorted(glob.glob(os.path.join(dump_dir, name, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def digest(df):
    """Order-independent content hash of a result, to recognise it again."""
    return hashlib.sha256(_canon(df).to_csv(index=False).encode()).hexdigest()


def check(data_dir, sqls, results, tables):
    """{query: None if its result matches its oracle, else the first
    difference}. `results` maps query names to Spark results (or None)."""
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    verdict = {}
    for name, got in results.items():
        if name not in sqls:
            verdict[name] = "no oracle SQL"
        elif got is None:
            verdict[name] = "no Spark output"
        else:
            try:
                verdict[name] = _mismatch(got, con.execute(sqls[name]).df())
            except Exception as e:  # an oracle that cannot run is a failure
                verdict[name] = f"oracle error: {e}"
    con.close()
    return verdict
