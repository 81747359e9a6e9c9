"""Checks batch query results against their DuckDB oracle SQL.

A result matches when the column-name sets, the row counts and every
cell agree after both sides are sorted by all columns (floats must be
bit-equal, NaN equals NaN). Queries without oracle SQL must return
rows.

Expected results are cached under `cache_dir`, keyed by the oracle SQL
and the bytes of the input tables: some oracles take tens of seconds
in DuckDB (q_dedup_minhash re-implements xxhash64 in SQL), and the
tables of a scale factor are the same in every run.
"""
import hashlib
import math
import os
import pickle

import duckdb
import pandas as pd

from datagen import TABLES


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), kind="mergesort",
                          na_position="first").reset_index(drop=True)


def _cell_equal(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    try:
        na, nb = pd.isna(a), pd.isna(b)
        if isinstance(na, bool) and (na or nb):
            return na and nb
    except (TypeError, ValueError):
        pass
    try:
        return bool(a == b)
    except Exception:
        return str(a) == str(b)


def compare(got, exp):
    """None when equal, else a one-line reason."""
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns differ: {sorted(got.columns)} vs {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"row count {len(got)} vs oracle {len(exp)}"
    try:
        g, e = _norm(got), _norm(exp)
    except TypeError:
        g, e = _norm(got.astype(str)), _norm(exp.astype(str))
    for c in g.columns:
        for i, (a, b) in enumerate(zip(g[c].tolist(), e[c].tolist())):
            if not _cell_equal(a, b):
                return f"column {c} row {i}: {a!r} vs oracle {b!r}"
    return None


def _tables_digest(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            h.update(t.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def expected(data_dir, sql, cache_dir):
    """The oracle's result for `sql` over the tables in `data_dir`."""
    key = hashlib.sha256((_tables_digest(data_dir) + sql).encode()).hexdigest()
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    df = con.execute(sql).fetchdf()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(df, f)
    os.replace(path + ".tmp", path)
    return df


def check(data_dir, out_dir, names, oracle_sql, cache_dir, inject_fault=False):
    """query -> reason for every query whose result is wrong."""
    bad = {}
    # the fault drops a row of the first result that has an oracle
    fault = next((q for q in names if q in oracle_sql), None) if inject_fault else None
    for q in names:
        try:
            got = pd.read_parquet(os.path.join(out_dir, q))
        except Exception as e:
            bad[q] = f"no result: {e}"
            continue
        if q == fault and len(got):
            got = got.iloc[1:]
        if q not in oracle_sql:
            if len(got) == 0:
                bad[q] = "no oracle SQL and no rows"
            continue
        try:
            exp = expected(data_dir, oracle_sql[q], cache_dir)
        except Exception as e:
            bad[q] = f"oracle SQL failed: {e}"
            continue
        reason = compare(got, exp)
        if reason:
            bad[q] = reason
    return bad
