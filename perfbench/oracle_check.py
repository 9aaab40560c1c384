"""DuckDB oracle for the operator_suite headliners.

The expected result of each headliner is its frozen oracle SQL
(`oracle.json`, taken from the registry's `Q.sql` when the list was
frozen) run by DuckDB over the same parquet tables, so no expected value
ever comes from the engine. Results are compared the way the repo's
`tools/parity.py` compares them: columns sorted by name, rows in order,
doubles bit-identical, dates equal to midnight timestamps, and numbers
equal across integer, decimal and float types.
"""
import datetime
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.reset_index(drop=True)


def _datestr(v):
    import pandas as pd
    if v is pd.NaT:
        return None
    if isinstance(v, (pd.Timestamp, datetime.datetime)) and \
            v.time() == datetime.time(0, 0):
        return v.date().isoformat()
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        return v.isoformat()
    return None


def cell_eq(a, b):
    import pandas as pd
    if a is None and b is None:
        return True
    da, db = _datestr(a), _datestr(b)
    if da is not None and db is not None:
        return da == db
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    try:
        if pd.isna(a) and pd.isna(b):
            return True
        if bool(pd.isna(a)) != bool(pd.isna(b)):
            return False
    except (TypeError, ValueError):
        pass
    if str(a) == str(b):
        return True
    try:
        return float(a) == float(b)
    except (TypeError, ValueError):
        return False


def _col_fast_eq(ea, ga):
    """Strict vectorized equality; False only routes to the per-cell loop."""
    import numpy as np
    try:
        if ea.dtype == ga.dtype:
            k = ea.dtype.kind
            a, b = ea.values, ga.values
            if k in "iub":
                return bool((a == b).all())
            if k == "f":
                return bool(((a == b) | (np.isnan(a) & np.isnan(b))).all())
            if k == "M":
                return bool(((a == b) | (np.isnat(a) & np.isnat(b))).all())
            if k == "O":
                return ea.tolist() == ga.tolist()
    except Exception:  # noqa: BLE001
        pass
    return False


def compare(exp, got):
    """None when the frames agree, else a one-line reason."""
    exp, got = _norm(exp), _norm(got)
    if list(exp.columns) != list(got.columns):
        return f"columns: want {list(exp.columns)}, got {list(got.columns)}"
    if len(exp) != len(got):
        return f"rows: want {len(exp)}, got {len(got)}"
    for c in exp.columns:
        if _col_fast_eq(exp[c], got[c]):
            continue
        for i, (a, b) in enumerate(zip(exp[c].tolist(), got[c].tolist())):
            if not cell_eq(a, b):
                return f"column {c} row {i}: want {a!r}, got {b!r}"
    return None


def expected(sf_dir, oracle, cache_dir):
    """DuckDB results of every oracle query, cached as parquet per name
    (the cache is keyed by the SQL text and the scale directory)."""
    import hashlib

    import duckdb
    import pandas as pd
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    out = {}
    for name, sql in sorted(oracle.items()):
        key = hashlib.sha256(f"{sf_dir}\n{sql}".encode()).hexdigest()[:16]
        path = os.path.join(cache_dir, f"{name}-{key}.parquet")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads TO 2")
                con.execute("SET enable_progress_bar = false")
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"'{sf_dir}/{t}.parquet'")
            con.execute(f"COPY ({sql}) TO '{path}.tmp' (FORMAT parquet)")
            os.replace(f"{path}.tmp", path)
        out[name] = path
    return {n: pd.read_parquet(p) for n, p in out.items()}
