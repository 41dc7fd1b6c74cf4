"""DuckDB oracle check for the dashboard workload: each query's saved
result must equal its oracle SQL (from the engine's registry) run over the
same generated tables. Columns are compared by name and rows after a sort,
values exactly, with nulls equal to nulls.
"""
import json
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]


def _cell(v):
    """One comparable value: nulls (None, NaN, NaT) as None, numpy scalars
    and decimals as Python numbers, dates and timestamps as ISO text."""
    if v is None or (isinstance(v, float) and math.isnan(v)) or type(v).__name__ == "NaTType":
        return None
    if hasattr(v, "item"):  # numpy scalar
        return _cell(v.item())
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if type(v).__name__ == "Decimal":
        return float(v)
    return v


def _key(x):
    return (x is None, type(x).__name__, x if x is not None else 0)


def canonical(df):
    """Rows as tuples over name-sorted columns, sorted."""
    cols = sorted(df.columns)
    rows = [tuple(_cell(v) for v in r) for r in df[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows, key=lambda r: tuple(_key(x) for x in r))


def compare(got, expected):
    """None when equal, else the reason."""
    gc, gr = canonical(got)
    ec, er = canonical(expected)
    if gc != ec:
        return f"columns {gc} != oracle {ec}"
    if len(gr) != len(er):
        return f"{len(gr)} rows != oracle {len(er)}"
    for i, (a, b) in enumerate(zip(gr, er)):
        if a != b:
            return f"row {i}: {a} != oracle {b}"
    return None


def check(data_dir, work_dir):
    """{query: reason or None} for every saved dashboard result."""
    import duckdb
    import pandas as pd
    with open(os.path.join(work_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    out = {}
    results = os.path.join(work_dir, "results")
    for q in sorted(os.listdir(results)) if os.path.isdir(results) else []:
        if q not in oracle:
            out[q] = "no oracle SQL"
            continue
        got = pd.read_parquet(os.path.join(results, q))
        try:
            out[q] = compare(got, con.execute(oracle[q]).df())
        except Exception as e:  # an oracle that cannot run is a failed check
            out[q] = f"oracle error: {e}"
    return out
