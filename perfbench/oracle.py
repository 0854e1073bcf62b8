"""Oracle comparison: the engine's result for a catalog entry (written as
parquet by the harness) against the entry's DuckDB SQL from the engine's
own `SparkEntry.oracleSql`, run over the same tables.

Comparison rules follow the repository's oracle gate: columns sorted by
name, same row count, values equal in order (exact for non-floats,
floats within 1e-9 relative)."""
import glob
import math

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(v):
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("+00:00", "")
    return v


def _rows(tab):
    cols = sorted(tab.column_names)
    t = tab.select(cols)
    return cols, [tuple(_canon(r[c]) for c in cols) for r in t.to_pylist()]


def same(a, b):
    """Compare two arrow tables under the gate's rules; returns None when
    equal, else a one-line reason."""
    ca, ra = _rows(a)
    cb, rb = _rows(b)
    if ca != cb:
        return f"columns {ca} != {cb}"
    if len(ra) != len(rb):
        return f"rows {len(ra)} != {len(rb)}"
    for i, (x, y) in enumerate(zip(ra, rb)):
        for u, v in zip(x, y):
            if isinstance(u, float) and isinstance(v, float):
                if math.isnan(u) and math.isnan(v):
                    continue
                if abs(u - v) > 1e-9 * max(1.0, abs(u), abs(v)):
                    return f"row {i}: {u} != {v}"
            elif u != v:
                return f"row {i}: {u!r} != {v!r}"
    return None


def read_result(path):
    files = sorted(glob.glob(f"{path}/*.parquet"))
    return pa.concat_tables([pq.read_table(f) for f in files]) if files else None


def check(results, tables_dir, sql_by_name):
    """results: {name: parquet dir}; returns {name: None | reason}."""
    if not results:
        return {}
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = f"{tables_dir}/{t}.parquet"
        if glob.glob(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name, path in results.items():
        sql = (sql_by_name or {}).get(name)
        if sql is None:
            out[name] = "no oracle SQL"
            continue
        tab = read_result(path)
        if tab is None:
            out[name] = "no result written"
            continue
        try:
            duck = con.execute(sql).fetch_arrow_table()
        except Exception as e:  # the oracle itself failing is a failed check
            out[name] = f"duckdb: {e}"
            continue
        out[name] = same(tab, duck)
    return out
