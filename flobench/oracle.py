"""DuckDB oracle check of dumped query results, the way the repo's
`tools/oracle_check.py` compares them: fetch both sides through Arrow, sort
the columns by name, and compare values row by row in order."""
import math

import duckdb

# Types that survive an Arrow fetch with their values intact.
TYPE_ALLOWLIST = {"BIGINT", "INTEGER", "DOUBLE", "VARCHAR", "BOOLEAN", "DATE", "TIMESTAMP"}


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _fetch(rel):
    tbl = rel.arrow()
    cols = tbl.column_names
    return cols, [tuple(d[c] for c in cols) for d in tbl.to_pylist()]


def check(data_dir, tables, dump_dir, oracle_sql):
    """Compare each `dump_dir/<name>` parquet with its oracle SQL run over the
    `tables` in `data_dir`. Returns {name: None if equal, else a reason}."""
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            bad = [(c, t) for c, t, *_ in con.execute(f"DESCRIBE {sql}").fetchall()
                   if t not in TYPE_ALLOWLIST]
            if bad:
                out[name] = f"result types outside the Arrow-safe set: {bad}"
                continue
            s_cols, s_rows = _fetch(con.execute(f"SELECT * FROM '{dump_dir}/{name}/*.parquet'"))
            d_cols, d_rows = _fetch(con.execute(sql))
        except Exception as e:  # noqa: BLE001 - any engine error fails the query
            out[name] = f"error: {e}"
            continue
        if sorted(s_cols) != sorted(d_cols):
            out[name] = f"columns differ: spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
            continue
        s_ix = [s_cols.index(c) for c in sorted(s_cols)]
        d_ix = [d_cols.index(c) for c in sorted(d_cols)]
        s = [tuple(_norm(r[i]) for i in s_ix) for r in s_rows]
        d = [tuple(_norm(r[i]) for i in d_ix) for r in d_rows]
        if len(s) != len(d):
            out[name] = f"row counts differ: spark={len(s)} duckdb={len(d)}"
        elif s != d:
            i = next(i for i, (a, b) in enumerate(zip(s, d)) if a != b)
            out[name] = f"row {i} differs: spark={s[i]} duckdb={d[i]}"
        else:
            out[name] = None
    return out
