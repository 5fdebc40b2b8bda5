"""DuckDB check of captured query results against `SparkEntry.oracleSql`.

Rows are compared as sets of canonical strings: columns sorted by name,
floats rounded to 6 decimals, values compared by text so a BIGINT/HUGEINT
difference over equal values is not a failure.
"""
import json
import math
import os

import duckdb


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "nan" if math.isnan(v) else round(v, 6)
            vals.append(str(v))
        out.append("\x01".join(vals))
    return sorted(out)


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '2GB'")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data_dir}/{f}'")
    return con


def expected(con, sql_by_name):
    """name -> (sorted column names, canonical rows), or an error string."""
    out = {}
    for name, sql in sql_by_name.items():
        try:
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            out[name] = (sorted(cols), canon(cur.fetchall(), cols))
        except Exception as e:  # a failing oracle fails the query's check
            out[name] = f"duckdb error: {str(e)[:160]}"
    return out


def compare(con, want, dump_dir, name):
    """None when the dump matches, else one line saying why not."""
    w = want.get(name)
    if w is None:
        return f"{name}: no oracle"
    if isinstance(w, str):
        return f"{name}: {w}"
    path = os.path.join(dump_dir, name)
    if not os.path.isdir(path):
        return f"{name}: no captured result"
    cur = con.execute(f"SELECT * FROM '{path}/*.parquet'")
    cols = [d[0] for d in cur.description]
    if sorted(cols) != w[0]:
        return f"{name}: columns {sorted(cols)} != {w[0]}"
    got = canon(cur.fetchall(), cols)
    if got != w[1]:
        return f"{name}: {len(got)} rows != {len(w[1])} oracle rows or values differ"
    return None


def check(data_dir, dump_dir, names):
    """(attempted, failed, notes) for the captured results of `names`."""
    with open(os.path.join(dump_dir, "oracle_sql.json")) as fh:
        sql = json.load(fh)
    con = connect(data_dir)
    want = expected(con, {n: sql[n] for n in names if n in sql})
    notes = [bad for bad in (compare(con, want, dump_dir, n) for n in names) if bad]
    return len(names), len(notes), notes


def self_check(tmp_dir):
    """The compare must pass a faithful dump and flag a changed, a missing and
    an extra row; returns the number of faults it missed."""
    os.makedirs(tmp_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT range AS id, range * 0.5 AS v FROM range(5)")
    sql = "SELECT id, v FROM t"
    want = expected(con, {"q": sql})
    dumps = {
        "same": "SELECT v, id FROM t",
        "changed": "SELECT id, CASE WHEN id = 2 THEN v + 1 ELSE v END AS v FROM t",
        "missing": "SELECT id, v FROM t WHERE id <> 4",
        "extra": "SELECT id, v FROM t UNION ALL SELECT 9, 1.0",
    }
    missed = 0
    for case, q in dumps.items():
        d = os.path.join(tmp_dir, case, "q")
        os.makedirs(d, exist_ok=True)
        con.execute(f"COPY ({q}) TO '{d}/part-0.parquet' (FORMAT parquet)")
        bad = compare(con, want, os.path.join(tmp_dir, case), "q")
        if (bad is None) != (case == "same"):
            missed += 1
    return missed
