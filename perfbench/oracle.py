"""Expected results of the benchmark's ops, from DuckDB.

Each op's `Op.oracle` SQL runs in DuckDB over the same parquet tables,
with the views tools/check.py creates. The result is written as
`<op>.json` in the form perfbench/src/Check.scala compares against:
column names lower-cased and sorted, numbers as floats, timestamps as
UTC wall-clock text, and under "wide" the output columns DuckDB types
HUGEINT or DECIMAL, which tools/check.py rejects. Results are cached per
data directory and recomputed when an op's SQL changes.
"""
import datetime
import decimal
import hashlib
import json
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        if math.isinf(f):
            return "Infinity" if f > 0 else "-Infinity"
        return f
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return {str(k): canon(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    return str(v)


def wide_columns(con, sql, names, rows):
    """The HUGEINT/DECIMAL output columns of `sql`, from DESCRIBE as in
    tools/check.py; where DESCRIBE fails, the columns holding Decimals."""
    try:
        return sorted(c.lower() for (c, t, *_) in con.execute(f"DESCRIBE {sql}").fetchall()
                      if t.startswith(("HUGEINT", "UHUGEINT", "DECIMAL")))
    except Exception:
        return sorted({names[i] for r in rows for i, x in enumerate(r)
                       if isinstance(x, decimal.Decimal)})


def data_key(data):
    h = hashlib.sha256(os.path.abspath(data).encode())
    for t in TABLES:
        st = os.stat(os.path.join(data, f"{t}.parquet"))
        h.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def ensure(oracles, data, cache_root, threads):
    """Make `<cache>/<op>.json` for every op in `oracles` ({op: sql});
    return the cache directory."""
    out = os.path.join(cache_root, data_key(data))
    os.makedirs(out, exist_ok=True)
    con = None
    for op, sql in oracles.items():
        sql_hash = hashlib.sha256(("wide\n" + sql).encode()).hexdigest()
        path = os.path.join(out, f"{op}.json")
        stamp = os.path.join(out, f"{op}.sql.sha256")
        if os.path.exists(path) and os.path.exists(stamp) and open(stamp).read() == sql_hash:
            continue
        if con is None:
            import duckdb
            con = duckdb.connect()
            con.execute(f"SET threads = {int(threads)}")
            con.execute(f"SET temp_directory = '{os.path.join(cache_root, 'duckdb_tmp')}'")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(data, t)}.parquet')")
        res = con.execute(sql)
        names = [d[0].lower() for d in res.description]
        order = sorted(range(len(names)), key=lambda i: names[i])
        fetched = res.fetchall()
        rows = [[canon(r[i]) for i in order] for r in fetched]
        wide = wide_columns(con, sql, names, fetched)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"columns": [names[i] for i in order], "rows": rows, "wide": wide}, f)
        os.replace(tmp, path)
        with open(stamp, "w") as f:
            f.write(sql_hash)
    if con is not None:
        con.close()
    return out
