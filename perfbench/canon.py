"""Canonical result hashes, shared by make_oracle.py and run.py.

A result is canonicalized the way tools/check_oracle.py compares
results: columns sorted by name, rows sorted, values exact. Values that
compare equal in Python (1, 1.0 and Decimal("1.00")) render the same,
so a graft result read back from parquet and a DuckDB oracle result
hash alike exactly when check_oracle.py would call them equal.
"""
import datetime
import decimal
import hashlib
import math

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def value(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "b:" + str(v)
    if isinstance(v, float) and math.isnan(v):
        return "n:nan"
    if isinstance(v, (int, float, decimal.Decimal)):
        if isinstance(v, float) and math.isinf(v):
            return "n:" + str(v)
        d = decimal.Decimal(v).normalize()
        return "n:" + ("0" if d.is_zero() else format(d, "f"))
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return "t:" + v.isoformat()
    if isinstance(v, datetime.timedelta):
        return "d:" + str(v.total_seconds())
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x:" + bytes(v).hex()
    if isinstance(v, str):
        return "s:" + repr(v)
    if isinstance(v, dict):
        return "{" + ",".join(value(k) + "=" + value(x)
                              for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    return "o:" + repr(v)


def digest(cursor):
    """Hash of a DuckDB cursor's result (columns by name, rows sorted)."""
    cols = [d[0] for d in cursor.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted("|".join(value(r[i]) for i in order) for r in cursor.fetchall())
    h = hashlib.sha256()
    h.update(("\x1f".join(cols[i] for i in order) + "\n").encode())
    for r in rows:
        h.update(r.encode() + b"\n")
    return f"{len(rows)}:{h.hexdigest()[:32]}"


def connect(table_dir):
    """A DuckDB connection with the benchmark tables as views."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
    return con
