"""The ×N replica of the base tables (same scheme as tools/replicate.py).

Copy k of each fact table shifts its primary key by k * (max key + 1);
lineitem and orders share the order-key offset so joins stay
consistent; documents and embeddings keep their payloads, so every
text and vector appears N times. Dimension tables are copied as they
are. With the same DuckDB version the output is byte-identical from
build to build, which the checksums in workloads.json pin.

Usage: python3 perfbench/replicate.py <baseDir> <outDir> <factor>
"""
import os
import sys

FACTS = [("orders", "o_orderkey", "orders"), ("lineitem", "l_orderkey", "orders"),
         ("events", "event_id", "events"), ("documents", "doc_id", "documents"),
         ("embeddings", "vec_id", "embeddings")]
KEYS = {"orders": "o_orderkey", "events": "event_id", "documents": "doc_id",
        "embeddings": "vec_id"}


def replicate(base, out, factor):
    import duckdb
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 1")  # one writer thread: deterministic row groups
    for t in ["region", "nation", "customer", "supplier", "part"]:
        con.execute(f"COPY (SELECT * FROM '{base}/{t}.parquet') "
                    f"TO '{out}/{t}.parquet' (FORMAT PARQUET)")
    offset = {src: con.sql(f"SELECT max({key}) + 1 FROM '{base}/{src}.parquet'").fetchone()[0]
              for src, key in KEYS.items()}
    for table, key, src in FACTS:
        copies = " UNION ALL ".join(
            f"SELECT {key} + {k} * {offset[src]} AS {key}, * EXCLUDE ({key}) "
            f"FROM '{base}/{table}.parquet'" for k in range(factor))
        con.execute(f"COPY ({copies}) TO '{out}/{table}.parquet' (FORMAT PARQUET)")
    con.close()


if __name__ == "__main__":
    replicate(sys.argv[1], sys.argv[2], int(sys.argv[3]))
