#!/usr/bin/env python3
"""Records the benchmark's reference data in perfbench/.

Usage: python3 perfbench/make_oracle.py

For every dataset in workloads.json it writes each table's checksum,
rows, bytes and parquet row groups back into workloads.json, and for
every workload query it runs `SparkEntry.oracleSql` in DuckDB over the
workload's dataset and stores the canonical result hash in
oracle_hashes.json. run.py compares graft's results with these hashes
and refuses inputs whose checksums differ. Run it once, from the root
of a checkout, only when the reference data must change: the hashes
stand for the correct answers, whatever the program under test says.
"""
import json
import os
import shutil
import subprocess
import tempfile

import run
from canon import connect, digest
from replicate import replicate


def table_stats(table_dir):
    import pyarrow.parquet as pq
    stats, sums = {}, {}
    for name in sorted(os.listdir(table_dir)):
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(table_dir, name)
        meta = pq.ParquetFile(path).metadata
        stats[name] = {"rows": meta.num_rows, "bytes": os.path.getsize(path),
                       "row_groups": meta.num_row_groups}
        sums[name] = run.sha256(path)
    return stats, sums


def oracle_sql(queries):
    cp = run.build()
    with tempfile.TemporaryDirectory(dir=run.WORK) as d:
        out = os.path.join(d, "oracle.json")
        subprocess.run(["java", "-cp", cp, "graft.perfbench.Harness",
                        "--oracle-sql", ",".join(queries), "--out", out], check=True)
        return json.load(open(out))


def main():
    path = os.path.join(run.HERE, "workloads.json")
    context = json.load(open(path))
    for name, spec in context["datasets"].items():
        if "replica_of" in spec:
            base = os.path.join(run.HERE, context["datasets"][spec["replica_of"]]["dir"])
            table_dir = os.path.join(run.WORK, "data", name)
            shutil.rmtree(table_dir, ignore_errors=True)
            replicate(base, table_dir, spec["factor"])
            open(os.path.join(table_dir, ".complete"), "w").close()
        else:
            table_dir = os.path.join(run.HERE, spec["dir"])
        spec["tables"], spec["sha256"] = table_stats(table_dir)
        spec["_dir"] = table_dir

    queries = sorted({q for w in context["workloads"].values() for q in w["queries"]})
    sql = oracle_sql(queries)
    hashes = {}
    for name, spec in context["datasets"].items():
        con = connect(spec.pop("_dir"))
        used = sorted({q for w in context["workloads"].values()
                       if w["dataset"] == name for q in w["queries"]})
        hashes[name] = {}
        for q in used:
            if sql.get(q) is None:
                raise SystemExit(f"{q} has no oracle SQL")
            hashes[name][q] = digest(con.execute(sql[q]))
        con.close()
    with open(os.path.join(run.HERE, "oracle_hashes.json"), "w") as f:
        json.dump(hashes, f, indent=1, sort_keys=True)
        f.write("\n")
    with open(path, "w") as f:
        json.dump(context, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
