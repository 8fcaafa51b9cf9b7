#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

Usage: python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run

1. builds the program and the harness from the checkout's sources with
   sbt, unless the build stamp under .bench_build/ still matches them;
2. checks the input tables against the checksums in workloads.json
   (the ×8 replica is built once per checkout, then checked the same
   way) and refuses to run on a mismatch;
3. starts a fresh JVM that sets the workload up (session, a warm-up
   pass that also writes every result, one untimed pass) and then runs
   the timed closed loop for S seconds (harness/src/main/scala/graft/perfbench);
4. hashes every query result of the warm-up pass and compares it with
   the DuckDB oracle hash in oracle_hashes.json;
5. prints a summary line with every metric and the sample counts, then
   the result as one JSON line: end-to-end metrics with --trace 0,
   per-layer metrics with --trace 1. A traced run also leaves its
   per-query counters under .bench_build/perfbench/traces/ for
   counter_diff.py.

Every file the run writes stays under .bench_build/ in the checkout;
java.io.tmpdir and spark.local.dir point there too.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

JVM_TIMEOUT_S = 150   # a run must end within 180 s
# A fixed heap and young generation keep peak_rss_mb (VmHWM) steady: with
# heap sizing taken out, G1's peak footprint varied by 20% from run to run.
HEAP = "3g"
YOUNG = "1g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
MB = 1e6


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


# ---------------------------------------------------------------- build

def source_files():
    """Every file the build reads from the checkout, in a fixed order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]:
        for d, dirs, names in os.walk(base):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def build():
    """The harness classpath, rebuilding when any source changed."""
    files = source_files()
    missing = [f for f in files[:4] + [os.path.join(ROOT, "src", "main", "scala",
                                                    "graft", "SparkEntry.scala")]
               if not os.path.isfile(f)]
    if missing:
        fail("not a graft checkout: missing " + ", ".join(os.path.relpath(m, ROOT) for m in missing))
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0" + open(f, "rb").read())
    digest = h.hexdigest()
    stamp, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    if os.path.isfile(stamp) and open(stamp).read() == digest and os.path.isfile(cp_file):
        return open(cp_file).read()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=out,
                           stdin=subprocess.DEVNULL, text=True, timeout=840)
        out.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if ".jar" in l and os.pathsep in l]
    if r.returncode != 0 or not lines:
        fail(f"build failed (exit {r.returncode}); see {os.path.relpath(log, ROOT)}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1].strip()


# ---------------------------------------------------------------- inputs

def check_tables(table_dir, checksums):
    for name, want in sorted(checksums.items()):
        path = os.path.join(table_dir, name)
        if not os.path.isfile(path):
            return f"{name} is missing"
        if sha256(path) != want:
            return f"{name} differs from its recorded checksum"
    return None


def tables(context, dataset):
    """The directory of a dataset's tables, checked against its checksums."""
    spec = context["datasets"][dataset]
    if "replica_of" not in spec:
        table_dir = os.path.join(HERE, spec["dir"])
    else:
        table_dir = os.path.join(WORK, "data", dataset)
        if not os.path.isfile(os.path.join(table_dir, ".complete")):
            from replicate import replicate
            base = tables(context, spec["replica_of"])
            staging = table_dir + ".partial"
            shutil.rmtree(staging, ignore_errors=True)
            replicate(base, staging, spec["factor"])
            open(os.path.join(staging, ".complete"), "w").close()
            shutil.rmtree(table_dir, ignore_errors=True)
            os.rename(staging, table_dir)
    problem = check_tables(table_dir, spec["sha256"])
    if problem:
        fail(f"refusing to run: {dataset} input {problem}", 3)
    return table_dir


# ---------------------------------------------------------------- one JVM

def launch(cp, wl, cores, table_dir, seed, seconds, trace, scratch):
    """Run the harness in a fresh JVM; return its record."""
    tmp = os.path.join(scratch, "tmp")
    results = os.path.join(scratch, "results")
    out = os.path.join(scratch, "record.json")
    os.makedirs(tmp)
    os.makedirs(results)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-XX:-UsePerfData",  # no hsperfdata file outside the checkout
              f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              f"-Dspark.hadoop.hadoop.tmp.dir={tmp}/hadoop",
              "-cp", cp, "graft.perfbench.Harness",
              "--queries", ",".join(wl["queries"]), "--data", table_dir,
              "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
              "--cores", str(cores), "--results", results, "--out", out])
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # it would override spark.local.dir
    with open(os.path.join(scratch, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=log, stderr=log,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness JVM timed out after {JVM_TIMEOUT_S} s")
        finally:  # also on SIGTERM: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0 or not os.path.isfile(out):
        tail = open(os.path.join(scratch, "jvm.log"), errors="replace").read()[-3000:]
        fail(f"harness JVM exited with {code}\n{tail}")
    record = json.load(open(out))
    record["result_hashes"] = result_hashes(results, wl["queries"])
    return record


def result_hashes(results, queries):
    import duckdb
    from canon import digest
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    hashes = {}
    for q in queries:
        path = os.path.join(results, q)
        if os.path.isdir(path):
            hashes[q] = digest(con.execute(f"SELECT * FROM '{path}/*.parquet'"))
    con.close()
    return hashes


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    """Percentile with linear interpolation between the closest ranks."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def latencies(loop, query=None):
    """Seconds from build call to finished write, per timed execution."""
    return [e["end"] - e["build_start"] for e in loop["execs"]
            if query in (None, e["query"])]


def end_to_end(loop):
    lat = latencies(loop)
    passes = loop["passes"]
    return {
        "setup_s": (loop["setup"]["total_s"], "s"),
        "wall_s": (median([p["wall_s"] for p in passes]), "s"),
        "query_p50_s": (percentile(lat, 50), "s"),
        "query_p90_s": (percentile(lat, 90), "s"),
        "cpu_s": (median([p["cpu_s"] for p in passes]), "s"),
        "write_mb": (median([p["wchar"] for p in passes]) / MB, "MB"),
        "peak_rss_mb": (loop["vm_hwm_kb"] * 1024 / MB, "MB"),
    }


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    context_file = os.path.join(HERE, "workloads.json")
    if not os.path.isfile(context_file):
        fail("workloads.json is missing")
    context = json.load(open(context_file))
    if args.workload not in context["workloads"]:
        fail(f"unknown workload {args.workload!r}")
    wl = context["workloads"][args.workload]
    cp = build()
    table_dir = tables(context, wl["dataset"])
    oracle = json.load(open(os.path.join(HERE, "oracle_hashes.json")))[wl["dataset"]]

    cores = len(os.sched_getaffinity(0))
    scratch = os.path.join(WORK, "runs", str(os.getpid()))
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    try:
        loop = launch(cp, wl, cores, table_dir, args.seed, args.seconds, args.trace, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    attempted = len(loop["execs"]) + len(wl["queries"])
    failed = sum(not e["ok"] for e in loop["execs"]) + len(loop["warmup_failures"])
    wrong = sorted(q for q in wl["queries"] if q not in loop["warmup_failures"]
                   and loop["result_hashes"].get(q) != oracle.get(q))
    expected_wrong = sorted(wl.get("oracle_rejected", []))

    e2e = end_to_end(loop)
    summary = {name: {"value": v, "unit": u} for name, (v, u) in e2e.items()}
    summary["failed_frac"] = {"value": failed / attempted, "unit": "fraction"}
    summary["wrong_results"] = {"value": len(wrong), "unit": "count"}
    lat = latencies(loop)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "metrics": summary,
                      "latency_samples": len(lat),
                      "samples_above_p90": sum(x > e2e["query_p90_s"][0] for x in lat),
                      "passes": len(loop["passes"]),
                      "query_median_s": {q: median(latencies(loop, q)) for q in wl["queries"]},
                      "warmup_s": loop["warmup_s_by_query"], "wrong": wrong,
                      "expected_wrong": expected_wrong,
                      "failures": {**loop["warmup_failures"], **loop["failures"]}}))
    if args.trace:
        import layers
        per_layer, per_query = layers.per_layer(loop, cores)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}-{int(time.time())}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "per_layer": metrics,
                       "queries": per_query}, f, indent=1, sort_keys=True)
    else:
        metrics = {k: summary[k] for k in e2e}
    print(json.dumps({"correct": wrong == expected_wrong and failed == 0,
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
