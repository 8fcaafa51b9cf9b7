#!/usr/bin/env python3
"""Compares the counters of two traced runs, query by query.

Usage:
  python3 perfbench/counter_diff.py BASE.json NEW.json
      Flags every query whose jobs, stages, tasks, plan exchanges or
      scans, shuffle bytes or output bytes rose from BASE to NEW, in
      either phase, whatever the wall time says: a rise is every
      execution in NEW above every execution in BASE, so a counter that
      varies from pass to pass is not flagged for noise. Exits 1 if any
      rose.
  python3 perfbench/counter_diff.py --stability RUN1.json RUN2.json
      Given two traced runs of the same commit, marks each per-layer
      metric "exact" (same value in both) or "varying", and each
      per-query counter the same way across every execution of both.

The inputs are the files a traced run (run.py --trace 1) leaves under
.bench_build/perfbench/traces/.
"""
import json
import sys

from layers import COUNTERS

RISE_COUNTERS = ["jobs", "stages", "tasks", "exchanges", "broadcasts", "scans",
                 "shuffle_write_bytes", "shuffle_read_bytes", "output_bytes"]


def diff(base, new):
    rises = []
    for q in sorted(set(base["queries"]) | set(new["queries"])):
        if q not in base["queries"] or q not in new["queries"]:
            print(f"{q:32s} only in {'NEW' if q in new['queries'] else 'BASE'}")
            continue
        for phase in ("build", "exec"):
            for k in RISE_COUNTERS:
                a = [r[phase][k] for r in base["queries"][q]["runs"]]
                b = [r[phase][k] for r in new["queries"][q]["runs"]]
                if min(b) > max(a):
                    rises.append((q, phase, k))
                    print(f"RISE  {q:32s} {phase:5s} {k:20s} {max(a):>14} -> {min(b):>14}")
                elif max(b) < min(a):
                    print(f"drop  {q:32s} {phase:5s} {k:20s} {min(a):>14} -> {max(b):>14}")
    print(f"{len(rises)} counter rise(s)")
    return 1 if rises else 0


def stability(r1, r2):
    layer = {k: "exact" if r2["per_layer"].get(k, {}).get("value") == v["value"] else "varying"
             for k, v in r1["per_layer"].items()}

    def seen(q, phase, k):
        runs = r1["queries"][q]["runs"] + r2["queries"].get(q, {}).get("runs", [])
        return {r[phase][k] for r in runs}
    varying = {k: sorted({q for q in r1["queries"] for phase in ("build", "exec")
                          if len(seen(q, phase, k)) > 1})
               for k in COUNTERS}
    print(json.dumps({"per_layer": layer,
                      "per_query_counters": {k: "varying" if qs else "exact"
                                             for k, qs in varying.items()},
                      "varying_queries": {k: qs for k, qs in varying.items() if qs}},
                     indent=1, sort_keys=True))
    return 0


def main(argv):
    if len(argv) == 3 and argv[0] == "--stability":
        return stability(json.load(open(argv[1])), json.load(open(argv[2])))
    if len(argv) == 2:
        return diff(json.load(open(argv[0])), json.load(open(argv[1])))
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
