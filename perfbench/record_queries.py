#!/usr/bin/env python3
"""Records the expected output of each query-suite query.

    python3 perfbench/record_queries.py

Runs the suite over the fixed query-suite data (a first and a measured
pass) and rewrites expected_queries.json with each query's row count and row
digest. Record only from a commit whose outputs the DuckDB oracle
(tools/check_oracle.py over graft.Verify's dump) reports as MATCH: the
file is the benchmark's stand-in for that oracle. A query whose digest
differs between the first and the measured pass, or that is listed in MEASURED, keeps only
its row count.
"""

import json
import sys

import run

# Outputs that hold measured values or depend on the core count.
MEASURED = {
    "p04_lineage": "counts Spark partitions, which follow the core count",
    "p16_parse_latency": "reports measured parse latencies",
}


def main():
    with open(run.EXPECTED_QUERIES) as f:
        names = sorted(json.load(f))
    classes, _ = run.build()
    raw = run.run_workload(classes, "query-suite", 0, 0.001, "", 0, False, names,
                           float("inf"))
    first, warm = [r["rep"] for r in raw["run"]["reps"][:2]]
    expected = {}
    for name in names:
        a, b = first["queries"][name], warm["queries"][name]
        if not (a["ok"] and b["ok"]) or a["rows"] != b["rows"]:
            sys.exit(f"{name}: failed or unstable, nothing recorded: {a} {b}")
        stable = a["digest"] == b["digest"] and name not in MEASURED
        expected[name] = {"rows": a["rows"], "digest": a["digest"] if stable else None}
        print(name, expected[name])
    with open(run.EXPECTED_QUERIES, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
