#!/usr/bin/env python3
"""Refresh perfbench/golden.json: the fingerprint of every query in every
workload mix, per data directory, computed by perfbench.Harness dump.

    python3 perfbench/golden.py [--oracle-dir DIR]

With --oracle-dir, the outputs are also written as parquet under DIR with
their oracle SQL, so that the fingerprinted frames can be checked against
DuckDB before the fingerprints are committed:

    python3 tools/check_oracle.py perfbench/data/sf0.1 DIR
"""

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import lib  # noqa: E402
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--oracle-dir")
    a = ap.parse_args()
    classpath, _, _ = run.build()
    by_data = {}
    for spec in run.WORKLOADS.values():
        by_data.setdefault(spec["data"], set()).update(lib.mix(spec))
    golden = {}
    for data, names in sorted(by_data.items()):
        out = os.path.join(run.WORK, "raw", f"golden-{data}.json")
        dump_dir = os.path.abspath(a.oracle_dir) if a.oracle_dir else "-"
        run.java(classpath, ["perfbench.Harness", "dump", out, os.path.join(run.HERE, "data", data),
                             dump_dir, ",".join(sorted(names))],
                 os.path.join(run.WORK, f"tmp-golden-{os.getpid()}"))
        with open(out) as f:
            rows = json.load(f)["ops"]
        failed = [r for r in rows if r["fingerprint"] is None]
        for r in failed:
            run.log(f"{r['name']} failed on {data}: {r['error']}")
        if failed:
            sys.exit(1)
        golden[data] = {r["name"]: r["fingerprint"] for r in rows}
    with open(os.path.join(run.HERE, "golden.json"), "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
