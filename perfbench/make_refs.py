#!/usr/bin/env python3
"""Regenerate refs/<sf>.json: row count and order-independent hash of every
query the workloads (and the sf0.001 smoke lists) run, taken from two check
passes that differ in core count and query order. A query whose hash differs
between the two is checked on row count only and listed in row_count_only.

    python3 perfbench/make_refs.py
"""
import json
import os

import run
import workloads


def checks(cp, sf, names, cpus, seed):
    r = run.jvm(cp, ["--sf", os.path.join(run.HERE, "data", sf), "--cpus", str(cpus),
                     "--seed", str(seed), "--queries", ",".join(names), "--mode", "check"],
                f"check_{sf}_c{cpus}")
    bad = [c for c in r["checks"] if "error" in c]
    if bad:
        raise SystemExit(f"{sf}: check pass failed: {bad}")
    return {c["name"]: c for c in r["checks"]}


def main():
    cp = run.classpath()
    run.fresh_work()
    by_sf = {}
    for w in workloads.WORKLOADS.values():
        by_sf.setdefault(w["sf"], set()).update(w["queries"])
    for names in workloads.SMOKE_QUERIES.values():
        by_sf.setdefault(workloads.SMOKE_SF, set()).update(names)
    os.makedirs(os.path.join(run.HERE, "refs"), exist_ok=True)
    for sf, names in sorted(by_sf.items()):
        names = sorted(names)
        a, b = checks(cp, sf, names, 4, 1), checks(cp, sf, names, 2, 2)
        for n in names:
            if a[n]["rows"] != b[n]["rows"]:
                raise SystemExit(f"{sf} {n}: row count differs between runs")
        loose = [n for n in names if a[n]["hash"] != b[n]["hash"]]
        refs = {"queries": {n: {"rows": a[n]["rows"], "hash": a[n]["hash"]} for n in names},
                "row_count_only": loose}
        with open(os.path.join(run.HERE, "refs", f"{sf}.json"), "w") as f:
            json.dump(refs, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"{sf}: {len(names)} queries, row count only: {loose}")


if __name__ == "__main__":
    main()
