#!/usr/bin/env python3
"""Full-output benchmark of graft's declared queries.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the library and the JVM harness from source on first use, runs the
workload's queries in a closed loop (one client, one query at a time) to
full output through Spark's noop sink, checks every query's output against
the references in refs/, and prints one metrics line per metric followed by
one JSON object as the last line. --trace 1 also writes the per-query
layer record to perfbench/out/. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import metrics
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
CPUS = os.cpu_count()

# Module opens Spark needs on JDK 17 outside spark-submit (the library's
# build.sbt passes the same list to its forked runs).
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]

# JVMs whose set-up time a run samples: set-up-only JVMs plus the measuring
# one; setup_s is their median.
SETUP_SAMPLES = 2

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "query_p50_s": "s", "query_tail_s": "s",
             "ok_frac": "ratio", "cache_mb": "MB"}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_inputs():
    """Files whose change requires a rebuild."""
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    return sorted(files)


def classpath():
    """Compile with sbt when sources changed; return the runtime classpath."""
    for f in (os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.isfile(f):
            die(f"library source missing ({os.path.relpath(f, ROOT)}); run from a full checkout")
    h = hashlib.sha256()
    for f in build_inputs():
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    stamp = h.hexdigest()
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as lf:
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                           cwd=HERE, stdout=subprocess.PIPE, stderr=lf, text=True, timeout=850)
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        die(f"build failed, see {os.path.relpath(log, ROOT)}")
    open(cp_file, "w").write(lines[-1].strip())
    open(stamp_file, "w").write(stamp)
    return lines[-1].strip()


def jvm(cp, args, tag):
    """Run the harness in a fresh JVM; return its JSON result."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(WORK, f"{tag}.json")
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}"]
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", "--work", WORK, "--out", out] + args
    with open(os.path.join(WORK, f"{tag}.log"), "w") as lf:
        p = subprocess.run(cmd, cwd=WORK, stdout=lf, stderr=subprocess.STDOUT, timeout=170)
    if p.returncode != 0:
        with open(os.path.join(WORK, f"{tag}.log")) as lf:
            sys.stderr.write("".join(lf.readlines()[-30:]))
        die(f"harness exited with {p.returncode}")
    with open(out) as f:
        return json.load(f)


def fresh_work():
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)


def check(checks, refs):
    """Names of queries whose check pass threw or disagreed with refs."""
    bad = {}
    loose = set(refs.get("row_count_only", []))
    for c in checks:
        ref = refs["queries"].get(c["name"])
        if "error" in c:
            bad[c["name"]] = c["error"]
        elif ref is None:
            bad[c["name"]] = "no reference"
        elif c["rows"] != ref["rows"]:
            bad[c["name"]] = f"rows {c['rows']} != {ref['rows']}"
        elif c["name"] not in loose and c["hash"] != ref["hash"]:
            bad[c["name"]] = "hash differs"
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", help="override the workload's input (smoke tests)")
    ap.add_argument("--queries", help="override the workload's query list (smoke tests)")
    a = ap.parse_args()
    if a.workload not in workloads.WORKLOADS:
        die(f"unknown workload {a.workload}; known: {', '.join(workloads.WORKLOADS)}")
    w = workloads.WORKLOADS[a.workload]
    sf = a.sf or w["sf"]
    names = a.queries.split(",") if a.queries else w["queries"]
    data = os.path.join(HERE, "data", sf)
    if not os.path.isfile(os.path.join(data, "lineitem.parquet")):
        die(f"input {os.path.relpath(data, ROOT)} missing")
    cp = classpath()
    fresh_work()
    common = ["--sf", data, "--cpus", str(CPUS), "--seed", str(a.seed)]
    run = ["--queries", ",".join(names), "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--min-passes", str(workloads.MIN_PASSES), "--warm-passes", str(w["warm_passes"])]
    setups = [jvm(cp, common + ["--mode", "setup"], f"setup{i}")["setup_s"]
              for i in range(SETUP_SAMPLES - 1)]
    result = jvm(cp, common + run + ["--mode", "warm"], "warm")
    setups.append(result["setup_s"])
    with open(os.path.join(HERE, "refs", f"{sf}.json")) as f:
        refs = json.load(f)
    report(a, names, result, setups, refs)


def report(a, names, result, setups, refs):
    recs = result["queries"]
    bad = check(result["checks"], refs)
    for q in recs:
        if "error" in q:
            bad.setdefault(q["name"], q["error"])
    layer = layers(a, result, refs, bad) if a.trace else None
    failed = sum(1 for q in recs if q["name"] in bad)
    lat = [(q["t3"] - q["t0"]) / 1e3 for q in recs if "error" not in q]
    passes = {}
    for q in recs:
        passes[q["pass"]] = passes.get(q["pass"], 0.0) + (q["t3"] - q["t0"]) / 1e3
    # The percentile follows from the sample count every run reaches, not
    # from this run's, so it stays the same from run to run.
    p, n_beyond = metrics.tail_percentile(workloads.MIN_PASSES * len(names))
    e2e = {
        "setup_s": statistics.median(setups),
        "pass_s": statistics.median(passes.values()),
        "query_p50_s": statistics.median(lat) if lat else 0.0,
        "query_tail_s": metrics.percentile(lat, p) if lat else 0.0,
        "ok_frac": 1 - failed / max(1, len(recs)),
        "cache_mb": result["cache_mb"],
    }
    for name, why in sorted(bad.items()):
        print(f"FAILED {name}: {why}")
    print(f"workload={a.workload} seed={a.seed} cpus={CPUS} queries={len(names)} "
          f"passes={len(passes)} samples={len(lat)} setup_samples={len(setups)}")
    print(f"failed_frac {failed / max(1, len(recs)):.4f} ratio")
    for k, v in e2e.items():
        extra = (f"  (p{p:g}, {len(lat)} samples, at least {n_beyond} beyond)"
                 if k == "query_tail_s" else "")
        print(f"{k} {v:.6g} {E2E_UNITS[k]}{extra}")
    if a.trace:
        out = {k: {"value": v, "unit": metrics.LAYER_UNITS[k]} for k, v in layer.items()}
    else:
        out = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": not bad, "attempted": max(1, len(recs)), "failed": failed,
                      "metrics": out}))


def layers(a, result, refs, bad):
    """Per-layer metrics of a traced run; also writes the per-query record.
    Adds a query to `bad` when the rows reaching the sink differ from its
    reference row count."""
    tr = result["trace"]
    done = [q for q in result["queries"] if "error" not in q]
    tied = metrics.attribute(done, tr["jobs"], tr["stages"])
    check_s = {c["name"]: (c["t2"] - c["t0"]) / 1e3 for c in result["checks"]}
    rows = []
    for q in done:
        row = metrics.query_layers(q, *tied[id(q)], CPUS)
        row.update(name=q["name"], pass_index=q["pass"], check_s=check_s.get(q["name"]))
        row[f"family.{metrics.family(q['name'])}.s"] = row["exec.execute_s"]
        row["tables.rows_per_output_row"] = (row["tables.scan_rows"] / row["sink.output_rows"]
                                             if row["sink.output_rows"] else 0.0)
        ref = refs["queries"].get(q["name"])
        if ref is not None and row["sink.output_rows"] != ref["rows"]:
            bad.setdefault(q["name"], f"sink rows {row['sink.output_rows']} != {ref['rows']}")
        rows.append(row)
    per_pass = []
    for p in sorted({x["pass_index"] for x in rows}):
        tot = metrics.pass_layers([x for x in rows if x["pass_index"] == p], CPUS)
        tot.update({"memo.build_s": result["memo_build_s"], "memo.cached_mb": result["cache_mb"],
                    "memo.block_drops": tr["block_drops"]})
        per_pass.append(tot)
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, f"{a.workload}_seed{a.seed}_c{CPUS}.json")
    run_totals = {"load_start": result["load_start"], "load_end": result["load_end"],
                  **{k: per_pass[0][k] for k in ("memo.build_s", "memo.cached_mb", "memo.block_drops")}}
    with open(path, "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "cpus": CPUS, **run_totals,
                   "rows": [{**x, **run_totals} for x in rows]}, f, indent=1)
    for n in sorted({x["name"] for x in rows if x["plans.cached_relations"] == 0
                     and x["plans.initial_shuffles"] != x["plans.text_shuffles"]}):
        x = next(y for y in rows if y["name"] == n)
        print(f"plan-shape diff {n}: tree={x['plans.initial_shuffles']} text={x['plans.text_shuffles']}")
    print(f"per-query record: {os.path.relpath(path, ROOT)}")
    return metrics.median_over_passes(per_pass)


if __name__ == "__main__":
    main()
