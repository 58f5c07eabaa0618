"""Metric arithmetic of the benchmark: pure functions over the raw JSON the
JVM harness writes. Kept apart from run.py so tests can check it alone."""
import math
import statistics

# Percentiles the tail metric may report, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

# Query-name prefixes reported as family.<prefix>.s; anything else is "other".
FAMILIES = ("agg", "dedup", "eval", "evt", "fn", "graph", "infer", "join", "mm",
            "scan", "sim", "sql", "stream", "text", "win")


def beyond(n, p):
    """Samples strictly above the nearest-rank p-th percentile of n samples."""
    return n - math.ceil(p * n / 100.0)


def tail_percentile(n):
    """The highest percentile of TAIL_LADDER with at least ten of n samples
    beyond it, and that count. Below 20 samples no rung qualifies; the
    median is reported then, with its (smaller) count."""
    for p in TAIL_LADDER:
        if beyond(n, p) >= 10:
            return p, beyond(n, p)
    return 50.0, beyond(n, 50.0)


def percentile(values, p):
    """Nearest-rank percentile."""
    xs = sorted(values)
    return xs[max(0, math.ceil(p * len(xs) / 100.0) - 1)]


def union(intervals):
    """Merge (start, end) intervals into disjoint, sorted ones."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def length(intervals):
    return sum(e - s for s, e in union(intervals))


def clip(intervals, within):
    lo, hi = within
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_time(parent, children):
    """A span's duration minus the part of it that its children cover.
    Overlapping children are counted once."""
    return (parent[1] - parent[0]) - length(clip(children, parent))


def family(name):
    prefix = name.split("_", 1)[0]
    return prefix if prefix in FAMILIES else "other"


def query_layers(rec, jobs, stages, cpus):
    """Per-layer numbers of one timed query execution.

    rec: the harness record (t0 build start, t1 write start, t2 end of the
    write's planning, t3 end; epoch ms). jobs: listener jobs tied to this execution.
    stages: completed stages of those jobs. Times in the result are seconds.
    """
    t0, t1, t2, t3 = rec["t0"], rec["t1"], rec["t2"], rec["t3"]
    phases = {"build": (t0, t1), "plan": (t1, t2), "execute": (t2, t3)}
    by_job = {}
    for st in stages:
        by_job.setdefault(st["job"], []).append(st)
    span = {j["id"]: (j["start"], j.get("end", t3)) for j in jobs}
    row = {}
    job_self = stage_time = 0.0
    for ph, iv in phases.items():
        last = ph == "execute"
        ph_jobs = [j for j in jobs if iv[0] <= j["start"] < iv[1] or (last and j["start"] == iv[1])]
        job_iv = [span[j["id"]] for j in ph_jobs]
        st_iv = [(s["submit"], s["complete"]) for j in ph_jobs for s in by_job.get(j["id"], [])]
        row[f"self.{ph}_s"] = self_time(iv, job_iv) / 1e3
        for m in union(clip(job_iv, iv)):
            job_self += self_time(m, st_iv)
            stage_time += length(clip(st_iv, m))
    row["self.query_s"] = self_time((t0, t3), list(phases.values())) / 1e3
    row["self.job_s"] = job_self / 1e3
    row["self.stage_s"] = stage_time / 1e3
    n_build_jobs = sum(1 for j in jobs if t0 <= j["start"] < t1)
    tasks = sum(s["tasks_done"] for s in stages)
    task_s = sum(s["task_s"] for s in stages)
    out_rows = rec.get("sink_rows", 0)
    scan_rows = sum(s["input_rows"] for s in stages)
    stage_wall = length([(s["submit"], s["complete"]) for s in stages]) / 1e3
    row.update({
        "ops.build_s": (t1 - t0) / 1e3,
        "ops.build_jobs": n_build_jobs,
        "plans.plan_s": (t2 - t1) / 1e3,
        "plans.shuffle_exchanges": rec.get("shuffle_exchanges", 0),
        "plans.broadcast_exchanges": rec.get("broadcast_exchanges", 0),
        "plans.cached_relations": rec.get("cached_relations", 0),
        "plans.cached_inner_shuffles": rec.get("cached_inner_shuffles", 0),
        "plans.initial_shuffles": rec.get("initial_shuffles", 0),
        "plans.text_shuffles": rec.get("text_shuffles", 0),
        "sched.jobs": len(jobs),
        "sched.stages": len(stages),
        "sched.stages_skipped": sum(len(j["stages"]) for j in jobs) - len(stages),
        "sched.tasks": tasks,
        "sched.task_overhead_s": sum(s["task_s"] - s["run_s"] for s in stages),
        "sched.stage_wall_s": stage_wall,
        "sched.task_s": task_s,
        "exec.execute_s": (t3 - t2) / 1e3,
        "exec.task_run_s": sum(s["run_s"] for s in stages),
        "exec.task_cpu_s": sum(s["cpu_s"] for s in stages),
        "exec.task_gc_s": sum(s["gc_s"] for s in stages),
        "shuffle.write_mb": sum(s["shuffle_write_mb"] for s in stages),
        "shuffle.read_mb": sum(s["shuffle_read_mb"] for s in stages),
        "shuffle.fetch_wait_s": sum(s["fetch_wait_s"] for s in stages),
        "shuffle.spill_mb": sum(s["spill_mb"] for s in stages),
        "tables.scan_rows": scan_rows,
        "tables.scan_mb": sum(s["input_mb"] for s in stages),
        "sink.output_rows": out_rows,
        "total_s": (t3 - t0) / 1e3,
    })
    row["sched.slot_idle_frac"] = (1 - task_s / (cpus * stage_wall)) if stage_wall > 0 else 0.0
    return row


def attribute(records, jobs, stages):
    """Tie listener jobs to timed query executions: by the job group the
    harness set, else by the job's start time falling in the execution's
    window (queries run one at a time, so windows do not overlap)."""
    by_group = {r["group"]: r for r in records if "group" in r}
    windows = [(r["t0"], r["t3"], r) for r in records]
    out = {id(r): ([], []) for r in records}
    job_rec = {}
    for j in jobs:
        r = by_group.get(j["group"])
        if r is None:
            r = next((w[2] for w in windows if w[0] <= j["start"] <= w[1]), None)
        if r is not None:
            out[id(r)][0].append(j)
            job_rec[j["id"]] = r
    for s in stages:
        r = job_rec.get(s["job"])
        if r is not None:
            out[id(r)][1].append(s)
    return out


# Per-layer metrics the traced run prints, with their units. Totals are per
# pass; a warm run reports the median over its timed passes.
LAYER_UNITS = {
    "ops.build_s": "s", "ops.build_jobs": "count",
    "plans.plan_s": "s", "plans.shuffle_exchanges": "count",
    "plans.broadcast_exchanges": "count", "plans.cached_relations": "count",
    "plans.cached_inner_shuffles": "count", "plans.text_shuffle_diffs": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.stages_skipped": "count",
    "sched.tasks": "count", "sched.task_overhead_s": "s", "sched.slot_idle_frac": "ratio",
    "exec.execute_s": "s", "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.task_gc_s": "s",
    **{f"family.{f}.s": "s" for f in FAMILIES + ("other",)},
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "shuffle.spill_mb": "MB",
    "tables.scan_rows": "count", "tables.scan_mb": "MB", "tables.rows_per_output_row": "ratio",
    "memo.build_s": "s", "memo.cached_mb": "MB", "memo.block_drops": "count",
    "sink.output_rows": "count",
    "self.query_s": "s", "self.build_s": "s", "self.plan_s": "s", "self.execute_s": "s",
    "self.job_s": "s", "self.stage_s": "s",
    "trace.pass_s": "s",
}

SUMMED = [k for k in LAYER_UNITS if not k.startswith(("family.", "memo.", "trace."))
          and k not in ("sched.slot_idle_frac", "tables.rows_per_output_row",
                        "plans.text_shuffle_diffs")]


def pass_layers(rows, cpus):
    """Sum per-query layer rows of one pass into per-pass layer totals."""
    tot = {k: sum(r[k] for r in rows) for k in SUMMED}
    for f in FAMILIES + ("other",):
        tot[f"family.{f}.s"] = sum(r["exec.execute_s"] for r in rows if family(r["name"]) == f)
    wall = sum(r["sched.stage_wall_s"] for r in rows)
    busy = sum(r["sched.task_s"] for r in rows)
    tot["sched.slot_idle_frac"] = (1 - busy / (cpus * wall)) if wall > 0 else 0.0
    tot["tables.rows_per_output_row"] = (tot["tables.scan_rows"] / tot["sink.output_rows"]
                                         if tot["sink.output_rows"] else 0.0)
    tot["plans.text_shuffle_diffs"] = sum(
        1 for r in rows if r["plans.cached_relations"] == 0
        and r["plans.initial_shuffles"] != r["plans.text_shuffles"])
    tot["trace.pass_s"] = sum(r["total_s"] for r in rows)
    return tot


def median_over_passes(per_pass):
    return {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
