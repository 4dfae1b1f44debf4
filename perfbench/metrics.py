"""Arithmetic of the benchmark: end-to-end metrics, per-layer metrics and
trace spans, computed from the raw record a harness run writes.

Pure Python, no Spark: tests/test_metrics.py covers it.
"""
import statistics

MIB = 1024.0 * 1024.0
# p90 of per-op walls is reported only when at least 10 samples lie
# beyond it, i.e. with 100 samples or more
P90_MIN_SAMPLES = 100


def median(values):
    values = list(values)
    return statistics.median(values) if values else 0.0


def p90(samples):
    """90th percentile, or None when fewer than 10 samples lie beyond it."""
    samples = sorted(samples)
    if len(samples) < P90_MIN_SAMPLES:
        return None
    return statistics.quantiles(samples, n=10, method="inclusive")[-1]


def tail(samples):
    """(p, value): the highest whole percentile with at least 10 samples
    beyond it, or None with 10 samples or fewer."""
    samples = sorted(samples)
    n = len(samples)
    if n <= 10:
        return None
    p = (100 * (n - 10)) // n
    if p < 1:
        return None
    return p, statistics.quantiles(samples, n=100, method="inclusive")[p - 1]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_time(start, end, children):
    """A span's own time: its length minus the union of its children."""
    return (end - start) - union_length(clip(children, start, end))


def driver_s(op_start_ms, op_end_ms, job_intervals_ms):
    """Op wall not covered by any Spark job: driver-side work, in seconds."""
    return self_time(op_start_ms, op_end_ms, job_intervals_ms) / 1000.0


def skew(task_read_bytes):
    """Max over median task shuffle read of one stage (1.0 = balanced)."""
    reads = [b for b in task_read_bytes if b > 0]
    if len(reads) < 2:
        return 1.0
    return max(reads) / statistics.median(reads)


def pair_yield(rows_out, join_rows_out):
    """Output rows per row produced by the op's joins (None: no join)."""
    return rows_out / join_rows_out if join_rows_out > 0 else None


def warm_passes(record, traced=False):
    """Every pass after the cold one (pass 0) that was (not) traced."""
    return [p for p in record["passes"] if p["pass"] != 0 and p["traced"] == traced]


def end_to_end(record):
    """The user-visible metrics of an untraced run."""
    cold = [p for p in record["passes"] if p["pass"] == 0][0]
    warm = warm_passes(record)
    walls = [op["wall_s"] for p in warm for op in p["ops"]]
    out = {
        "setup_s": record["setup_s"],
        "cold_s": cold["wall_s"],
        "warm_s": median(p["wall_s"] for p in warm),
        "op_p50_s": median(walls),
        "cpu_s": median(p["cpu_s"] for p in warm),
        "heap_peak_mb": max(p["heap_after_gc_mb"] for p in record["passes"]),
    }
    return out, walls


def _by_op(rows):
    out = {}
    for r in rows:
        out.setdefault(r["op"], []).append(r)
    return out


def op_layers(record):
    """Per-layer metrics of every op of every traced pass, keyed by op seq."""
    cpus = record["cpus"]
    jobs, stages = _by_op(record.get("jobs", [])), _by_op(record.get("stages", []))
    queries, progress = _by_op(record.get("queries", [])), _by_op(record.get("progress", []))
    gcs = _by_op(record.get("gcs", []))
    layers = {}
    for p in record["passes"]:
        if not p["traced"]:
            continue
        for op in p["ops"]:
            seq = op["seq"]
            js, ss = jobs.get(seq, []), stages.get(seq, [])
            qs, ps = queries.get(seq, []), progress.get(seq, [])
            job_iv = [(j["start_ms"], j["end_ms"]) for j in js]
            run_s = sum(s["run_ms"] for s in ss) / 1e3
            join_rows = sum(q["join_rows_out"] for q in qs)
            rows_out = op.get("rows", 0)
            streaming = bool(ps)
            trigger_s = sum(x["duration_ms"].get("triggerExecution", 0) for x in ps) / 1e3
            last_state = {}
            for x in ps:
                last_state[x["query"]] = x
            dur = lambda *keys: sum(x["duration_ms"].get(k, 0) for x in ps for k in keys) / 1e3
            layers[seq] = {
                "name": op["name"], "pass": p["pass"], "wall_s": op["wall_s"],
                "build_s": op["build_s"],
                "build_jobs": sum(1 for j in js if j["start_ms"] < op["build_end_ms"]),
                "plan.analysis_s": sum(q["analysis_ms"] for q in qs) / 1e3,
                "plan.optimization_s": sum(q["optimization_ms"] for q in qs) / 1e3,
                "plan.planning_s": sum(q["planning_ms"] for q in qs) / 1e3,
                "plan.actions": len(qs),
                "plan.codegen_compiles": op["codegen_compiles"],
                "sched.jobs": len(js),
                "sched.stages": sum(j["stages"] for j in js),
                "sched.stages_skipped": sum(j["skipped"] for j in js),
                "sched.tasks": sum(s["tasks"] for s in ss),
                "sched.delay_s": sum(s["sched_delay_ms"] for s in ss) / 1e3,
                "driver_s": driver_s(op["start_ms"], op["end_ms"], job_iv),
                "task.run_s": run_s,
                "task.cpu_s": sum(s["cpu_ns"] for s in ss) / 1e9,
                "task.deser_s": sum(s["deser_ms"] for s in ss) / 1e3,
                "task.gc_s": sum(s["gc_ms"] for s in ss) / 1e3,
                "task.busy_ratio": run_s / (op["wall_s"] * cpus) if op["wall_s"] > 0 else 0.0,
                "task.peak_mem_mb": max([s["peak_mem_bytes"] for s in ss], default=0) / MIB,
                "shuffle.write_mb": sum(s["shuffle_write_bytes"] for s in ss) / MIB,
                "shuffle.read_mb": sum(s["shuffle_read_bytes"] for s in ss) / MIB,
                "shuffle.records": sum(s["shuffle_write_records"] for s in ss),
                "shuffle.write_s": sum(s["shuffle_write_ns"] for s in ss) / 1e9,
                "shuffle.fetch_wait_s": sum(s["fetch_wait_ms"] for s in ss) / 1e3,
                "shuffle.skew": max([skew(s["task_read_bytes"]) for s in ss], default=1.0),
                "scan.mb": sum(q.get("scan_bytes", 0) for q in qs) / MIB,
                "scan.rows": sum(s["input_records"] for s in ss),
                "rows_out": rows_out,
                "plan.join_rows_out": join_rows,
                "pair_yield": pair_yield(rows_out, join_rows),
                "spill.mb": sum(s["spill_bytes"] for s in ss) / MIB,
                "jvm.gc_s": op["gc_s"],
                "jvm.heap_after_gc_mb": max([g["heap_after_mb"] for g in gcs.get(seq, [])],
                                            default=0.0),
                "stream.batches": len(ps),
                "stream.input_rows": sum(x["input_rows"] for x in ps),
                "stream.trigger_s": trigger_s,
                "stream.add_batch_s": dur("addBatch"),
                "stream.plan_s": dur("queryPlanning"),
                "stream.wal_s": dur("walCommit"),
                "stream.commit_s": dur("commitOffsets"),
                "stream.offsets_s": dur("latestOffset", "getBatch"),
                "stream.overhead_s": op["wall_s"] - trigger_s if streaming else 0.0,
                "stream.state_rows": sum(x["state_rows"] for x in last_state.values()),
                "stream.state_mb": sum(x["state_bytes"] for x in last_state.values()) / MIB,
                "stream.state_commit_s": sum(x["state_commit_ms"] for x in ps) / 1e3,
                "jvm.jit_s": op["jit_s"],
                "proc.cpu_s": op["cpu_s"],
            }
    return layers


# how one pass's value of a per-layer metric is formed from its ops' values
MAX_OVER_OPS = {"task.peak_mem_mb", "shuffle.skew", "jvm.heap_after_gc_mb"}
LAYER_METRICS = [
    "build_s", "build_jobs", "plan.analysis_s", "plan.optimization_s",
    "plan.planning_s", "plan.actions", "plan.codegen_compiles", "sched.jobs", "sched.stages",
    "sched.stages_skipped", "sched.tasks", "sched.delay_s", "driver_s",
    "task.run_s", "task.cpu_s", "task.deser_s", "task.gc_s", "task.busy_ratio",
    "task.peak_mem_mb", "shuffle.write_mb", "shuffle.read_mb", "shuffle.records",
    "shuffle.write_s", "shuffle.fetch_wait_s", "shuffle.skew", "scan.mb",
    "scan.rows", "rows_out", "plan.join_rows_out", "pair_yield", "spill.mb",
    "jvm.gc_s", "jvm.heap_after_gc_mb", "stream.batches", "stream.input_rows",
    "stream.trigger_s", "stream.add_batch_s", "stream.plan_s", "stream.wal_s",
    "stream.commit_s", "stream.offsets_s", "stream.overhead_s", "stream.state_rows",
    "stream.state_mb", "stream.state_commit_s", "jvm.jit_s", "proc.cpu_s",
]


def pass_layers(ops, cpus):
    """One pass's per-layer metrics from its ops' records."""
    out = {}
    for m in LAYER_METRICS:
        vals = [op[m] for op in ops]
        if m in MAX_OVER_OPS:
            out[m] = max(vals, default=0.0)
        elif m == "task.busy_ratio":
            wall = sum(op["wall_s"] for op in ops)
            out[m] = sum(op["task.run_s"] for op in ops) / (wall * cpus) if wall else 0.0
        elif m == "pair_yield":
            joined = [op for op in ops if op["plan.join_rows_out"] > 0]
            out[m] = pair_yield(sum(op["rows_out"] for op in joined),
                                sum(op["plan.join_rows_out"] for op in joined)) or 0.0
        else:
            out[m] = sum(vals)
    return out


def per_layer(record):
    """Per-layer metrics of a traced run: medians over its traced warm
    passes, the cold pass's JIT and CPU, and the tracing overhead."""
    layers = op_layers(record)
    cpus = record["cpus"]

    def of_pass(p):
        return pass_layers([layers[op["seq"]] for op in p["ops"]], cpus)

    traced = [of_pass(p) for p in warm_passes(record, traced=True)]
    out = {m: median(t[m] for t in traced) for m in LAYER_METRICS}
    cold = of_pass([p for p in record["passes"] if p["pass"] == 0][0])
    out["cold.jvm.jit_s"] = cold["jvm.jit_s"]
    out["cold.proc.cpu_s"] = cold["proc.cpu_s"]
    out["trace.overhead"] = (median(p["wall_s"] for p in warm_passes(record, True)) /
                             median(p["wall_s"] for p in warm_passes(record, False)))
    return out, layers


def spans(record, run_id, layers):
    """The traced passes as spans op -> build / action -> job -> stage,
    given their ops' `op_layers`.

    Times are epoch milliseconds; every span carries `run_id`. A job is a
    child of the phase (build or action) in which it started.
    """
    out = []
    jobs = _by_op(record.get("jobs", []))
    stages_by_job = {}
    for s in record.get("stages", []):
        stages_by_job.setdefault((s["op"], s["job"]), []).append(s)

    def span(sid, parent, kind, name, start, end, **attrs):
        out.append({"run_id": run_id, "span_id": sid, "parent_id": parent,
                    "kind": kind, "name": name, "start_ms": start, "end_ms": end,
                    "attrs": attrs})

    for p in record["passes"]:
        if not p["traced"]:
            continue
        for op in p["ops"]:
            seq = op["seq"]
            op_id = f"op{seq}"
            span(op_id, None, "op", op["name"], op["start_ms"], op["end_ms"],
                 **{k: v for k, v in layers[seq].items() if k != "name"})
            span(f"{op_id}.build", op_id, "build", op["name"],
                 op["start_ms"], op["build_end_ms"])
            span(f"{op_id}.action", op_id, "action", op["name"],
                 op["build_end_ms"], op["end_ms"])
            for j in jobs.get(seq, []):
                phase = "build" if j["start_ms"] < op["build_end_ms"] else "action"
                job_id = f"{op_id}.job{j['job']}"
                span(job_id, f"{op_id}.{phase}", "job", f"job {j['job']}",
                     j["start_ms"], j["end_ms"], stages=j["stages"],
                     skipped=j["skipped"], ok=j["ok"])
                for s in stages_by_job.get((seq, j["job"]), []):
                    span(f"{job_id}.stage{s['stage']}.{s['attempt']}", job_id, "stage",
                         f"stage {s['stage']}", s["submit_ms"], s["end_ms"],
                         tasks=s["tasks"], run_ms=s["run_ms"],
                         skew=skew(s["task_read_bytes"]))
    by_parent = {}
    for s in out:
        by_parent.setdefault(s["parent_id"], []).append((s["start_ms"], s["end_ms"]))
    for s in out:
        s["self_ms"] = self_time(s["start_ms"], s["end_ms"], by_parent.get(s["span_id"], []))
    return out
