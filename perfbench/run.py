#!/usr/bin/env python3
"""graft's benchmark: one closed-loop run of one workload.

    python3 perfbench/run.py --workload sf01_mix --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds graft and the harness from source on
first use (sbt, into target/ and .bench_build/), writes the seeded 10x corpus
(perfbench/corpus.py), runs the harness JVM, checks every op's output and
prints one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics; a traced run also writes its spans to
.bench_build/runs/<run>/trace.jsonl. The line before the result starts
with "# record" and carries cpus, input sizes and per-op figures.
Exits non-zero when an op fails or an output check does not match.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import corpus  # noqa: E402
import metrics  # noqa: E402
from workloads import MEMOS, WORKLOADS  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
RUN_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840
KEEP_RUNS = 40
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: graft's and the harness's."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), HARNESS):
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        if os.path.exists(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Classpath of the harness, compiling graft and the harness if their
    sources changed since the last build in this checkout; and whether it
    compiled."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), False
    tmp = os.path.join(BUILD_DIR, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath, True


def heap_gb():
    """Half the machine's memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        return max(2, min(4, kb // (2 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


def run_harness(classpath, run_dir, corpus_dir, ops, args, cpus, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xmx{heap_gb()}g", *ADD_OPENS,
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "perfbench.Harness",
           "--corpus", corpus_dir, "--ops", ",".join(ops), "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--out", run_dir, "--cpus", str(cpus)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    # graft's session factory reads extra confs from this; runs use none
    env.pop("SPARK_GRAFT_EXTRA_CONF", None)
    with open(os.path.join(run_dir, "harness.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                                stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"harness timed out; log in {run_dir}/harness.log")
    if proc.returncode != 0:
        with open(os.path.join(run_dir, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {proc.returncode}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def steal_ticks():
    """CPU time the hypervisor gave to other guests, in clock ticks."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def prune_runs(runs_dir):
    runs = sorted((os.path.join(runs_dir, d) for d in os.listdir(runs_dir)),
                  key=os.path.getmtime)
    for old in runs[:-KEEP_RUNS]:
        shutil.rmtree(old, ignore_errors=True)


def main():
    started = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("tools", "compare_oracle.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from a checkout of the graft repository")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = bench["per_layer" if args.trace else "end_to_end"]

    classpath, built = build()
    workload = WORKLOADS[args.workload]
    # the corpus is written before the timed run starts
    try:
        corpus_dir = corpus.ensure(os.path.join(BUILD_DIR, "corpus"), workload["corpus"], args.seed)
    except FileNotFoundError as e:
        fail(str(e))
    cpus = len(os.sched_getaffinity(0))
    runs_dir = os.path.join(BUILD_DIR, "runs")
    run_id = uuid.uuid4().hex[:12]
    run_dir = os.path.join(runs_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{run_id}")
    os.makedirs(run_dir)
    prune_runs(runs_dir)
    # a run that compiled may take longer; the harness's own limit starts then
    deadline = (time.monotonic() if built else started) + RUN_TIMEOUT_S
    steal0, t0 = steal_ticks(), time.monotonic()
    record = run_harness(classpath, run_dir, corpus_dir, workload["ops"], args, cpus, deadline)
    # share of this box's CPU taken by other guests while the harness ran:
    # a diagnostic of a noisy host, not a metric
    steal = (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK") / (
        (time.monotonic() - t0) * (os.cpu_count() or 1))

    oracle_failed = check.oracle_failures(ROOT, corpus_dir, os.path.join(run_dir, "dump"),
                                          record["oracle_sql"])
    failed = check.failed_executions(record, oracle_failed)
    attempted = sum(len(p["ops"]) for p in record["passes"])

    if args.trace:
        values, layers = metrics.per_layer(record)
        with open(os.path.join(run_dir, "trace.jsonl"), "w") as f:
            for s in metrics.spans(record, run_id, layers):
                f.write(json.dumps(s) + "\n")
        with open(os.path.join(run_dir, "layers.json"), "w") as f:
            json.dump(layers, f, indent=1)
        extra = {"trace.overhead": values["trace.overhead"]}
    else:
        values, walls = metrics.end_to_end(record)
        op_tail = metrics.tail(walls)
        extra = {"op_samples": len(walls), "op_p90_s": metrics.p90(walls),
                 "op_tail": {"pct": op_tail[0], "s": op_tail[1]} if op_tail else None}
    for d in ("dump", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)

    per_op = {}
    for p in record["passes"]:
        for op in p["ops"]:
            per_op.setdefault(op["name"], []).append(round(op["wall_s"], 4))
    info = {"workload": args.workload, "seed": args.seed, "cpus": cpus,
            "run_id": run_id, "run_dir": os.path.relpath(run_dir, ROOT),
            "input": corpus.sizes(corpus_dir), "passes": len(record["passes"]),
            "setup_s": record["setup_s"], "op_walls_s": per_op,
            "oracle_failures": oracle_failed, "memos": MEMOS, "cpu_steal": steal, **extra}
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump(info, f, indent=1)
    print("# record " + json.dumps(info))
    result = {"correct": not failed, "attempted": attempted, "failed": len(failed),
              "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                          for m in wanted}}
    print(json.dumps(result))
    sys.exit(0 if not failed else 1)


if __name__ == "__main__":
    main()
