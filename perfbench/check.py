"""Output check of a harness run, made after the timed passes.

* Ops with a DuckDB oracle (`SparkEntry.oracleSql`): the harness's dump is
  compared with the oracle SQL run by DuckDB over the run's own corpus, by
  running `tools/compare_oracle.py` on it.
* Every op: the order-insensitive row hash and row count of each execution
  must equal those of its first (cold) execution.
"""
import json
import os
import subprocess
import sys

ORACLE_TIMEOUT_S = 120


def oracle_failures(repo_root, corpus, dump_dir, oracle_sql):
    """{op: reason} for every oracle op that `tools/compare_oracle.py` does
    not report as ok on the dumps in `dump_dir`."""
    os.makedirs(dump_dir, exist_ok=True)
    with open(os.path.join(dump_dir, "oracle_sql.json"), "w") as f:
        json.dump(oracle_sql, f, indent=1, sort_keys=True)
    tool = os.path.join(repo_root, "tools", "compare_oracle.py")
    try:
        proc = subprocess.run([sys.executable, tool, corpus, dump_dir],
                              stdin=subprocess.DEVNULL, capture_output=True,
                              text=True, timeout=ORACLE_TIMEOUT_S)
        out, why = proc.stdout, f"compare_oracle.py exited with {proc.returncode}"
    except subprocess.TimeoutExpired:
        out, why = "", f"compare_oracle.py took over {ORACLE_TIMEOUT_S} s"
    return parse_report(out, oracle_sql, why)


def parse_report(stdout, names, missing_reason):
    """{op: reason} from compare_oracle.py's `ok   <op>: ...` and
    `FAIL <op>: ...` lines; an op on neither gets `missing_reason`."""
    ok, failures = set(), {}
    for line in stdout.splitlines():
        head, _, reason = line.partition(": ")
        if head.startswith("ok "):
            ok.add(head[3:].strip())
        elif head.startswith("FAIL "):
            failures[head[5:].strip()] = reason
    return {n: failures.get(n, missing_reason) for n in names if n not in ok}


def failed_executions(record, oracle_failed):
    """Seqs of op executions that threw, whose output differs from the
    op's cold execution, or whose op failed its oracle check."""
    first = {}
    failed = set()
    for p in sorted(record["passes"], key=lambda p: p["pass"]):
        for op in p["ops"]:
            if "error" in op or op["name"] in oracle_failed:
                failed.add(op["seq"])
                continue
            out = (op["hash"], op["rows"])
            if first.setdefault(op["name"], out) != out:
                failed.add(op["seq"])
    return failed
