#!/usr/bin/env python3
"""Cross-run bench attribution: explain why quiet-box totals swing.

Usage: tools/bench_attrib.py run1.json run2.json [run3.json ...]

Takes two or more bench_out_c<cpus>.json artifacts (same battery) and
reports:
  - headline totals per run (raw `value`, `cpus`, `cold_total` where the
    artifact carries it);
  - the drift verdict: the median per-row wall ratio against the first run;
  - the swing decomposition: for each row, wall minus the min wall across
    runs; summed, this says whether a slow run is slow BROADLY (every row
    a bit slower: frequency / JVM-global state) or CONCENTRATED (a few
    rows much slower: GC spikes, IO stalls);
  - for the most-swinging rows, the own-cpu split: if a slow rep's own
    process cpu seconds scale with its wall the row was compute-shaped
    (cpu frequency, JIT re-profiling); if own-cpu is flat the row was
    WAITING (IO, scheduler, stop-the-world pauses).
"""
import json
import statistics
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def drift_verdict(base, other, names):
    """Median per-row wall ratio other/base across all common rows, plus a
    verdict: when the MEDIAN row moves >15% in either direction the run
    pair is dominated by box/environment drift, not by targeted changes
    (a real optimization round moves the rows it touched, not the median
    untouched row) — the r9 failure mode where a uniform +25-40% inflation
    across untouched sub-second rows sailed past the bench's (since
    removed) contention normalizer (r9 VERDICT "Next round" #7)."""
    ratios = []
    for n in names:
        b = base["queries"].get(n, -1)
        o = other["queries"].get(n, -1)
        if b > 0 and o > 0:
            ratios.append(o / b)
    if not ratios:
        return "no common rows"
    med = statistics.median(ratios)
    frac_inflated = sum(1 for r in ratios if r > 1.15) / len(ratios)
    verdict = ("DRIFT SUSPECTED" if abs(med - 1.0) > 0.15
               else "no broad drift")
    return (f"median row ratio {med:.3f} ({len(ratios)} rows, "
            f"{100*frac_inflated:.0f}% rows >15% slower) -> {verdict}")


def main(paths):
    runs = [(p, load(p)) for p in paths]
    names = sorted(runs[0][1]["queries"].keys())
    for p, r in runs:
        cold = r.get("cold_total")
        print(f"{p}: total {r['value']:.1f}s cpus {r.get('cpus', '?')}"
              + (f" cold_total {cold:.1f}s" if cold is not None else ""))

    # drift verdict vs the first run (r9 VERDICT #7: flag runs whose
    # untouched-row median deviates >15% from 1.0)
    base_p, base = runs[0]
    print(f"\ndrift check (vs {base_p}):")
    for p, r in runs[1:]:
        print(f"  {p}: {drift_verdict(base, r, names)}")

    # per-row swing vs the cross-run min
    mins = {n: min(r["queries"].get(n, float("inf")) for _, r in runs)
            for n in names}
    print("\nswing decomposition (sum of wall - cross-run-min wall):")
    for p, r in runs:
        deltas = {n: r["queries"][n] - mins[n] for n in names
                  if r["queries"].get(n, -1) >= 0}
        total_excess = sum(deltas.values())
        top = sorted(deltas.items(), key=lambda kv: -kv[1])[:8]
        top_share = sum(v for _, v in top)
        n_inflated = sum(1 for v in deltas.values() if v > 0.05)
        print(f"  {p}: excess {total_excess:.1f}s over per-row min; "
              f"top-8 rows carry {top_share:.1f}s "
              f"({100*top_share/max(total_excess,1e-9):.0f}%); "
              f"{n_inflated}/{len(deltas)} rows inflated >0.05s")
        for n, v in top[:4]:
            print(f"      {n}: +{v:.2f}s")

    # own-cpu split for the biggest swingers (needs r8 fields)
    if all("rep_own_cpu_sec" in r for _, r in runs):
        print("\nown-cpu split on the 10 most-swinging rows "
              "(wall ratio vs cpu ratio, slowest run vs fastest run):")
        # rank runs on the rows they all share, so a subset run
        # (SPARK_GRAFT_BENCH_ONLY) compares like with like
        common = [n for n in names
                  if all(n in r["queries"] for _, r in runs)]
        def common_total(pr):
            return sum(pr[1]["queries"][n] for n in common)
        slowest = max(runs, key=common_total)
        fastest = min(runs, key=common_total)
        swings = sorted(common,
                        key=lambda n: -(slowest[1]["queries"].get(n, 0) -
                                        fastest[1]["queries"].get(n, 0)))[:10]
        for n in swings:
            ws, wf = slowest[1]["queries"][n], fastest[1]["queries"][n]
            def best_rep_cpu(run, n):
                walls = run["rep_times"][n]
                cpus = run["rep_own_cpu_sec"][n]
                if not walls:
                    return -1.0
                i = walls.index(min(walls))
                return cpus[i] if i < len(cpus) else -1.0
            cs = best_rep_cpu(slowest[1], n)
            cf = best_rep_cpu(fastest[1], n)
            wall_ratio = ws / wf if wf > 0 else float("nan")
            cpu_ratio = cs / cf if cf > 0 else float("nan")
            gc_s = max(slowest[1].get("rep_gc_ms", {}).get(n, [0]) or [0])
            gc_f = max(fastest[1].get("rep_gc_ms", {}).get(n, [0]) or [0])
            shape = ("compute-shaped" if cpu_ratio > 0.8 * wall_ratio
                     else "wait-shaped")
            print(f"  {n}: wall {wf:.2f}->{ws:.2f} ({wall_ratio:.2f}x) "
                  f"owncpu {cf:.1f}->{cs:.1f} ({cpu_ratio:.2f}x) "
                  f"gc {gc_f}->{gc_s}ms -> {shape}")


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    main(sys.argv[1:])
