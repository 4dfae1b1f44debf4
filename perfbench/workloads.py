"""The benchmark's workloads: which battery rows each runs, on which corpus,
and the memo policy every run follows.

Every op is a row of graft's public catalogue `SparkEntry.queries`.
"""

WORKLOADS = {
    # fixed per-op costs at sf0.1: planning, job scheduling, eager
    # checkpoints, AvailableNow start/stop, JIT. op_p50_s, the median of
    # the pooled op walls, falls on q09, which sits between three clearly
    # faster and three clearly slower ops, so it does not jump between two
    # ops' clusters from run to run.
    "sf01_mix": {"corpus": "sf0.1", "ops": [
        "q05_topk_orders", "q09_window_rank",            # relational
        "q20_stateful_pardo",                            # dataflow: state, timers
        "d21_dedup_exact", "d204_tree_depth",            # LLM-data, graph loop
        "d145_stream_incremental_agg",                   # streaming
        "d134_check_stratified_bounds",                  # model check
    ]},
    # graft's native kernels and custom plans where task compute dominates.
    # An odd number of ops keeps op_p50_s on one op's executions instead
    # of halfway between two ops' clusters.
    "x10_ops": {"corpus": "x10", "ops": [
        "q01_pricing_summary",   # graft_money_sum (FixedPointSum)
        "q09_window_rank",       # WindowRankToTopK rewrite into TopKPerKey
        "d22_dedup_survivors",   # MinHash signatures and LSH banding
        "d28_lsh_topk",          # LSH bucket functions
        "d43_cube",              # graft_money_sum under CUBE
    ]},
}

# In-process memos and what every run does with them. Cleared ones are
# cleared before each pass, so warm_s never measures result reuse through
# them; the two without a public clear stay warm after their first use.
MEMOS = {
    "Queries.minhashPairMemo": "disabled (Queries.pairMemoEnabled = false)",
    "spark.catalog cache": "cleared before each pass (spark.catalog.clearCache())",
    "ModelChecks shared derivations": "cleared before each pass (ModelChecks.clearSharedDerivations())",
    "d97 bucketed copy (Queries.bucketedWritten)": "no public clear; d97 is in no workload",
    "StreamingBattery staged inputs": "no public clear; streaming rows reuse their staged input after the cold pass",
}
