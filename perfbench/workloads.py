"""Workloads of the benchmark. README.md says why each list was chosen.

Each workload is a fixed list of declared query names, run in a warm
session on one input. The run's seed sets the order of the list in every
pass. Queries that stage fixture files at fixed absolute paths
(scan_partition_prune, scan_dpp, scan_json_nested, scan_csv_roundtrip,
scan_orc_roundtrip, scan_json_roundtrip, join_bucketed_colocated) are left
out everywhere, because the benchmark writes only inside its checkout.
"""

# Timed passes a run makes at least. The tail percentile is chosen from
# MIN_PASSES x list length samples, so it is the same in every run. With
# nine queries that is 45 samples: the median is the middle execution of
# one query and p75 the fourth of five, rather than the slowest execution
# of a query, which a list of eight (40 samples) would make them.
MIN_PASSES = 5

# warm_passes: untimed passes after the check pass. floor_sf0.01 is
# driver-bound, and its first timed pass after the check pass alone ran
# 10-40% slower than the later ones (JIT compilation of the planning and
# dispatch paths). full_sf0.1 spends most of its time in generated code
# and drifts less; a warm pass there would cost about 5 s of every run.

WORKLOADS = {
    # Executor-bound: full output of sf0.1 tables. fn_math and fn_json are
    # ROADMAP full-output targets (expression and parse work over every
    # row); the rest are scans, explodes, windows and string functions
    # whose columns are all computed. infer_argmax fills the Inference
    # cache, so cache_mb > 0.
    "full_sf0.1": {
        "sf": "sf0.1",
        "warm_passes": 0,
        "queries": [
            "fn_math", "fn_json", "fn_explode_udtf", "win_ntile", "fn_bitwise",
            "infer_argmax", "text_tokenize", "fn_regex", "evt_histogram",
        ],
    },
    # Per-query fixed cost: short queries on a tenth of the rows, where
    # building, planning and job dispatch dominate. agg_abc_class is a
    # ROADMAP per-query-floor target (eager helper jobs in build);
    # infer_argmax fills the Inference cache.
    "floor_sf0.01": {
        "sf": "sf0.01",
        "warm_passes": 1,
        "queries": [
            "agg_abc_class", "infer_argmax", "sql_parameterized", "sample_stratified",
            "join_asof_native", "sql_execute_immediate", "sql_qualify", "text_tokenize",
            "fn_stack",
        ],
    },
}

# Three-query lists for the sf0.001 smoke test of each workload.
SMOKE_SF = "sf0.001"
SMOKE_QUERIES = {
    "full_sf0.1": ["fn_math", "infer_argmax", "fn_regex"],
    "floor_sf0.01": ["agg_abc_class", "infer_argmax", "sql_qualify"],
}
