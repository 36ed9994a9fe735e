"""Workload definitions and the metric names they report.

Each query is listed with the package module whose work it mostly is;
per-query per-layer metrics are named ``<module>.<query>.<counter>``.
"""

from __future__ import annotations

# Query workloads run registry queries (``__spark_entry__.queries()``)
# over generated TPC-H-shaped tables at this scale factor.
QUERY_SF = 0.01
QUERY_DOCS = 1000

QUERY_ITERATIVE = {
    "kruskal_wallis_price_flag": "operators.hypotests",
    "brown_forsythe_price_flag": "operators.hypotests",
    "graph_pagerank_top": "operators.graph",
}

MEDALLION_RECORDS = 30_000
MEDALLION_STAGES = ["landing_to_bronze", "bronze_to_silver", "silver_to_gold"]
MEDALLION_LAYERS = ["bronze", "silver", "gold", "quarantine"]

# ``warmup``: passes after the cold one that are not reported (JIT
# compilation still cuts a medallion pass's CPU time by half over its
# first three warm passes); ``min_warm``: reported warm passes a run makes
# even past ``--seconds``. A query pass is four times longer, so
# query_iterative affords no unreported pass.
WORKLOADS = {
    "medallion_refresh": {"warmup": 2, "min_warm": 5},
    "query_iterative": {"queries": QUERY_ITERATIVE, "warmup": 0, "min_warm": 2},
}

# The bounded end-to-end metrics. ``*_cpu_s`` are CPU seconds of the worker
# process tree (Python and JVM), which time stolen by the hypervisor does
# not inflate; cold-pass wall time and peak RSS spread too much from run to
# run on a shared host to bound, so they are printed (REPORTED) and kept as
# per-layer metrics.
END_TO_END = {
    "setup_s": "s",
    "cold_cpu_s": "s",
    "warm_s": "s",
    "warm_cpu_s": "s",
}
REPORTED = {"cold_s": "s", "peak_rss_mb": "MB"}

STAGE_COUNTERS = {
    "wall_s": "s", "jobs": "count", "tasks": "count", "exec_s": "s",
    "shuffle_write_mb": "MB", "output_mb": "MB", "files_written": "count",
}
QUERY_COUNTERS = {
    "build_s": "s", "action_s": "s", "build_jobs": "count", "action_jobs": "count",
    "tasks": "count", "exec_s": "s", "shuffle_write_mb": "MB", "parallelism": "ratio",
}
# Isolation probes of traced runs: medallion ones write into a noop sink
# (the partitioned write reads a cached frame); the others are layers
# no pass of either workload calls directly.
PROBES = {
    "sources.json_source.read_landing_json.wall_s": "s",
    "operators.standardize.silver_transform.wall_s": "s",
    "sinks.writers.write_partitioned.wall_s": "s",
    "sources.tables.load_table.wall_s": "s",
    "functions.synthetic.brewery_raw.wall_s": "s",
    "functions.exact.sum_money.wall_s": "s",
    "plans.analytics.tpch_q5.wall_s": "s",
    "plans.analytics.tpch_q5.jobs": "count",
    "operators.dedup.dedup_minhash_pairs.wall_s": "s",
    "operators.dedup.dedup_minhash_pairs.jobs": "count",
}
RUN_WIDE = {
    "session.get_spark.wall_s": "s",
    "session.cold_pass.wall_s": "s",
    "session.driver.peak_rss_mb": "MB",
    "session.driver.collected_rows": "count",
    "session.driver.cached_rdds": "count",
    "sinks.writers.medallion.stored_bytes_ratio": "ratio",
    "trace.overhead_s": "s",
}


def per_layer_metrics() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    out: dict[str, str] = {}
    for stage in MEDALLION_STAGES:
        for c, unit in STAGE_COUNTERS.items():
            out[f"plans.pipeline.{stage}.{c}"] = unit
    for layer in MEDALLION_LAYERS:
        out[f"sinks.writers.{layer}.mb"] = "MB"
        out[f"sinks.writers.{layer}.files"] = "count"
    out.update(PROBES)
    for name, module in QUERY_ITERATIVE.items():
        for c, unit in QUERY_COUNTERS.items():
            out[f"{module}.{name}.{c}"] = unit
    out.update(RUN_WIDE)
    return out

