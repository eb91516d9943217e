"""Metric catalogue: names, units, the direction that counts as better, and
for each per-layer metric the end-to-end metric (and workload) it should
move. ``BENCHMARK.json`` lists the same names; a self-test keeps the two
in step."""

from __future__ import annotations

WEBPAGES, STATE_MERGE, NEAR_DUP, STREAM = (
    "webpages_topn", "state_merge", "near_dup_dedup", "stream_ingest_probe"
)
ALL = (WEBPAGES, STATE_MERGE, NEAR_DUP, STREAM)
# the workloads BENCHMARK.json lists for commit-to-commit comparison. Each
# untraced run pays a JVM start and three set-ups (40-60 s), and a
# comparison takes ten runs per workload and side, so the list is kept to
# two. near_dup_dedup and stream_ingest_probe run (and are checked) inside
# every traced run, which reports their layers, and on their own from the
# command line.
GATED = (WEBPAGES, STATE_MERGE)

# name -> (unit, better, regression bound as a share of the parent's median)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "rows_per_s": ("rows/s", "higher", 0.25),
    "cpu_s": ("s", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.1),
}

# name -> (unit, better, (end-to-end metric, workloads) it should move)
_ROWS_WP = ("rows_per_s", (WEBPAGES,))
_ROWS_SM = ("rows_per_s", (STATE_MERGE,))
_ROWS_ND = ("rows_per_s", (NEAR_DUP,))
_ROWS_ST = ("rows_per_s", (STREAM,))
_EVERY = ("rows_per_s,peak_rss_mb", GATED)
PER_LAYER = {
    "core.hash128_ns_per_item": ("ns/item", "lower", _ROWS_WP),
    "core.cms_add_linear_ns_per_item": ("ns/item", "lower", _ROWS_WP),
    "core.hll_add_ns_per_item": ("ns/item", "lower", _ROWS_WP),
    "core.cms_add_conservative_ns_per_item": ("ns/item", "lower", _ROWS_ST),
    "core.cms_estimate_ns_per_item": ("ns/item", "lower", _ROWS_ST),
    "core.cms_from_bytes_us": ("us", "lower", _ROWS_ST),
    "core.cms_merge_us": ("us", "lower", _ROWS_SM),
    "core.kll_merge_us": ("us", "lower", _ROWS_SM),
    "core.cms_to_bytes_us": ("us", "lower", _ROWS_SM),
    "core.kll_to_bytes_us": ("us", "lower", _ROWS_SM),
    "core.merge_serialized_us": ("us", "lower", _ROWS_SM),
    "flagship.ingest_ns_per_doc": ("ns/doc", "lower", _ROWS_WP),
    "sources.scan_s": ("s", "lower", _ROWS_WP),
    "sources.scan_bytes": ("B", "lower", _ROWS_WP),
    "build.python_s": ("s", "lower", _ROWS_WP),
    "build.to_python_bytes": ("B", "lower", _ROWS_WP),
    "build.state_bytes": ("B", "lower", _ROWS_WP),
    "build.partials": ("count", "lower", _ROWS_WP),
    "driver.collect_bytes": ("B", "lower", _ROWS_WP),
    "build.union_agg_s": ("s", "lower", _ROWS_SM),
    "build.tree_levels": ("count", "lower", _ROWS_SM),
    "grouped.stage1_python_s": ("s", "lower", ("rows_per_s,peak_rss_mb", (STATE_MERGE,))),
    "grouped.stage1_state_bytes": ("B", "lower", ("rows_per_s,peak_rss_mb", (STATE_MERGE,))),
    "grouped.states_shipped": ("count", "lower", ("rows_per_s,peak_rss_mb", (STATE_MERGE,))),
    "grouped.exchange_bytes": ("B", "lower", ("rows_per_s,peak_rss_mb", (STATE_MERGE,))),
    "grouped.stage2_python_s": ("s", "lower", ("rows_per_s,peak_rss_mb", (STATE_MERGE,))),
    "grouped.states_per_group": ("ratio", "lower", ("rows_per_s,peak_rss_mb", (STATE_MERGE,))),
    "dedup.features_s": ("s", "lower", _ROWS_ND),
    "dedup.python_s": ("s", "lower", _ROWS_ND),
    "dedup.exchange_bytes": ("B", "lower", _ROWS_ND),
    "dedup.candidate_pairs": ("count", "lower", _ROWS_ND),
    "dedup.verified_pairs": ("count", "higher", _ROWS_ND),
    "dedup.verify_yield": ("ratio", "higher", _ROWS_ND),
    "dedup.incremental_s": ("s", "lower", _ROWS_ND),
    "stream.add_batch_ms": ("ms", "lower", _ROWS_ST),
    "stream.trigger_overhead_ms": ("ms", "lower", _ROWS_ST),
    "stream.state_bytes": ("B", "lower", _ROWS_ST),
    "stream.commit_p50_ms": ("ms", "lower", _ROWS_ST),
    "probe.python_s": ("s", "lower", _ROWS_ST),
    "probe.p50_ms": ("ms", "lower", _ROWS_ST),
    "spark.python_init_s": ("s", "lower", _EVERY),
    "spark.spill_bytes": ("B", "lower", _EVERY),
    "spark.peak_exec_memory": ("B", "lower", _EVERY),
    "spark.tasks": ("count", "lower", _EVERY),
    "trace.overhead_pct": ("%", "lower", ("rows_per_s", GATED)),
}
