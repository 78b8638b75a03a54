"""Metric names and units the benchmark prints (``BENCHMARK.json`` declares
the same lists).  Every run prints every metric of its mode; a layer the
workload does not exercise reads 0."""

from __future__ import annotations

from perfbench.layers import KERNELS
from unraveldocs_spark.oracle import ALL_RULES

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "round_s": "s",
}

OPERATOR_QUERIES = (
    # AQE-floor victims (their sum is op.small_ops_s)
    "broadcast_star_join",
    "regional_revenue",
    "storage_admission",
    "ann_pq_topk",
    "delete_reclaim",
    # floor beneficiary
    "knn_join",
    # fan-out / checkpoint
    "dedup_minhash_lsh",
    "dedup_paragraph",
    # tokenization
    "token_count",
    "search_bm25",
    "exact_substring_dedup",
    # window
    "sessionize",
    # per-row Arrow loop
    "encrypted_roundtrip",
)
SMALL_OPS = OPERATOR_QUERIES[:5]

PER_LAYER = {
    "scan.s": "s",
    "pipeline.shuffle_sort_s": "s",
    "extract.arrow_s": "s",
    "extract.python_s": "s",
    "extract.pass_s": "s",
    "extract.turns_per_s": "1/s",
    "pipeline.scaling_eff": "ratio",
    "pipeline.partition_turns_max_over_mean": "ratio",
    "stage.tasks": "count",
    "stage.task_s_max": "s",
    "stage.task_s_median": "s",
    "stage.shuffle_write_mb": "MB",
    "stage.spill_mb": "MB",
    "stage.gc_s": "s",
    "stage.run_minus_cpu_s": "s",
    "rss.peak_mb": "MB",
    "rss.python_workers_mb": "MB",
    "jvm.peak_heap_mb": "MB",
    "checkpoint.append_s": "s",
    "checkpoint.snapshot_mb": "MB",
    "checkpoint.resume_filter_s": "s",
    "checkpoint.results_read_s": "s",
    "checkpoint.new_turns": "count",
    "pipeline.partition_lineage_s": "s",
    "pipeline.lineage_metrics_s": "s",
    "rollup.conversation_rollup_s": "s",
    **{k: "us" for k in KERNELS},
    **{f"oracle.turns.{r}": "count" for r in ALL_RULES},
    **{f"op.{q}_s": "s" for q in OPERATOR_QUERIES},
    "op.small_ops_s": "s",
    "trace.overhead_s": "s",
}


def report(values: dict[str, float], units: dict[str, str]) -> dict[str, dict]:
    """``{name: {"value", "unit"}}`` for every name in ``units``."""
    missing = units.keys() - values.keys()
    if missing:
        raise KeyError(f"metrics not measured: {sorted(missing)}")
    return {name: {"value": float(values[name]), "unit": unit} for name, unit in units.items()}
