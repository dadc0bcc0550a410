"""The metrics the benchmark prints, with their units. BENCHMARK.json
lists the same names and units (checked by the benchmark's tests)."""

from __future__ import annotations

#: every end-to-end metric, with its unit, in BENCHMARK.json order
END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "queries_per_s": "queries/s",
    "ingest_p50_s": "s",
    "ingest_rows_per_s": "rows/s",
    "recall_at_k": "ratio",
    "success_rate": "ratio",
    "scan_bytes_per_query": "B",
    "stored_bytes_per_vector": "B",
    "peak_rss_mb": "MB",
}


def with_units(values: dict, units: dict) -> dict:
    """{name: {"value", "unit"}} for exactly the names in ``units``."""
    if set(values) != set(units):
        raise RuntimeError(f"metric names differ from the declared set: {sorted(set(values) ^ set(units))}")
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}


#: every per-layer metric, with its unit
PER_LAYER = {
    "session.boot_s": "s",
    "session.warmup_s": "s",
    "sources.layout_build_s": "s",
    "sources.layout_bytes_per_vector.vec_id": "B",
    "sources.layout_bytes_per_vector.embedding": "B",
    "sources.layout_bytes_per_vector.full": "B",
    "sources.layout_bytes_per_vector.redv": "B",
    "sources.layout_bytes_per_vector.delta": "B",
    "sources.corpus_bytes_per_vector": "B",
    "sources.delta_bytes_per_row": "B",
    "functions.fp16_s": "s",
    "operators.plan_s": "s",
    "operators.exec_s": "s",
    "refine.phase1_bytes_per_query": "B",
    "refine.phase2_bytes_per_query": "B",
    "refine.pairs_per_query": "count",
    "refine.fetched_per_query": "count",
    "refine.useful_fetch_ratio": "ratio",
    "refine.modelled_save": "ratio",
    "refine.measured_save": "ratio",
    "simsearch.ivf_train_s": "s",
    "simsearch.cells": "count",
    "streaming.microbatches_per_round": "count",
    "streaming.files_per_round": "count",
    "streaming.jobs_per_round": "count",
    "spark.jobs_per_batch": "count",
    "spark.stages_per_batch": "count",
    "spark.tasks_per_batch": "count",
    "spark.driver_s_per_batch": "s",
    "spark.task_busy_s_per_batch": "s",
    "spark.sched_wait_s_per_batch": "s",
    "spark.gc_ms_per_batch": "ms",
    "spark.compile_n_per_batch": "count",
    "spark.input_bytes_per_batch": "B",
    "spark.shuffle_write_bytes_per_batch": "B",
    "jvm.peak_heap_mb": "MB",
    "rss.jvm_mb": "MB",
    "rss.python_mb": "MB",
    "trace.overhead_s": "s",
    "trace.span_coverage": "ratio",
}
