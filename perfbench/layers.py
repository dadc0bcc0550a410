"""Per-layer metrics of a traced run.

Layer names follow the engine's modules: ``session``, ``sources``,
``functions`` (FP16), ``operators`` (``refine``, ``topk``, ``mutate``,
``simsearch``), ``streaming.ingest``, and ``spark``/``jvm`` for the
runtime underneath. Times are medians over traced batches; counts and
bytes are per traced batch (or round) unless the name says per query.
A layer a workload does not call reports 0 for its counts and bytes;
every time below is measured on every workload (set-up layers by a
probe in traced runs).
"""

from __future__ import annotations

import os
import statistics

from metrics import PER_LAYER, with_units
from sparkenv import busy_union_ms, data_files, scan_bytes
from workloads import BATCH, K

#: the spans that make up the operator call and its actions, per workload
PLAN_SPANS = ("refine.plan", "mutate.serve_plan")
EXEC_SPANS = ("refine.phase1", "refine.phase2", "mutate.exec")


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _batch_counters(counters, tr, rec) -> dict:
    groups = [f"batch-{rec['step']}"] + [s["group"] for s in tr.batch_spans(rec["step"]) if s["group"]]
    total: dict = {}
    for g in groups:
        for k, v in counters.group(g).items():
            total[k] = total.get(k, 0) + v if k != "job_spans" else total.get(k, []) + v
    return total


def per_layer(w, recs, tr, counters, footers, probes, epoch_offset, *,
              boot_s, warmup_s, jvm_rss, py_rss):
    traced = [r for r in recs if r["traced"]]
    plain = [r for r in recs if not r["traced"]]
    notes: list[str] = []
    rows = []
    for rec in traced:
        c = _batch_counters(counters, tr, rec)
        start = rec["end"] - rec["latency"]
        lo, hi = (start + epoch_offset) * 1000.0, (rec["end"] + epoch_offset) * 1000.0
        busy = busy_union_ms([(max(a, lo), min(b, hi)) for a, b in c["job_spans"] if b > lo and a < hi])
        selfs = tr.self_times(rec["step"])
        top = sum(s["end"] - s["start"] for s in tr.batch_spans(rec["step"])
                  if s["parent"] is None and s["start"] >= start)
        rows.append({
            "rec": rec, "counters": c, "self": selfs,
            "driver_s": max(0.0, rec["latency"] - busy / 1000.0),
            "coverage": top / rec["latency"],
        })

    def med(f):
        return _median(f(x) for x in rows)

    # counters kept in whole milliseconds are averaged, not medianed,
    # so they keep their resolution
    def mean(f):
        return statistics.fmean(f(x) for x in rows) if rows else 0.0

    m: dict[str, float] = {
        "session.boot_s": boot_s,
        "session.warmup_s": warmup_s,
        "sources.layout_build_s": probes["sources.layout_build_s"],
        "functions.fp16_s": probes["functions.fp16_s"],
        "simsearch.ivf_train_s": probes["simsearch.ivf_train_s"],
        "simsearch.cells": probes["simsearch.cells"],
        "operators.plan_s": med(lambda x: sum(x["self"].get(n, 0.0) for n in PLAN_SPANS)),
        "operators.exec_s": med(lambda x: sum(x["self"].get(n, 0.0) for n in EXEC_SPANS)),
        "spark.jobs_per_batch": med(lambda x: x["counters"]["jobs"]),
        "spark.stages_per_batch": med(lambda x: x["counters"]["stages"]),
        "spark.tasks_per_batch": med(lambda x: x["counters"]["tasks"]),
        "spark.driver_s_per_batch": med(lambda x: x["driver_s"]),
        "spark.task_busy_s_per_batch": mean(lambda x: x["counters"]["task_busy_ms"] / 1000.0),
        "spark.sched_wait_s_per_batch": mean(lambda x: x["counters"]["sched_wait_ms"] / 1000.0),
        "spark.gc_ms_per_batch": mean(lambda x: x["rec"]["gc_ms"]),
        "spark.compile_n_per_batch": med(lambda x: x["rec"]["compile_n"]),
        "spark.input_bytes_per_batch": med(lambda x: x["counters"]["input_bytes"]),
        "spark.shuffle_write_bytes_per_batch": med(lambda x: x["counters"]["shuffle_write_bytes"]),
        "jvm.peak_heap_mb": max((x["rec"]["live_heap_mb"] for x in rows), default=0.0),
        "rss.jvm_mb": jvm_rss,
        "rss.python_mb": py_rss,
        "trace.overhead_s": _median(r["latency"] for r in traced) - _median(r["latency"] for r in plain),
        "trace.span_coverage": min((x["coverage"] for x in rows), default=0.0),
    }

    # ---- sources: stored bytes per column, from the footers ----
    layout_files = data_files(probes["layout_dir"])
    per_col: dict[str, int] = {}
    for f in layout_files:
        for col, b in footers.column_bytes(f).items():
            per_col[col] = per_col.get(col, 0) + b
    for col in ("vec_id", "embedding", "full", "redv", "delta"):
        m[f"sources.layout_bytes_per_vector.{col}"] = per_col.get(col, 0) / w.n
    m["sources.corpus_bytes_per_vector"] = os.path.getsize(w.corpus_path) / w.n

    # ---- refinement: pairs, fetches and bytes of each phase ----
    refine = {k: 0.0 for k in ("phase1", "phase2", "pairs", "fetched", "useful", "modelled", "measured")}
    if w.name == "serve_refine" and rows:
        def phase_bytes(rec, full: bool) -> float:
            return sum(scan_bytes(footers, s) for s in rec["scans"] if ("full" in s["columns"]) == full)

        refine["phase1"] = med(lambda x: phase_bytes(x["rec"], False)) / BATCH
        refine["phase2"] = med(lambda x: phase_bytes(x["rec"], True)) / BATCH
        refine["pairs"] = med(lambda x: next(s["pairs"] for s in tr.batch_spans(x["rec"]["step"])
                                             if s["name"] == "refine.phase1")) / BATCH
        refine["fetched"] = med(lambda x: x["rec"]["fetched"]) / BATCH
        refine["useful"] = K / refine["fetched"] if refine["fetched"] else 0.0
        refine["modelled"] = w.modelled_save()
        exact_scan = footers.scan_bytes([w.corpus_path], ["vec_id", "embedding"])
        refine["measured"] = 1.0 - (refine["phase1"] + refine["phase2"]) * BATCH / exact_scan
        notes.append(f"refine: phase 1 reads {refine['phase1'] * BATCH:.0f} B and phase 2 "
                     f"{refine['phase2'] * BATCH:.0f} B per batch; an exact scan reads {exact_scan} B")
    m.update({
        "refine.phase1_bytes_per_query": refine["phase1"],
        "refine.phase2_bytes_per_query": refine["phase2"],
        "refine.pairs_per_query": refine["pairs"],
        "refine.fetched_per_query": refine["fetched"],
        "refine.useful_fetch_ratio": refine["useful"],
        "refine.modelled_save": refine["modelled"],
        "refine.measured_save": refine["measured"],
    })

    # ---- streaming ingest and the delta store ----
    stream = {k: 0.0 for k in ("micro", "files", "jobs", "delta_bpr")}
    if w.name == "ingest_serve" and rows:
        def delta_files(rec) -> set:
            return {f for s in rec["scans"] for f in s["files"] if f.startswith(rec["delta"] + os.sep)}

        # every round writes a fresh delta store, so the files a round
        # serves are the files it wrote
        stream["micro"] = med(lambda x: x["rec"]["microbatches"])
        stream["files"] = med(lambda x: len(delta_files(x["rec"])))
        tracker = counters.sc.statusTracker()
        stream["jobs"] = med(lambda x: len(tracker.getJobIdsForGroup(x["rec"]["stream_run"])))
        stream["delta_bpr"] = med(lambda x: sum(os.path.getsize(f) for f in delta_files(x["rec"]))
                                  / x["rec"]["ingest_rows"])
    m.update({
        "sources.delta_bytes_per_row": stream["delta_bpr"],
        "streaming.microbatches_per_round": stream["micro"],
        "streaming.files_per_round": stream["files"],
        "streaming.jobs_per_round": stream["jobs"],
    })

    metrics = with_units(m, PER_LAYER)
    trace_extra = {
        "workload": w.name,
        "span_coverage": m["trace.span_coverage"],
        "metrics": metrics,
        "self_times": {str(x["rec"]["step"]): x["self"] for x in rows},
        "compile_ms_est": {str(x["rec"]["step"]): x["rec"]["compile_ms_est"] for x in rows},
        "notes": notes,
    }
    return metrics, notes, trace_extra
