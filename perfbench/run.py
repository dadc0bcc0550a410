#!/usr/bin/env python3
"""Serve/ingest benchmark of the bfann engine.

    python3 perfbench/run.py --workload serve_refine --seed 1 --seconds 14 --trace 0

Runs one workload in a fresh process from the root of a checkout:
starts Spark, generates the seeded inputs, builds the workload's store,
warms up for a fixed number of operations, then serves closed-loop
batches for ``--seconds``. Every result is then checked against a NumPy
oracle. The last stdout line is one JSON object: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Exits non-zero if any operation failed or returned a wrong result.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

import sparkenv  # noqa: E402
from metrics import END_TO_END, with_units  # noqa: E402
from tracer import Tracer  # noqa: E402
from workloads import BATCH, K, WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: corpus size per workload (D = 64, query batches of 16, K = 20)
SIZES = {"serve_refine": 2000, "ingest_serve": 1000}
#: store builds per run: one before the warm-up, the rest after it, on a
#: warm JVM. Set-up counts the median build; a read-only workload's
#: ingest figures count the median of the warm ones.
BUILD_REPS = 4
#: the bytes the JVM reads for a scan must match the footer model within
#: this share plus FILE_SLACK bytes per file (checksum sidecars, footer
#: and page-index reads, which the model leaves out)
BYTES_TOL, FILE_SLACK = 0.10, 4096


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=list(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def tail(values: list[float], per_batch: int) -> tuple[float, float, int]:
    """(value, percentile, samples) over per-query latencies, where
    every query of a batch has its batch's latency: the latency at the
    highest percentile that has at least 10 samples beyond it."""
    s = sorted(v for v in values for _ in range(per_batch))
    n = len(s)
    i = max(0, n - 11)
    return s[i], 100.0 * (i + 1) / n, n


def prepare_environment(work: str) -> None:
    """Keep every temp file under ``work``, let the Python workers the
    JVM forks import the engine, and hold BLAS to one thread per worker
    so no run uses more threads than cores."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # Spark prefers this variable over spark.local.dir when it is set
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    sys.path[:0] = [ROOT, HERE]


def run(args, work: str) -> tuple[dict, list[str]]:
    spark = sparkenv.start_session(os.path.join(work, "tmp"), sparkenv.cores())
    try:
        return measure(args, work, spark)
    finally:
        sparkenv.stop_session(spark)


def measure(args, work: str, spark) -> tuple[dict, list[str]]:
    """Set up, warm up, run the timed phase, then check and report."""
    sc = spark.sparkContext
    # the session is up once it has run a job: the first action pays
    # for JVM class loading and the executor start
    spark.range(1).collect()
    boot_s = time.perf_counter() - T_START
    tr = Tracer(spark)
    counters = sparkenv.Counters(spark)
    footers = sparkenv.Footers()
    epoch_offset = time.time() - time.perf_counter()
    w = WORKLOADS[args.workload](spark, work, args.seed, SIZES[args.workload], tr)
    notes: list[str] = []

    t = time.perf_counter()
    w.make_inputs()
    gen_s = time.perf_counter() - t

    builds = [w.build(0)]

    # ---- warm-up: untimed, counted in set-up ----
    t = time.perf_counter()
    warm: list[float] = []
    for step in range(w.warm_steps):
        sc.setJobGroup(f"warm-{step}", "warm-up")
        rec = w.step(step, False)
        w.release(rec)
        warm.append(rec["latency"])
    warmup_s = time.perf_counter() - t
    step = w.warm_steps

    builds += [w.build(rep) for rep in range(1, BUILD_REPS)]
    build_s = statistics.median(builds)
    setup_s = boot_s + gen_s + build_s + warmup_s
    log(f"[{w.name}] boot {boot_s:.2f}s gen {gen_s:.2f}s builds {[round(b, 3) for b in builds]} "
        f"warm-up {[round(x, 3) for x in warm]}")
    probes = w.layer_probes(build_s) if args.trace else {}

    # ---- timed phase ----
    t_timed = time.perf_counter()
    deadline = t_timed + args.seconds
    k = 0
    failures = 0
    while time.perf_counter() < deadline:
        traced = bool(args.trace) and k % 2 == 1
        sc.setJobGroup(f"batch-{step}", "batch")
        tr.enabled, tr.batch = traced, step
        if traced:
            gc0, (c0, _) = counters.gc_ms(), counters.compiles()
        try:
            rec = w.step(step, traced)
        except Exception:
            log(traceback.format_exc())
            failures += 1
            rec = None
        tr.enabled = False
        if rec is not None:
            rec["traced"] = traced
            if traced:
                rec["gc_ms"] = counters.gc_ms() - gc0
                rec["live_heap_mb"] = counters.live_heap_mb()
                c1, mean_ms = counters.compiles()
                rec["compile_n"], rec["compile_ms_est"] = c1 - c0, (c1 - c0) * mean_ms
                sc.setJobGroup(f"diag-{step}", "diagnostics")
                w.diagnose(rec)
            w.release(rec)
            w.records.append(rec)
        step += 1
        k += 1
    wall = time.perf_counter() - t_timed
    recs = w.records
    log(f"[{w.name}] timed {[round(r['latency'], 3) for r in recs]}")

    # ---- after the timed phase: counters, bytes, oracle ----
    jvm_rss, py_rss = sparkenv.peak_rss_mb(spark)
    for rec in recs:
        rec["scans"] = sparkenv.plan_scans(rec.pop("df"))
        rec["scan_bytes"] = sum(sparkenv.scan_bytes(footers, s) for s in rec["scans"])
    w.check()
    checks = sparkenv.check_byte_model(spark, footers, recs[-1]["scans"]) if recs else []
    measured = sum(m for m, _, _ in checks)
    computed = sum(c for _, c, _ in checks)
    n_files = sum(f for _, _, f in checks)
    notes.append(f"scan bytes are computed from parquet footers; the last batch's scans read "
                 f"alone: JVM read {measured} B, footers {computed} B over {n_files} files")
    bytes_ok = abs(measured - computed) <= BYTES_TOL * computed + FILE_SLACK * n_files

    attempted = failures * w.ops_per_step + len(recs) * w.ops_per_step
    ok_ops = sum(w.ops_per_step for r in recs if r["ok"])
    queries = sum(r["queries"] for r in recs)
    scan_bytes = sum(r["scan_bytes"] for r in recs)
    if not bytes_ok:
        notes.append("the JVM's read bytes and the footer byte model disagree")
    correct = failures == 0 and all(r["ok"] for r in recs) and bytes_ok and len(recs) > 0

    lat = [r["latency"] for r in recs if not r["traced"]]
    if not lat:
        raise RuntimeError("no batch completed in the timed phase")
    tail_v, tail_p, tail_n = tail(lat, BATCH)
    notes.append(f"latency_tail_s is p{tail_p:.1f} of {tail_n} query latencies "
                 f"({len(lat)} batches of {BATCH}); latency_p50_s is the median batch")
    ingest_p50, ingest_rps = w.ingest_stats(statistics.median(builds[1:]))

    if not args.trace:
        metrics = with_units({
            "setup_s": setup_s,
            "latency_p50_s": statistics.median(lat),
            "latency_tail_s": tail_v,
            "queries_per_s": queries / wall,
            "ingest_p50_s": ingest_p50,
            "ingest_rows_per_s": ingest_rps,
            "recall_at_k": sum(r["hits"] for r in recs) / (queries * K),
            "success_rate": ok_ops / attempted if attempted else 0.0,
            "scan_bytes_per_query": scan_bytes / queries,
            "stored_bytes_per_vector": w.stored_bytes_per_vector(),
            "peak_rss_mb": jvm_rss + py_rss,
        }, END_TO_END)
    else:
        import layers

        metrics, layer_notes, trace_extra = layers.per_layer(
            w, recs, tr, counters, footers, probes, epoch_offset,
            boot_s=boot_s, warmup_s=warmup_s,
            jvm_rss=jvm_rss, py_rss=py_rss)
        notes += layer_notes
        trace_dir = os.path.join(HERE, ".traces")
        os.makedirs(trace_dir, exist_ok=True)
        tr.dump(os.path.join(trace_dir, f"{w.name}-seed{args.seed}.json"), trace_extra)
        if trace_extra["span_coverage"] < 0.95:
            correct = False
            notes.append("top-level spans cover less than 95% of a traced batch")

    result = {"correct": bool(correct), "attempted": int(attempted),
              "failed": int(attempted - ok_ops), "metrics": metrics}
    return result, notes


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, sparkenv.PKG)):
        log("perfbench: the engine package is not in this checkout")
        return 2
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    os.makedirs(work)
    # Spark's JVM and its Python workers inherit fd 1; point it at
    # stderr while they live so only the report reaches stdout
    stdout_fd = os.dup(1)
    os.dup2(2, 1)
    try:
        prepare_environment(work)
        result, notes = run(args, work)
    except Exception:
        log(traceback.format_exc())
        return 1
    finally:
        sys.stdout.flush()
        os.dup2(stdout_fd, 1)
        os.close(stdout_fd)
        shutil.rmtree(work, ignore_errors=True)
    for line in notes:
        print(f"# {line}")
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
