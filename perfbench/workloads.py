"""The closed-loop workloads, each driven by one client.

* ``serve_refine`` — the paper's l2-tz two-phase refinement served
  from the stored layout, built with the calls the registered
  ``refine_l2_tz_served_topk`` makes.
* ``ingest_serve`` — rounds of one CDC change batch drained through the
  streaming ingest, then one query batch served merge-on-read. It
  skips refinement, FP16 and the layout.

A workload builds its store (``build``, repeated for a steady set-up
figure), serves one operation per ``step`` call, and checks every
recorded result against the NumPy oracle afterwards (``check``), so no
check ever sits inside a timing.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle
from sparkenv import data_files, engine

#: operating point of the registered served refinement query
#: (``registry.K_DEFAULT`` and ``registry.KEEP_M_DEFAULT``)
K = 20
KEEP_M = 6
MODE = "l2-tz"
BATCH = 16

CORPUS_SCHEMA = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))])
CHANGE_SCHEMA = pa.schema([
    ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
    ("op", pa.string()), ("seq", pa.int64()),
])
CHANGE_DDL = "vec_id bigint, embedding array<float>, op string, seq bigint"
QUERY_SCHEMA = "query_id bigint, embedding array<float>"


def land(path: str, table: pa.Table) -> None:
    """Write ``table`` as one parquet file that appears atomically:
    written under a hidden name (the file source skips dot files),
    then renamed into place."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def corpus_table(ids: np.ndarray, vecs: np.ndarray) -> pa.Table:
    return pa.table({"vec_id": ids, "embedding": list(vecs)}, schema=CORPUS_SCHEMA)


def rows_by_query(rows) -> dict:
    out: dict[int, list] = {}
    for r in rows:
        out.setdefault(int(r["query_id"]), []).append(
            (int(r["rank"]), int(r["neighbor_id"]), float(r["score"])))
    return out


class Workload:
    """Shared state and helpers; subclasses define the serve path."""

    name = ""
    #: operations one step counts for (a round is an ingest and a serve)
    ops_per_step = 1
    #: untimed warm-up steps: where batch latency stops falling steeply
    #: on a 4-core box (the JIT keeps shaving the refinement path for
    #: about 15 batches; the time budget allows 8)
    warm_steps = 8

    def __init__(self, spark, work: str, seed: int, n: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.n = n
        self.tr = tracer
        self.records: list[dict] = []

    # -- inputs -------------------------------------------------------------
    def make_inputs(self) -> None:
        """Generate the corpus and land it as the raw corpus file."""
        self.vecs = gen.corpus(self.seed, self.n)
        self.ids = np.arange(self.n, dtype=np.int64)
        self.corpus_path = os.path.join(self.work, "corpus.parquet")
        land(self.corpus_path, corpus_table(self.ids, self.vecs))

    def query_df(self, step: int):
        q_ids, q = gen.queries(self.seed, step, BATCH)
        pdf = pd.DataFrame({"query_id": q_ids, "embedding": list(q)})
        return self.spark.createDataFrame(pdf, QUERY_SCHEMA)

    def build_dir(self, rep: int, what: str) -> str:
        return os.path.join(self.work, f"{what}-{rep}")

    # -- per-layer probes (traced runs) ---------------------------------------
    def layer_probes(self, build_s: float) -> dict:
        """Set-up layer figures for a traced run: the FP16 pass, a layout
        build and an IVF training, each measured on this corpus (the
        workload's own build stands in for its probe)."""
        layout_s, layout_dir = self.probe_layout(build_s)
        ivf_s, cells = self.probe_ivf(build_s)
        return {"functions.fp16_s": self.probe_fp16(),
                "sources.layout_build_s": layout_s, "layout_dir": layout_dir,
                "simsearch.ivf_train_s": ivf_s, "simsearch.cells": cells}

    def probe_layout(self, build_s: float) -> tuple[float, str]:
        out = os.path.join(self.work, "probe-layout")
        return self.build_layout(out), out

    def probe_ivf(self, build_s: float) -> tuple[float, int]:
        secs, rows = self.train_ivf()
        return secs, len(rows)

    def probe_fp16(self) -> float:
        """The FP16 pandas-UDF pass over the corpus into a no-op sink."""
        fp16 = engine("functions.fp16")
        corpus = self.spark.read.parquet(self.corpus_path)
        t = time.perf_counter()
        fp16.with_reduced_precision(
            fp16.with_fp16_rounded(corpus, "embedding", "vec16"), KEEP_M
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    def build_layout(self, out: str) -> float:
        """``prepare_corpus`` + parquet write, as the registered served
        query builds its layout."""
        refine = engine("operators.refine")
        corpus = self.spark.read.parquet(self.corpus_path)
        t = time.perf_counter()
        refine.prepare_corpus(corpus, KEEP_M, MODE).write.mode("overwrite").parquet(out)
        return time.perf_counter() - t

    def train_ivf(self) -> tuple[float, list]:
        """``ivf_centroids`` on a fresh read of the corpus (its memo is
        keyed by the DataFrame), collected as the ingest's literal
        quantizer rows."""
        simsearch = engine("operators.simsearch")
        corpus = self.spark.read.parquet(self.corpus_path)
        t = time.perf_counter()
        rows = [(r.centroid_id, r.cvec) for r in simsearch.ivf_centroids(corpus).collect()]
        return time.perf_counter() - t, rows

    # -- interface ------------------------------------------------------------
    def build(self, rep: int) -> float:
        raise NotImplementedError

    def step(self, i: int, traced: bool) -> dict:
        raise NotImplementedError

    def release(self, rec: dict) -> None:
        """Post-batch cleanup, outside the timed batch."""

    def diagnose(self, rec: dict) -> None:
        """Extra counts for a traced batch, taken after its timing."""

    def check(self) -> None:
        """Set ``ok`` and ``hits`` on every record."""
        raise NotImplementedError

    def ingest_stats(self, build_s: float) -> tuple[float, float]:
        """(ingest_p50_s, ingest_rows_per_s). A read-only workload's
        ingest is its bulk store build: ``build_s``, the median warm
        build, and N ÷ it."""
        return build_s, self.n / build_s

    def stored_bytes_per_vector(self) -> float:
        raise NotImplementedError


class ServeRefine(Workload):
    name = "serve_refine"

    def build(self, rep: int) -> float:
        self.layout = self.build_dir(rep, "layout")
        # refine_topk does not read the raw corpus once given the layout
        self.corpus = self.spark.read.parquet(self.corpus_path)
        return self.build_layout(self.layout)

    def step(self, i: int, traced: bool) -> dict:
        refine = engine("operators.refine")
        tr = self.tr
        t0 = time.perf_counter()
        with tr.span("query", "sources"):
            qdf = self.query_df(i)
        with tr.span("read_layout", "sources.layout"):
            prepared = self.spark.read.parquet(self.layout)
        with tr.span("refine.plan", "operators.refine", tag_jobs=traced):
            res = refine.refine_topk(qdf, self.corpus, MODE, K, KEEP_M, prepared_corpus=prepared)
        if traced:
            with tr.span("refine.phase1", "operators.refine", tag_jobs=True) as sp:
                sp["pairs"] = res.scored.count()
        with tr.span("refine.phase2", "operators.refine", tag_jobs=traced):
            rows = res.topk.collect()
        t1 = time.perf_counter()
        return {"step": i, "latency": t1 - t0, "end": t1, "rows": rows_by_query(rows),
                "df": res.topk, "res": res, "queries": BATCH}

    def release(self, rec: dict) -> None:
        rec.pop("res").scored.unpersist()

    def check(self) -> None:
        c16 = gen.fp16_rows(self.vecs)
        for rec in self.records:
            q_ids, q = gen.queries(self.seed, rec["step"], BATCH)
            rec["ok"], rec["hits"] = oracle.check_batch(
                rec["rows"], q_ids, oracle.l2_scores(q, c16), self.ids, K, ascending=True)

    def probe_layout(self, build_s: float) -> tuple[float, str]:
        return build_s, self.layout

    def diagnose(self, rec: dict) -> None:
        rec["fetched"] = rec["res"].fetched.count()

    def stored_bytes_per_vector(self) -> float:
        return sum(os.path.getsize(f) for f in data_files(self.layout)) / self.n

    def modelled_save(self) -> float:
        """The byte model's saving from one ``refine_metrics`` call on
        the first query batch, over the served layout."""
        refine = engine("operators.refine")
        row = refine.refine_metrics(
            self.query_df(0), self.spark.read.parquet(self.corpus_path), MODE, K, KEEP_M,
            prepared_corpus=self.spark.read.parquet(self.layout),
        ).collect()[0]
        return float(row["save"])


class IngestServe(Workload):
    """One step = one round: land a CDC change file, drain it through
    ``start_delta_ingest`` (availableNow), then serve one query batch
    with ``serve_fresh_topk`` over ``delta_latest``. Each round starts a
    fresh delta store over the bare base corpus, so every round does the
    same work instead of reading more small files the longer the run
    lasts."""

    name = "ingest_serve"
    ops_per_step = 2
    warm_steps = 4
    CHANGES = {"n_new": 30, "n_reembed": 20, "n_delete": 15, "n_tie": 5}

    def make_inputs(self) -> None:
        super().make_inputs()
        self.stream = gen.ChangeStream(self.seed, self.n, **self.CHANGES)

    def build(self, rep: int) -> float:
        secs, self.centroid_rows = self.train_ivf()
        return secs

    def probe_ivf(self, build_s: float) -> tuple[float, int]:
        return build_s, len(self.centroid_rows)

    def step(self, i: int, traced: bool) -> dict:
        ingest = engine("streaming.ingest")
        tr = self.tr
        root = os.path.join(self.work, f"round-{i}")
        src, delta, ckpt = (os.path.join(root, d) for d in ("src", "delta", "ckpt"))
        os.makedirs(src)
        self.stream.reset()
        changes = self.stream.next_batch()
        with tr.span("land", "sources"):
            land(os.path.join(src, f"changes-{i:05d}.parquet"),
                 pa.table(changes, schema=CHANGE_SCHEMA))
        t_land = time.perf_counter()
        with tr.span("streaming.ingest", "streaming.ingest"):
            stream_df = (
                self.spark.readStream.schema(CHANGE_DDL)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            q = ingest.start_delta_ingest(stream_df, self.centroid_rows, delta, ckpt)
            q.awaitTermination()
        t0 = time.perf_counter()
        with tr.span("query", "sources"):
            qdf = self.query_df(i)
        with tr.span("read_base", "sources"):
            base = self.spark.read.parquet(self.corpus_path)
        with tr.span("mutate.serve_plan", "operators.mutate", tag_jobs=traced):
            df = ingest.serve_fresh_topk(qdf, base, ingest.delta_latest(self.spark, delta), K)
        with tr.span("mutate.exec", "operators.mutate", tag_jobs=traced):
            rows = df.collect()
        t1 = time.perf_counter()
        return {"step": i, "latency": t1 - t0, "end": t1, "rows": rows_by_query(rows),
                "df": df, "queries": BATCH, "ingest_s": t0 - t_land,
                "ingest_rows": len(changes["vec_id"]), "changes": changes, "delta": delta,
                "stream_run": str(q.runId),
                "microbatches": sum(1 for p in q.recentProgress if p["numInputRows"] > 0)}

    def check(self) -> None:
        for rec in self.records:
            live = dict(zip(self.ids.tolist(), self.vecs))
            oracle.apply_changes(live, rec["changes"])
            c_ids = np.fromiter(live.keys(), dtype=np.int64)
            c = np.stack(list(live.values()))
            q_ids, q = gen.queries(self.seed, rec["step"], BATCH)
            rec["live"] = len(c_ids)
            rec["ok"], rec["hits"] = oracle.check_batch(
                rec["rows"], q_ids, oracle.cosine_scores(q, c), c_ids, K, ascending=False)

    def ingest_stats(self, build_s: float) -> tuple[float, float]:
        times = [r["ingest_s"] for r in self.records]
        return statistics.median(times), sum(r["ingest_rows"] for r in self.records) / sum(times)

    def stored_bytes_per_vector(self) -> float:
        """Median over rounds of the bytes of the files that round's
        serve read (base and delta) ÷ live vectors."""
        per_round = []
        for rec in self.records:
            files = {f for scan in rec["scans"] for f in scan["files"]}
            per_round.append(sum(os.path.getsize(f) for f in files) / rec["live"])
        return statistics.median(per_round)


WORKLOADS = {w.name: w for w in (ServeRefine, IngestServe)}
