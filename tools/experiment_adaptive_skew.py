"""Adaptive vs fixed IVF probing on a SKEWED corpus — the regime the
budget strategy exists for. Builds a Zipf-mass clustered corpus
(cluster k gets mass ∝ 1/(k+1); sigma=0.05 so the sampled quantizer's
cells inherit the skew), then measures per-query candidate spread and
recall@20 for fixed nprobe=3 vs adaptive budget=75.
Appends nothing; writes reports/sweep_ivf_adaptive_skew.csv.

Usage: python tools/experiment_adaptive_skew.py
"""
import os
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import simsearch as S
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.topk import exact_topk
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import load_table, queries_view

N_ROWS, DIM, N_CENTERS, SEED = 2000, 64, 16, 20260816


def write_skewed_corpus() -> str:
    """A fixture dir holding the Zipf-mass clustered ``embeddings.parquet``."""
    rng = np.random.default_rng(SEED)
    centers = rng.standard_normal((N_CENTERS, DIM)).astype(np.float32)
    centers /= np.maximum(np.linalg.norm(centers, axis=1, keepdims=True), 1e-12)
    w = 1.0 / np.arange(1, N_CENTERS + 1)
    w /= w.sum()
    assign = rng.choice(N_CENTERS, size=N_ROWS, p=w)
    pts = (centers[assign] + 0.05 * rng.standard_normal((N_ROWS, DIM))).astype(np.float32)

    tmp = tempfile.mkdtemp(prefix="skew_")
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(N_ROWS, dtype=np.int64)),
            "embedding": pa.array([r for r in pts], type=pa.list_(pa.float32())),
        }),
        os.path.join(tmp, "embeddings.parquet"),
    )
    return tmp


def main() -> None:
    tmp = write_skewed_corpus()
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "32").getOrCreate())
    queries = queries_view(spark, tmp)
    corpus = load_table(spark, tmp, "embeddings")
    cents = S.ivf_centroids(corpus)
    assigned = S.ivf_assign(corpus, cents)
    sizes = assigned.groupBy("cell").count().orderBy(F.desc("count")).collect()
    print("cell sizes (top5/bottom5):", [r["count"] for r in sizes[:5]], [r["count"] for r in sizes[-5:]])
    exact = exact_topk(queries, corpus, 20, metric="cosine").persist(); exact.count()

    def stats(probes):
        c = (F.broadcast(probes.select("query_id", "cell"))
             .join(assigned.select("vec_id", "cell"), "cell")
             .groupBy("query_id").agg(F.count("*").alias("n")))
        r = c.agg(F.avg("n"), F.max("n"), F.min("n")).collect()[0]
        return float(r[0]), int(r[1]), int(r[2])

    def rec(ann):
        return S.ann_recall(ann, exact, 20).collect()[0].recall_at_k

    rows = ["strategy,param,avg_cands,max_cands,min_cands,recall_at_20"]
    a, mx, mn = stats(S.ivf_probes(queries, cents, 3))
    rows.append(f"fixed_nprobe,3,{a:.1f},{mx},{mn},{rec(S.ivf_topk(queries, corpus, 20, nprobe=3))}")
    print(rows[-1], flush=True)
    a, mx, mn = stats(S.ivf_adaptive_probes(queries, cents, assigned, 75))
    rows.append(f"adaptive_budget,75,{a:.1f},{mx},{mn},{rec(S.ivf_adaptive_topk(queries, corpus, 20, budget=75))}")
    print(rows[-1], flush=True)

    with open(os.path.join(REPO, "reports", "sweep_ivf_adaptive_skew.csv"), "w") as f:
        f.write("\n".join(rows) + "\n")
    print("written")
    spark.stop()


if __name__ == "__main__":
    main()
