"""Trained vs sampled IVF coarse quantizer on CLUSTERED data.

Follow-up to reports/RECALL_LADDER_CLUSTERED.md finding #3: on the
isotropic fixture a trained coarse quantizer buys nothing
(reports/KMEANS_EXPERIMENT.md — IVF_KMEANS_ITERS=0 is the Pareto
point), but on clustered data the stride-SAMPLED quantizer places
several centroids inside one true cluster and fixed nprobe then splits
clusters across cells. This measures IVF recall@20 at Lloyd
iters ∈ {0, 1, 3} on the σ=0.05 mixture fixture (and isotropic sf0.1
as control), composing the registry's own operators
(ivf_centroids(iters=...) → assign → probe → exact in-cell scoring).

Usage: python tools/experiment_ivf_trained_clustered.py
Appends results to reports/recall_ladder_clustered.csv-adjacent CSV
reports/ivf_trained_clustered.csv.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, "/root/repo")
sys.path.insert(0, "/root/repo/tools")

from recall_ladder_clustered import make_clustered  # noqa: E402

K = 20


def ivf_recall_at_iters(spark, sf_dir: str, iters: int):
    from pyspark.sql import functions as F

    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.functions.vector import (
        cosine,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
        simsearch as S,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.topk import (
        exact_topk,
        topk_per_query,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
        load_table,
        queries_view,
    )

    corpus = load_table(spark, sf_dir, "embeddings")
    queries = queries_view(spark, sf_dir)
    cents = S.ivf_centroids(corpus, S.IVF_STRIDE, iters=iters)
    assigned = S.ivf_assign(corpus, cents)
    probed = S.ivf_probes(queries, cents, S.IVF_NPROBE)
    cand = F.broadcast(probed).join(assigned, "cell").select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine("qvec", "embedding").alias("score"),
    )
    ann = topk_per_query(cand, K, ascending=False)
    exact = exact_topk(queries, corpus, K, "cosine")
    return S.ann_recall(ann, exact, K).collect()[0][0]


def main() -> None:
    from pyspark.sql import SparkSession

    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.session import (
        clear_caches,
    )

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "6g")
        .getOrCreate()
    )
    rows = ["fixture,iters,recall_at_20"]
    with tempfile.TemporaryDirectory() as tmp:
        d = os.path.join(tmp, "sig0.05")
        os.makedirs(d)
        make_clustered(d, 0.05)
        for fixture, sf_dir in (
            ("isotropic", "/root/testdata/sf0.1"),
            ("clustered_sig0.05", d),
        ):
            for iters in (0, 1, 3):
                clear_caches(spark)
                r = ivf_recall_at_iters(spark, sf_dir, iters)
                rows.append(f"{fixture},{iters},{r}")
                print(rows[-1], flush=True)
    with open("/root/repo/reports/ivf_trained_clustered.csv", "w") as f:
        f.write("\n".join(rows) + "\n")


if __name__ == "__main__":
    main()
