"""Budget-adaptive vs fixed-nprobe IVF: recall and per-query candidate
spread at sf0.1. The claim under test: at MATCHED average work the
adaptive strategy bounds the per-query maximum (skew robustness),
with equal-or-better recall. Writes reports/sweep_ivf_adaptive.csv.

Usage: python tools/sweep_ivf_adaptive.py <sf_dir>
"""
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
    simsearch as S,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.simsearch import (
    ann_recall,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.topk import (
    exact_topk,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
    load_table,
    queries_view,
)

K = 20


def main(sf_dir: str) -> None:
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    queries = queries_view(spark, sf_dir)
    corpus = load_table(spark, sf_dir, "embeddings")
    cents = S.ivf_centroids(corpus)
    assigned = S.ivf_assign(corpus, cents)
    exact = exact_topk(queries, corpus, K, metric="cosine").persist()
    exact.count()

    def cand_stats(probes):
        c = F.broadcast(probes.select("query_id", "cell")).join(
            assigned.select("vec_id", "cell"), "cell"
        ).groupBy("query_id").agg(F.count("*").alias("n"))
        r = c.agg(F.avg("n"), F.max("n"), F.min("n")).collect()[0]
        return float(r[0]), int(r[1]), int(r[2])

    def recall_of(ann):
        return ann_recall(ann, exact, K).collect()[0].recall_at_k

    rows = ["strategy,param,avg_cands,max_cands,min_cands,recall_at_20"]
    for nprobe in (1, 2, 3, 4, 6):
        p = S.ivf_probes(queries, cents, nprobe)
        a, mx, mn = cand_stats(p)
        rec = recall_of(S.ivf_topk(queries, corpus, K, nprobe=nprobe))
        rows.append(f"fixed_nprobe,{nprobe},{a:.1f},{mx},{mn},{rec}")
        print(rows[-1], flush=True)
    for budget in (25, 50, 75, 100, 150):
        p = S.ivf_adaptive_probes(queries, cents, assigned, budget)
        a, mx, mn = cand_stats(p)
        rec = recall_of(S.ivf_adaptive_topk(queries, corpus, K, budget=budget))
        rows.append(f"adaptive_budget,{budget},{a:.1f},{mx},{mn},{rec}")
        print(rows[-1], flush=True)

    with open(os.path.join(REPO, "reports", "sweep_ivf_adaptive.csv"), "w") as f:
        f.write("\n".join(rows) + "\n")
    print("written")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1])
