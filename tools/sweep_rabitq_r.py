"""RaBitQ refine-R frontier at sf0.1 vs plain BQ (reports/sweep_rabitq_r.csv):
recall@20 as a function of the candidate budget R·K for the two 1-bit
estimators over the SAME corpus and re-rank.

Usage: python tools/sweep_rabitq_r.py <sf_dir>
"""
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from pyspark.sql import SparkSession

from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
    bq as BQ,
    rabitq as RBT,
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
    exact = exact_topk(queries, corpus, K, metric="cosine").persist()
    exact.count()

    rows = ["estimator,refine_r,recall_at_20"]
    for r in (1, 2, 3, 5, 8, 12):
        rec_rbt = ann_recall(RBT.rabitq_topk(queries, corpus, K, r=r), exact, K).collect()[0].recall_at_k
        rec_bq = ann_recall(BQ.bq_refined_topk(queries, corpus, K, r=r), exact, K).collect()[0].recall_at_k
        rows.append(f"rabitq,{r},{rec_rbt}")
        rows.append(f"bq_hamming,{r},{rec_bq}")
        print(rows[-2]); print(rows[-1], flush=True)

    with open(os.path.join(REPO, "reports", "sweep_rabitq_r.csv"), "w") as f:
        f.write("\n".join(rows) + "\n")
    print("written")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1])
