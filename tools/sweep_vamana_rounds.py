"""Rounds-to-convergence sweep for the Vamana beam walk (r11, VERDICT
r10 stretch #7).

The serve walk runs a FIXED ``BEAM_ROUNDS = 4`` expansion rounds;
DiskANN's GreedySearch terminates when the frontier stops improving.
Before building a convergence-terminated variant, measure what the
rounds knob is actually worth on the α-pruned graph: recall@20 and
visited-candidates/query (the serve byte budget — every visited id is
one reduced-vector score) at rounds ∈ 2..6, on the graded fixture and
on a planted-cluster corpus (σ=0.05, the ``recall_ladder_clustered``
idiom — real-structure regime where walks converge fast).

Decision rule (the AVQ discipline — register only if it wins): if
recall at 3 rounds ≥ recall at 4 within noise, or recall still rises
at 5–6, the fixed-4 point is off the frontier and a change is
justified; otherwise record the negative result and keep the
constant.

Usage: python tools/sweep_vamana_rounds.py [sf_dir] [out_csv]
"""

from __future__ import annotations

import csv
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark import (
    get_spark,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.simsearch import (
    ann_recall,
    beam_candidates,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.topk import (
    exact_topk,
    exact_topk_fixture_cached,
    topk_per_query,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.vamana import (
    vamana_edges,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
    load_table,
    queries_view,
)

from pyspark.sql import functions as F

K = 20
ROUNDS = (2, 3, 4, 5, 6)
CLU_N, CLU_D, CLU_CENTERS, CLU_SIGMA, CLU_STRIDE = 2000, 64, 50, 0.05, 50


def clustered_corpus(spark, seed: int = 31):
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((CLU_CENTERS, CLU_D))
    assign = rng.integers(0, CLU_CENTERS, size=CLU_N)
    x = (
        centers[assign] + CLU_SIGMA * rng.standard_normal((CLU_N, CLU_D))
    ).astype(np.float32)
    rows = [(int(i), [float(v) for v in x[i]]) for i in range(CLU_N)]
    return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_csv = sys.argv[2] if len(sys.argv) > 2 else "reports/sweep_vamana_rounds.csv"
    spark = get_spark(app_name="vamana-rounds-sweep")
    spark.sparkContext.setLogLevel("ERROR")

    fixtures = []
    corpus_f = load_table(spark, sf_dir, "embeddings")
    queries_f = queries_view(spark, sf_dir)
    exact_f = exact_topk_fixture_cached(spark, sf_dir, K, "cosine").persist()
    fixtures.append(("fixture", corpus_f, queries_f, exact_f))

    corpus_c = clustered_corpus(spark).localCheckpoint(eager=True)
    queries_c = corpus_c.where(F.col("vec_id") % CLU_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact_c = exact_topk(queries_c, corpus_c, K, metric="cosine").persist()
    fixtures.append(("clustered", corpus_c, queries_c, exact_c))

    rows = []
    for name, corpus, queries, exact in fixtures:
        edges = vamana_edges(corpus, cache_key=f"rounds-sweep:{name}")
        n_q = queries.count()
        for rounds in ROUNDS:
            t0 = time.perf_counter()
            cand = beam_candidates(queries, corpus, edges, rounds=rounds)
            visited = cand.count()
            ann = topk_per_query(
                cand.select(
                    "query_id", F.col("vec_id").alias("neighbor_id"), "score"
                ),
                K,
                ascending=False,
            )
            rec = ann_recall(ann, exact, K).collect()[0]
            row = {
                "fixture": name,
                "rounds": rounds,
                "recall_at_k": rec["recall_at_k"],
                "visited_per_query": round(visited / n_q, 1),
                "wall_s": round(time.perf_counter() - t0, 2),
            }
            rows.append(row)
            print(row, flush=True)

    os.makedirs(os.path.dirname(out_csv), exist_ok=True)
    with open(out_csv, "w", newline="") as fh:
        w = csv.DictWriter(fh, fieldnames=list(rows[0].keys()))
        w.writeheader()
        w.writerows(rows)
    print(f"wrote {out_csv}")


if __name__ == "__main__":
    main()
