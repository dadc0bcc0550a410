"""Graph-ANN beam-search operating-point sweep (round-4 verdict #5).

`ann_graph_recall` was the weakest index rung at r04 (0.609@20 vs IVF
0.774 / SQ 0.994). Levers at a fixed visited-candidate budget: graph
degree (graph_k), beam width, walk rounds, entry-point stride. For
each grid point this measures Recall@20 against the exact top-K and
the visited-candidate count per query (the walk's byte budget — every
visited id is one reduced-vector score at serve time).

The banded graph build is memoized per graph_k (symmetric_knn_edges),
so the grid shares builds; the exact top-K ground truth is built once.

Usage: python tools/sweep_graph_beam.py [sf_dir] [out_csv]
"""

from __future__ import annotations

import csv
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark import (
    get_spark,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.simsearch import (
    ann_recall,
    beam_candidates,
    symmetric_knn_edges,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.topk import (
    exact_topk_fixture_cached,
    topk_per_query,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
    load_table,
    queries_view,
)

from pyspark.sql import functions as F

K = 20

#: (graph_k, beam, rounds, entry_stride) — r04 registered point first
GRID = [
    (8, 8, 3, 25),      # r04 operating point: recall 0.609, ~214 visited/q
    (8, 12, 3, 25),
    (8, 8, 4, 25),
    (8, 8, 3, 10),
    (12, 8, 3, 25),
    (12, 12, 3, 25),
    (12, 8, 4, 25),
    (16, 8, 3, 25),
    (16, 12, 3, 25),
    (16, 8, 4, 25),
    (16, 12, 4, 25),
    (16, 16, 3, 25),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_csv = sys.argv[2] if len(sys.argv) > 2 else "reports/sweep_graph_beam.csv"
    spark = get_spark(app_name="graph-beam-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    corpus = load_table(spark, sf_dir, "embeddings")
    queries = queries_view(spark, sf_dir)
    exact = exact_topk_fixture_cached(spark, sf_dir, K, "cosine").persist()
    n_q = queries.count()

    rows = []
    for graph_k, beam, rounds, stride in GRID:
        t0 = time.perf_counter()
        edges = symmetric_knn_edges(corpus, graph_k, cache_key=f"sweep:{sf_dir}")
        cand = beam_candidates(
            queries, corpus, edges, beam=beam, rounds=rounds, entry_stride=stride
        )
        visited = cand.count()
        ann = topk_per_query(
            cand.select(
                "query_id", F.col("vec_id").alias("neighbor_id"), "score"
            ),
            K,
            ascending=False,
        )
        rec = ann_recall(ann, exact, K).collect()[0]
        wall = round(time.perf_counter() - t0, 2)
        row = {
            "graph_k": graph_k,
            "beam": beam,
            "rounds": rounds,
            "entry_stride": stride,
            "recall_at_k": rec["recall_at_k"],
            "visited_per_query": round(visited / n_q, 1),
            "wall_s": wall,
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
