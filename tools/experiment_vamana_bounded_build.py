"""Degree-bounded symmetrization for the Vamana BATCH build (r11
experiment — register only if it wins, the AVQ discipline).

The published batch build (Subramanya et al. 2019, Alg. 3) adds
reverse edges and RobustPrunes any node whose list overflows the
degree budget R — the property that bounds per-node sector reads in
DiskANN. Our ``vamana_edges`` symmetrizes WITHOUT that re-prune: the
stored artifact's max out-degree measures 32 at sf0.001 (budget 16),
so a walk round's expansion fan-out is up to 2× the budgeted cost.
This experiment measures what enforcing the bound does to the serve
frontier: walk recall@20 and visited-candidates/query over (a) the
current symmetrized artifact, (b) the degree-bounded one (reverse
edges merged, overflowing nodes re-pruned through the SAME
``robust_prune_pool`` fold the insert path uses, with post-build
effective vectors = the stored corpus).

Decision rule: if recall holds (±0.01) at materially fewer visited
candidates/query, the bounded build wins (bytes/query is the
engine's currency) and should be registered next round (it changes
every vamana oracle, so it cannot land mid-window). If recall drops
more than visited saves, record the negative result.

Usage: python tools/experiment_vamana_bounded_build.py [sf_dir]
Appends findings to reports/VAMANA.md by hand; writes
reports/sweep_vamana_bounded.csv.
"""

from __future__ import annotations

import csv
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark import (
    get_spark,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.functions.vector import (
    cosine,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.simsearch import (
    GRAPH_DEGREE,
    ann_recall,
    beam_candidates,
    symmetric_knn_edges,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.topk import (
    exact_topk,
    exact_topk_fixture_cached,
    topk_per_query,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.vamana import (
    VAMANA_DEGREE,
    index_pool,
    robust_prune_pool,
    vamana_kept_edges,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
    load_table,
    queries_view,
)

K = 20
CLU_N, CLU_D, CLU_CENTERS, CLU_SIGMA, CLU_STRIDE = 2000, 64, 50, 0.05, 50


def bounded_symmetrize(
    kept: DataFrame, corpus: DataFrame, degree: int = VAMANA_DEGREE
) -> DataFrame:
    """Alg. 3's closing step: merge reverse edges into each node's
    directed list and RobustPrune nodes that overflow ``degree`` —
    the same bounded pass the r11 insert path runs per batch, applied
    once at build time over all nodes."""
    fwd = kept.select(F.col("src").alias("node_id"), F.col("dst").alias("cand_id"))
    rev = kept.select(F.col("dst").alias("node_id"), F.col("src").alias("cand_id"))
    merged = fwd.unionByName(rev).distinct()
    scored = (
        merged.join(
            corpus.select(F.col("vec_id").alias("node_id"), F.col("embedding").alias("nvec")),
            "node_id",
        )
        .join(
            corpus.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cvec")),
            "cand_id",
        )
        .select("node_id", "cand_id", cosine("nvec", "cvec").alias("score"))
        .localCheckpoint(eager=True)
    )
    over = (
        scored.groupBy("node_id")
        .agg(F.count(F.lit(1)).alias("deg"))
        .where(F.col("deg") > degree)
        .select("node_id")
    )
    within = scored.join(F.broadcast(over), "node_id", "left_anti").select(
        F.col("node_id").alias("src"), F.col("cand_id").alias("dst")
    )
    pool = index_pool(
        scored.join(F.broadcast(over), "node_id", "left_semi").select(
            F.col("node_id").alias("query_id"),
            F.col("cand_id").alias("vec_id"),
            "score",
        )
    ).localCheckpoint(eager=True)
    return within.unionByName(robust_prune_pool(pool, corpus, degree))


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
    spark = get_spark(app_name="vamana-bounded-build")
    spark.sparkContext.setLogLevel("ERROR")

    fixtures = []
    corpus_f = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    fixtures.append(
        ("fixture", corpus_f, queries_view(spark, sf_dir),
         exact_topk_fixture_cached(spark, sf_dir, K, "cosine").persist())
    )
    corpus_c = clustered_corpus(spark).localCheckpoint(eager=True)
    queries_c = corpus_c.where(F.col("vec_id") % CLU_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    fixtures.append(
        ("clustered", corpus_c, queries_c,
         exact_topk(queries_c, corpus_c, K, metric="cosine").persist())
    )

    rows = []
    for name, corpus, queries, exact in fixtures:
        base = symmetric_knn_edges(corpus, GRAPH_DEGREE, cache_key=f"bb:{name}")
        kept = vamana_kept_edges(corpus, base).localCheckpoint(eager=True)
        sym = (
            kept.unionByName(
                kept.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            ).distinct().localCheckpoint(eager=True)
        )
        bounded = bounded_symmetrize(kept, corpus).localCheckpoint(eager=True)
        n_q = queries.count()
        for variant, edges in (("symmetrized", sym), ("bounded", bounded)):
            deg = edges.groupBy("src").count()
            max_deg = deg.agg(F.max("count")).collect()[0][0]
            t0 = time.perf_counter()
            cand = beam_candidates(queries, corpus, edges)
            visited = cand.count()
            ann = topk_per_query(
                cand.select("query_id", F.col("vec_id").alias("neighbor_id"), "score"),
                K, ascending=False,
            )
            rec = ann_recall(ann, exact, K).collect()[0]
            row = {
                "fixture": name,
                "variant": variant,
                "edges": edges.count(),
                "max_out_degree": max_deg,
                "recall_at_k": rec["recall_at_k"],
                "visited_per_query": round(visited / n_q, 1),
                "wall_s": round(time.perf_counter() - t0, 2),
            }
            rows.append(row)
            print(row, flush=True)

    with open("reports/sweep_vamana_bounded.csv", "w", newline="") as fh:
        w = csv.DictWriter(fh, fieldnames=list(rows[0].keys()))
        w.writeheader()
        w.writerows(rows)
    print("wrote reports/sweep_vamana_bounded.csv")


if __name__ == "__main__":
    main()
