"""Two-layer medoid hierarchy for graph-walk entries (r08 verdict #8,
stretch): coarse medoids → fine cells → entry medoids → walk, vs the
r08 single-layer centroid seeding (score ALL cell centroids → probe →
medoids).

What the hierarchy can and cannot buy: the walk and the entry COUNT
are identical (same probed-cell count, same per-cell medoids), so
recall can only move through entry QUALITY — the hierarchy picks the
probed cells approximately (only cells under the query's nearest
coarse medoids are considered), while the flat form picks them
exactly. What the hierarchy saves is the entry-stage CENTROID
EVALUATIONS per query: |coarse| + |fine under chosen coarse| instead
of |cells| — nothing at fixture scale (80 cells), the whole game at
1M cells. This sweep measures the recall cost of that approximation.

Usage: python tools/sweep_graph_hierarchy.py [sf_dir] [out_csv]
"""

from __future__ import annotations

import csv
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark import (
    get_spark,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.functions.vector import (
    cosine,
    dist2,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.simsearch import (
    BEAM_ENTRY_CELLS,
    BEAM_ENTRY_PER_CELL,
    BEAM_ROUNDS,
    BEAM_WIDTH,
    GRAPH_DEGREE,
    IVF_STRIDE,
    ann_recall,
    beam_candidates,
    cell_medoids,
    centroid_seeded_entries,
    ivf_centroids,
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

K = 20
COARSE_EVERY = 4   # coarse layer = every 4th cell centroid
N_COARSE_PROBE = 2  # coarse medoids probed per query


def hierarchical_entries(queries, corpus):
    """(query_id, vec_id, score) entries picked through the two-layer
    medoid hierarchy; returns (entries, avg_fine_cands)."""
    cents = ivf_centroids(corpus)
    coarse = cents.where(
        (F.col("centroid_id") / IVF_STRIDE).cast("bigint") % COARSE_EVERY == 0
    ).select(F.col("centroid_id").alias("coarse_id"), F.col("cvec").alias("coarse_vec"))
    # fine cell -> nearest coarse medoid (offline, broadcast argmin)
    f2c = (
        cents.crossJoin(F.broadcast(coarse))
        .select(
            "centroid_id", "cvec", "coarse_id",
            dist2("cvec", "coarse_vec").alias("__d2"),
        )
        .groupBy("centroid_id")
        .agg(
            F.min(F.struct("__d2", "coarse_id")).alias("__m"),
            F.first("cvec").alias("cvec"),
        )
        .select("centroid_id", "cvec", F.col("__m.coarse_id").alias("coarse_id"))
    )
    # layer 1: query -> top coarse medoids
    wq = Window.partitionBy("query_id").orderBy(F.col("__d2").asc(), F.col("coarse_id").asc())
    qc = (
        queries.crossJoin(F.broadcast(coarse))
        .select(
            "query_id", F.col("embedding").alias("qvec"), "coarse_id",
            dist2("embedding", "coarse_vec").alias("__d2"),
        )
        .withColumn("__r", F.row_number().over(wq))
        .where(F.col("__r") <= N_COARSE_PROBE)
        .select("query_id", "qvec", "coarse_id")
    )
    # layer 2: fine cells under the chosen coarse medoids only
    fine_cand = qc.join(F.broadcast(f2c), "coarse_id").select(
        "query_id", "qvec", "centroid_id", "cvec"
    )
    avg_fine = (
        fine_cand.groupBy("query_id").count().agg(F.avg("count")).collect()[0][0]
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("__d2").asc(), F.col("centroid_id").asc()
    )
    probed = (
        fine_cand.withColumn("__d2", dist2("qvec", "cvec"))
        .withColumn("__r", F.row_number().over(wf))
        .where(F.col("__r") <= BEAM_ENTRY_CELLS)
        .select("query_id", "qvec", F.col("centroid_id").alias("cell"))
    )
    med = cell_medoids(corpus, BEAM_ENTRY_PER_CELL)
    entries = (
        F.broadcast(probed)
        .join(med, "cell")
        .select("query_id", "vec_id", cosine("qvec", "cvec").alias("score"))
    )
    return entries, avg_fine


def run_fixture(spark, name, sf_dir, rows):
    corpus = load_table(spark, sf_dir, "embeddings")
    queries = queries_view(spark, sf_dir)
    exact = exact_topk_fixture_cached(spark, sf_dir, K, "cosine").persist()
    n_q = queries.count()
    n_cells = ivf_centroids(corpus).count()
    edges = symmetric_knn_edges(corpus, GRAPH_DEGREE, cache_key=f"hier:{sf_dir}")

    for seeding in ("flat_centroid", "two_layer"):
        if seeding == "flat_centroid":
            entries = centroid_seeded_entries(queries, corpus)
            cent_evals = n_cells
        else:
            entries, avg_fine = hierarchical_entries(queries, corpus)
            n_coarse = -(-n_cells // COARSE_EVERY)
            cent_evals = n_coarse + avg_fine
        cand = beam_candidates(
            queries, corpus, edges, BEAM_WIDTH, BEAM_ROUNDS, entries=entries
        )
        visited = cand.count()
        ann = topk_per_query(
            cand.select("query_id", F.col("vec_id").alias("neighbor_id"), "score"),
            K, ascending=False,
        )
        rec = ann_recall(ann, exact, K).collect()[0]["recall_at_k"]
        row = {
            "fixture": name,
            "seeding": seeding,
            "centroid_evals_per_query": round(float(cent_evals), 1),
            "visited_per_query": round(visited / n_q, 1),
            "recall_at_20": rec,
        }
        rows.append(row)
        print(row, flush=True)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_csv = sys.argv[2] if len(sys.argv) > 2 else "reports/sweep_graph_hierarchy.csv"
    spark = get_spark(app_name="graph-hierarchy-sweep")
    spark.sparkContext.setLogLevel("ERROR")

    import tools.recall_ladder_clustered as L

    rows = []
    run_fixture(spark, "isotropic_sf0.1", sf_dir, rows)
    d = tempfile.mkdtemp(prefix="bfann-hier-")
    L.make_clustered(d, 0.05)
    run_fixture(spark, "clustered_sig0.05", d, rows)

    os.makedirs(os.path.dirname(out_csv), exist_ok=True)
    with open(out_csv, "w", newline="") as fh:
        w = csv.DictWriter(fh, fieldnames=list(rows[0].keys()))
        w.writeheader()
        w.writerows(rows)
    print(f"wrote {out_csv}")


if __name__ == "__main__":
    main()
