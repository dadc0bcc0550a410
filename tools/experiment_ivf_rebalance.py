"""Probe-cost recovery from IVF hot-cell rebalance (VERDICT r11 #7).

Fixture: the registry's deterministic drift-skew corpus at sf0.1
(ids ≡ 1 mod 3 re-arrive pulled halfway toward the anchor vector, all
under the FROZEN base quantizer) — one cell reaches ~8× the average
population (687 of 2667 rows; skew ≈ 20).

Claim under test: splitting the hot cell into ~pop/IVF_STRIDE
subcells (``mutate.ivf_rebalance``) recovers the probe-cost model —
probed rows/query drop back toward nprobe·avg_pop at equal-or-better
recall — measured on (a) the standard fixture queries and (b)
drift-region queries (query pulled halfway to the anchor, the
workload that actually hits the hot cell).

Usage: python tools/experiment_ivf_rebalance.py
Writes reports/experiment_ivf_rebalance.csv.
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

SF = "/root/testdata/sf0.1"
K = 20


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql.window import Window

    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.functions.vector import (
        cosine,
        dist2,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
        mutate as MUT,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
        simsearch as S,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.topk import (
        exact_topk,
        topk_per_query,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.registry_vectordb import (
        _drifted_corpus,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
        load_table,
        queries_view,
    )

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "6g")
        .getOrCreate()
    )
    base = load_table(spark, SF, "embeddings")
    corpus = _drifted_corpus(base).localCheckpoint(eager=True)
    cents = S.ivf_centroids(base)

    # members with post-rebalance (cell, subcell); subcell = -1 ≡ unsplit
    reb = MUT.ivf_rebalance(corpus, centroids=cents)
    members_after = (
        reb.join(corpus, "vec_id")
        .select("vec_id", "cell", "subcell", "embedding")
        .localCheckpoint(eager=True)
    )
    members_before = members_after.select(
        "vec_id", "cell", F.lit(-1).alias("subcell"), "embedding"
    )

    # flat centroid sets: before = base centroids; after = unsplit base
    # centroids ∪ trained subcentroids
    _, hot, sub = MUT.ivf_rebalance_parts(corpus, cents)
    flat_before = cents.select(
        F.col("centroid_id").alias("cell"), F.lit(-1).alias("subcell"),
        F.col("cvec"),
    ).localCheckpoint(eager=True)
    flat_after = (
        cents.join(hot, cents["centroid_id"] == hot["cell"], "left_anti")
        .select(
            F.col("centroid_id").alias("cell"), F.lit(-1).alias("subcell"),
            F.col("cvec"),
        )
        .unionByName(
            sub.select(
                F.col("grp").alias("cell"), F.col("cid").cast("int").alias("subcell"),
                F.col("cvec"),
            )
        )
        .localCheckpoint(eager=True)
    )

    qstd = queries_view(spark, SF)  # (query_id, embedding)
    anchor = base.where(F.col("vec_id") == 0).select(F.col("embedding").alias("avec"))
    qdrift = (
        qstd.crossJoin(F.broadcast(anchor))
        .select(
            "query_id",
            F.zip_with(
                "embedding",
                "avec",
                lambda x, y: (x.cast("double") + y.cast("double")) / 2.0,
            ).alias("embedding"),
        )
    )

    exact = {}

    def run(queries, flat, members, label, queryset, nprobe, rows):
        q = queries.select("query_id", F.col("embedding").alias("qe"))
        probes = (
            q.crossJoin(F.broadcast(flat))
            .select(
                "query_id", "cell", "subcell",
                dist2("qe", "cvec").alias("__d2"),
            )
            .withColumn(
                "__r",
                F.row_number().over(
                    Window.partitionBy("query_id").orderBy("__d2", "cell", "subcell")
                ),
            )
            .where(F.col("__r") <= nprobe)
            .select("query_id", "cell", "subcell")
        )
        cand = F.broadcast(probes).join(members, ["cell", "subcell"]).select(
            "query_id", "vec_id", "embedding"
        )
        nstats = cand.groupBy("query_id").agg(F.count("*").alias("n")).agg(
            F.avg("n"), F.max("n")
        ).collect()[0]
        scored = cand.join(q, "query_id").select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine("qe", "embedding").alias("score"),
        )
        ann = topk_per_query(scored, K, ascending=False)
        if queryset not in exact:
            exact[queryset] = exact_topk(queries, corpus, K, "cosine").persist()
            exact[queryset].count()
        rec = S.ann_recall(ann, exact[queryset], K).collect()[0].recall_at_k
        rows.append(
            f"{label},{queryset},{nprobe},{float(nstats[0]):.1f},{int(nstats[1])},{rec}"
        )
        print(rows[-1], flush=True)

    rows = ["variant,queryset,nprobe,avg_probed_rows,max_probed_rows,recall_at_20"]
    for queries, queryset in ((qstd, "standard"), (qdrift, "drift_region")):
        for nprobe in (3, 6, 9):
            run(queries, flat_before, members_before, "before", queryset, nprobe, rows)
        # the split index probes smaller cells — sweep deeper nprobe so
        # the comparison is at MATCHED recall / matched probed rows,
        # not matched probe count (which would be apples-to-oranges)
        for nprobe in (3, 6, 9, 12, 18, 27, 36):
            run(queries, flat_after, members_after, "after", queryset, nprobe, rows)

    with open("/root/repo/reports/experiment_ivf_rebalance.csv", "w") as f:
        f.write("\n".join(rows) + "\n")
    print("written")
    spark.stop()


if __name__ == "__main__":
    main()
