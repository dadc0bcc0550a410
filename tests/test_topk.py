"""Exact top-K: Spark paths vs a NumPy brute-force oracle (the
reference's own ground-truth procedure, ``ANNCode.py:264-281``)."""

from __future__ import annotations

import numpy as np
import pytest

from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.topk import (
    exact_topk,
    exact_topk_fast,
    exact_topk_pruned,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
    load_table,
    queries_view,
)

K = 10


@pytest.fixture(scope="module")
def fixture_mats(spark, sf_small):
    corpus = load_table(spark, sf_small, "embeddings").orderBy("vec_id").toPandas()
    queries = queries_view(spark, sf_small).orderBy("query_id").toPandas()
    c_ids = corpus["vec_id"].to_numpy()
    c = np.stack(corpus["embedding"].to_numpy()).astype(np.float64)
    q_ids = queries["query_id"].to_numpy()
    q = np.stack(queries["embedding"].to_numpy()).astype(np.float64)
    return c_ids, c, q_ids, q


def _np_topk(c_ids, c, q_ids, q, k, metric):
    out = {}
    for qi, qv in zip(q_ids, q):
        if metric == "cosine":
            cu = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
            qu = qv / max(np.linalg.norm(qv), 1e-12)
            s = cu @ qu
            order = np.lexsort((c_ids, -s))
        else:
            d2 = ((c - qv[None, :]) ** 2).sum(axis=1)
            order = np.lexsort((c_ids, d2))
        out[int(qi)] = [int(c_ids[i]) for i in order[:k]]
    return out


@pytest.mark.parametrize("metric", ["cosine", "l2"])
def test_exact_topk_matches_numpy(spark, sf_small, fixture_mats, metric):
    c_ids, c, q_ids, q = fixture_mats
    want = _np_topk(c_ids, c, q_ids, q, K, metric)
    got_df = exact_topk(
        queries_view(spark, sf_small),
        load_table(spark, sf_small, "embeddings"),
        K,
        metric=metric,
    ).toPandas()
    got = {
        int(qid): g.sort_values("rank")["neighbor_id"].tolist()
        for qid, g in got_df.groupby("query_id")
    }
    assert got == want


@pytest.mark.parametrize("metric", ["cosine", "l2"])
def test_fast_path_matches_sql_path(spark, sf_small, metric):
    queries = queries_view(spark, sf_small)
    corpus = load_table(spark, sf_small, "embeddings")
    slow = exact_topk(queries, corpus, K, metric=metric).toPandas()
    fast = exact_topk_fast(queries, corpus, K, metric=metric).toPandas()
    key = ["query_id", "rank"]
    slow = slow.sort_values(key, ignore_index=True)
    fast = fast.sort_values(key, ignore_index=True)
    assert slow["neighbor_id"].tolist() == fast["neighbor_id"].tolist()
    assert np.allclose(slow["score"], fast["score"], rtol=1e-9, atol=1e-12)


@pytest.mark.parametrize("metric", ["cosine", "l2"])
def test_pruned_path_bit_identical_to_sql_path(spark, sf_small, metric):
    """The pruner changes which pairs are scored, never the arithmetic:
    final frames must be EQUAL (not just close) — ids, ranks, and
    bit-level scores — since the registered queries hash these values."""
    queries = queries_view(spark, sf_small)
    corpus = load_table(spark, sf_small, "embeddings")
    slow = exact_topk(queries, corpus, K, metric=metric).toPandas()
    pruned = exact_topk_pruned(queries, corpus, K, metric=metric).toPandas()
    key = ["query_id", "rank"]
    slow = slow.sort_values(key, ignore_index=True)
    pruned = pruned.sort_values(key, ignore_index=True)
    assert slow.equals(pruned)


def test_multiprobe_lsh_candidates_superset_and_recall_geq(spark, sf_small):
    """Multi-probe probes the base bucket PLUS flipped-margin buckets,
    so its candidate set is a superset of plain LSH's and recall@K
    can only rise; probe fan-out is exactly (t+1) keys per band."""
    from pyspark.sql import functions as F

    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
        simsearch as S,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
        load_table,
        queries_view,
    )

    queries = queries_view(spark, sf_small)
    corpus = load_table(spark, sf_small, "embeddings")
    dim = S.embedding_dim(corpus)
    qb_plain = S.lsh_signature_bands(queries, "embedding", "query_id", dim=dim)
    qb_mp = S.lsh_multiprobe_bands(queries, "embedding", "query_id", t=2, dim=dim)
    n_q = queries.count()
    assert qb_plain.count() == n_q * S.LSH_BANDS
    assert qb_mp.count() == n_q * S.LSH_BANDS * 3  # base + 2 probes
    # every plain probe key is in the multi-probe set
    missing = qb_plain.join(
        qb_mp.select("id", "band", "bkey"), ["id", "band", "bkey"], "left_anti"
    )
    assert missing.count() == 0
    # flipped keys differ from base by exactly one bit
    flips = qb_mp.select("id", "band", "bkey").join(
        qb_plain.select("id", "band", "bkey"), ["id", "band", "bkey"], "left_anti"
    )
    one_bit = flips.join(
        qb_plain.select("id", "band", F.col("bkey").alias("base")), ["id", "band"]
    ).select(F.bit_count(F.col("bkey").bitwiseXOR(F.col("base"))).alias("nb"))
    assert one_bit.where(F.col("nb") != 1).count() == 0

    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.topk import (
        exact_topk_fixture_cached,
    )

    gt = exact_topk_fixture_cached(spark, sf_small, 10, "cosine")
    r_plain = S.ann_recall(S.lsh_topk(queries, corpus, 10), gt, 10).collect()[0][
        "recall_at_k"
    ]
    r_mp = S.ann_recall(
        S.lsh_multiprobe_topk(queries, corpus, 10), gt, 10
    ).collect()[0]["recall_at_k"]
    assert r_mp >= r_plain


def test_centroid_seeded_entries_bounded_and_dominating(spark, sf_small):
    """Centroid seeding starts the walk from n_cells*per_cell
    geometry-aware nodes per query (bounded, N-independent given the
    quantizer) instead of N/stride blind stride seeds; entries are
    members of the query's probed cells."""
    from pyspark.sql import functions as F

    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
        simsearch as S,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
        load_table,
        queries_view,
    )

    queries = queries_view(spark, sf_small)
    corpus = load_table(spark, sf_small, "embeddings")
    n_q = queries.count()
    entries = S.centroid_seeded_entries(queries, corpus)
    per_q = entries.groupBy("query_id").count()
    cap = S.BEAM_ENTRY_CELLS * S.BEAM_ENTRY_PER_CELL
    assert per_q.where(F.col("count") > cap).count() == 0
    assert per_q.count() == n_q  # every query gets entries
    # every entry is a medoid of one of the query's probed cells
    cents = S.ivf_centroids(corpus)
    probes = S.ivf_probes(queries, cents, S.BEAM_ENTRY_CELLS)
    med = S.cell_medoids(corpus)
    legal = probes.join(med, "cell").select("query_id", "vec_id")
    assert entries.select("query_id", "vec_id").exceptAll(legal).count() == 0


def test_adaptive_probes_prefix_invariant(spark, sf_small):
    """Budget-adaptive probing admits exactly the shortest ranked-cell
    prefix reaching the budget: every admitted cell has prior
    population < budget (so ≥1 cell per query), and adding the next
    ranked cell would only ever start at ≥ budget — i.e. per-query
    admitted population ≥ budget unless the query exhausted all
    cells."""
    from pyspark.sql import functions as F

    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.simsearch import (
        ivf_adaptive_probes,
        ivf_assign,
        ivf_centroids,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
        load_table,
        queries_view,
    )

    budget = 40
    corpus = load_table(spark, sf_small, "embeddings")
    queries = queries_view(spark, sf_small)
    cents = ivf_centroids(corpus)
    assigned = ivf_assign(corpus, cents)
    total = assigned.count()
    probes = ivf_adaptive_probes(queries, cents, assigned, budget)
    pop = (
        probes.join(assigned.select("vec_id", "cell"), "cell")
        .groupBy("query_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    n_queries = queries.count()
    assert len(pop) == n_queries  # every query probes >= 1 cell
    for r in pop:
        # reached the budget, or ran out of corpus entirely
        assert r["n"] >= min(budget, total)


def test_rabitq_self_estimate_is_one(spark, sf_small):
    """The RaBitQ estimator is exactly 1 for a vector against itself:
    est(x, x) = <s, y>·(‖y‖/Σ|y|)/‖y‖ = (Σ|y|)·(‖y‖/Σ|y|)/‖y‖ = 1 —
    the correction divides out the vector's own quantization quality
    (the defining property raw Hamming lacks)."""
    from pyspark.sql import functions as F

    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.functions.vector import (
        dot,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.rabitq import (
        rabitq_corpus,
        rabitq_queries,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
        load_table,
    )

    corpus = load_table(spark, sf_small, "embeddings").limit(25)
    rq = rabitq_queries(
        corpus.select(F.col("vec_id").alias("query_id"), "embedding")
    )
    est = (
        rabitq_corpus(corpus)
        .join(rq, F.col("vec_id") == F.col("query_id"))
        .select((dot("s", "yq") * F.col("inv") / F.col("qn")).alias("e"))
        .collect()
    )
    assert len(est) == 25
    for r in est:
        assert abs(r["e"] - 1.0) < 1e-9
