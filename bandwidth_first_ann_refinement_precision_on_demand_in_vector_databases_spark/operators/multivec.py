"""Multi-vector late-interaction scoring (ColBERT-style MaxSim) — the
re-ranking stage of the PLAID/ColBERTv2 serving architecture (Khattab
& Zaharia 2020; Santhanam et al. 2022 — public methods): a document is
a BAG of vectors, and its score against a query (also a bag) is

    MaxSim(q, d) = Σᵢ maxⱼ cos(qᵢ, dⱼ)

— each query vector claims its best-matching document vector. The
production shape is two-stage: a cheap single-vector index proposes a
per-query candidate pool, and MaxSim re-ranks ONLY the pool (scoring
q·pool·M² slice pairs, never q·N·M²). This module implements that
re-rank as a pure Column expression — the M² cosine terms unroll into
one codegen'd expression per candidate row, no explode, no shuffle
beyond the candidate join, no Python.

Multi-vector view of the fixtures: the corpus stores one D-dim vector
per doc, so the bag is derived deterministically — M contiguous
subvector slices of length D/M (the PQ subspace split,
``operators/pq.py``). A real ColBERT store would hold per-token
vectors in an ``array<array<float>>`` column; every plan here is
shape-generic in (M, D/M), so swapping the derived slices for stored
token vectors changes only the projection that builds the bag.

Scale: candidates per query are bounded by the pool (the index's
output), the pool join broadcasts queries, and the M² arithmetic is
per-row compute inside whole-stage codegen — the classic
late-interaction trade (more FLOPs per candidate, no extra data
movement).

Stage-1 contract (r07): the candidate pool is the UNION of per-slice
top-p — for each query slice i, the p docs with the largest per-slice
MaxSim term sᵢ(d) = maxⱼ cos(qᵢ, dⱼ) — so the pool is ≤ M·p docs per
query, CONSTANT in corpus size N. This is PLAID/ColBERTv2's candidate
generation (per-query-token retrieval, then union of doc ids), and it
replaced the r06 ⌈N/5⌉ whole-vector-cosine pool whose rerank cost grew
linearly with N. Measured (reports/sweep_maxsim_union.csv, isotropic
fixture): per-slice evidence is a far stronger proxy than whole-vector
cosine — at sf0.1 p=50 (pool ≤ 200) gives pool-sufficiency 0.8275 vs
the fraction pool's 0.51 at pool 400; at an equal 400-doc budget
(p=100) it reaches 0.97. At 100 TB the per-slice ranking runs over an
IVF/LSH-pruned slice-vector index instead of the brute scan; the pool
contract (≤ M·p) is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vector import cosine
from ..session import ensure_parallelism
from .topk import topk_per_query

#: sub-vectors per bag (slices of the stored single vector).
MV_M = 4
#: stage-1 per-slice depth: top-p docs per query slice, pool ≤ M·p.
#: Swept at sf0.01/sf0.1 over p ∈ {5..200}
#: (reports/sweep_maxsim_union.csv). r08 operating point p=100 — the
#: sufficiency knee: 0.8275 (p=50) → 0.9275 (75) → **0.97** (100) →
#: 0.99 (125) → 0.9975 (150) at sf0.1; 1.0 from p=75 at sf0.01.
#: Past p=100 each +25 of p buys ≤0.02 for ~90 more pool docs/query.
#: Pool ≤ M·p = 400 — equal to the retired r06 fraction pool's budget
#: at sf0.1 but N-INDEPENDENT, with sufficiency 0.97 vs its 0.51.
MAXSIM_POOL_P = 100
#: re-ranked results kept per query.
MAXSIM_K = 10


def slice_term_expr(qcol: str, dcol: str, dim: int, i: int, m: int = MV_M) -> Column:
    """The i-th MaxSim term sᵢ(d) = maxⱼ cos(qᵢ, dⱼ): greatest of the
    M cosines between query slice i and every doc slice, unrolled."""
    sub = dim // m
    qi = F.slice(F.col(qcol), i * sub + 1, sub)
    best: Column | None = None
    for j in range(m):
        dj = F.slice(F.col(dcol), j * sub + 1, sub)
        c = cosine(qi, dj)
        best = c if best is None else F.greatest(best, c)
    assert best is not None
    return best


def maxsim_union_pool(
    queries: DataFrame,
    corpus: DataFrame,
    p: int = MAXSIM_POOL_P,
    m: int = MV_M,
    dim: int | None = None,
) -> DataFrame:
    """(query_id, neighbor_id): stage-1 candidate pool = union over the
    M query slices of the per-slice top-p docs ranked by that slice's
    own MaxSim term sᵢ(d). One corpus scan computes all M terms per
    (query, doc) as an array; posexplode + a per-(query, slice) window
    ranks them (M·|Q| window groups — never a single partition). The
    union is ≤ M·p docs per query regardless of N — the bounded-pool
    contract the linear ⌈N/5⌉ stage 1 lacked."""
    if dim is None:
        from .simsearch import embedding_dim

        dim = embedding_dim(corpus)
    if dim % m != 0:
        raise ValueError(f"bag size {m} does not divide dim {dim}")
    q = F.broadcast(queries.select("query_id", F.col("embedding").alias("qv")))
    terms = F.array(
        *[slice_term_expr("qv", "embedding", dim, i, m) for i in range(m)]
    )
    scored = (
        ensure_parallelism(corpus)
        .crossJoin(q)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.posexplode(terms).alias("slice_i", "s"),
        )
    )
    ordering = [F.col("s").desc(), F.col("neighbor_id").asc()]
    local = Window.partitionBy(
        "query_id", "slice_i", F.spark_partition_id()
    ).orderBy(*ordering)
    pruned = (
        scored.withColumn("__lr", F.row_number().over(local))
        .where(F.col("__lr") <= p)
        .drop("__lr")
    )
    final = Window.partitionBy("query_id", "slice_i").orderBy(*ordering)
    return (
        pruned.withColumn("__r", F.row_number().over(final))
        .where(F.col("__r") <= p)
        .select("query_id", "neighbor_id")
        .distinct()
    )


def maxsim_expr(qcol: str, dcol: str, dim: int, m: int = MV_M) -> Column:
    """Σᵢ maxⱼ cos(qᵢ, dⱼ) over the M×M contiguous-slice pairs,
    unrolled into one Column expression (M² cosine folds; each slice
    is ``slice(vec, i·sub+1, sub)``). ``dim`` must be divisible by
    ``m`` — the PQ subspace rule."""
    if dim % m != 0:
        raise ValueError(f"bag size {m} does not divide dim {dim}")
    sub = dim // m
    total: Column | None = None
    for i in range(m):
        qi = F.slice(F.col(qcol), i * sub + 1, sub)
        best: Column | None = None
        for j in range(m):
            dj = F.slice(F.col(dcol), j * sub + 1, sub)
            c = cosine(qi, dj)
            best = c if best is None else F.greatest(best, c)
        total = best if total is None else total + best
    assert total is not None
    return total


def maxsim_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    candidates: DataFrame,
    k: int = MAXSIM_K,
    m: int = MV_M,
    dim: int | None = None,
) -> DataFrame:
    """(query_id, rank, neighbor_id, maxsim): late-interaction re-rank
    of a per-query candidate pool. ``candidates`` is any index's
    (query_id, neighbor_id) stream — single-vector exact top-N in the
    registered query, but IVF/LSH/graph candidates compose identically
    (the ``refine_topk(candidate_ids=...)`` pattern)."""
    if dim is None:
        from .simsearch import embedding_dim

        dim = embedding_dim(corpus)
    full = corpus.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    q = F.broadcast(queries.select("query_id", F.col("embedding").alias("qv")))
    scored = (
        candidates.join(full, "neighbor_id")
        .join(q, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            maxsim_expr("qv", "embedding", dim, m).alias("score"),
        )
    )
    out = topk_per_query(scored, k, ascending=False)
    return out.withColumnRenamed("score", "maxsim")


def maxsim_topk_exhaustive(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = MAXSIM_K,
    m: int = MV_M,
    dim: int | None = None,
) -> DataFrame:
    """Exhaustive MaxSim over the whole corpus — the GROUND-TRUTH
    plan, in the exact-top-K family (q·N·M² slice folds; at scale the
    table a pipeline materializes once to measure its candidate
    pool's sufficiency, not a serving path — serving is
    :func:`maxsim_rerank` over an index's pool)."""
    if dim is None:
        from .simsearch import embedding_dim

        dim = embedding_dim(corpus)
    from ..session import ensure_parallelism

    q = F.broadcast(queries.select("query_id", F.col("embedding").alias("qv")))
    scored = (
        ensure_parallelism(corpus)
        .crossJoin(q)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            maxsim_expr("qv", "embedding", dim, m).alias("score"),
        )
    )
    out = topk_per_query(scored, k, ascending=False)
    return out.withColumnRenamed("score", "maxsim")


def token_bag_table(
    corpus: DataFrame,
    m: int = MV_M,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(doc_id, slice_j, subvec): the STORED multi-vector layout — one
    row per token/sub-vector, the shape a real ColBERT/PLAID store
    holds (per-token vectors, not packed documents). Here the bags are
    the derived M contiguous slices, so this materialization is what
    makes the module's "stored token vectors drop in" claim literal:
    every plan over this table never touches the packed ``embedding``
    column."""
    if dim is None:
        from .simsearch import embedding_dim

        dim = embedding_dim(corpus)
    if dim % m != 0:
        raise ValueError(f"bag size {m} does not divide dim {dim}")
    sub = dim // m
    slices = F.array(*[F.slice(F.col(vec_col), j * sub + 1, sub) for j in range(m)])
    return corpus.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(slices).alias("slice_j", "subvec"),
    )


def maxsim_topk_from_store(
    queries: DataFrame,
    bags: DataFrame,
    k: int = MAXSIM_K,
    p: int = MAXSIM_POOL_P,
    m: int = MV_M,
    dim: int | None = None,
) -> DataFrame:
    """Two-stage MaxSim served entirely from a stored token-bag table
    (``token_bag_table`` layout): per-slice terms come from an
    aggregate over token rows instead of an unrolled expression over
    packed vectors, and the result is bit-identical to
    ``maxsim_union_pool`` + ``maxsim_rerank`` because every float op
    replays in the same order — cosines over the identical float32
    slice arrays, per-slice max via an order-independent ``max``
    aggregate, and the final Σᵢ as a FIXED-ORDER fold of M pivoted
    columns (never a float ``sum`` aggregate, whose cross-row order
    is nondeterministic).

    Scale: the token scan is M× the rows at 1/M the row width; the
    stage-1 window partitions by (query, slice); the rerank is an
    equi-join of the ≤ M·p pool back to the terms frame. At 100 TB
    stage 1 runs over an IVF-bucketed token store (PLAID's layout) —
    the plan below is its brute-force instantiation with the same
    bounded-pool contract."""
    if dim is None:
        sub_len = bags.select(F.size("subvec")).limit(1).collect()[0][0]
        dim = sub_len * m
    sub = dim // m
    qslices = F.array(*[F.slice(F.col("embedding"), i * sub + 1, sub) for i in range(m)])
    qs = F.broadcast(
        queries.select("query_id", F.posexplode(qslices).alias("slice_i", "qsub"))
    )
    from ..session import ensure_parallelism

    pairs = (
        ensure_parallelism(bags)
        .crossJoin(qs)
        .select(
            "query_id",
            "slice_i",
            F.col("doc_id").alias("neighbor_id"),
            cosine(F.col("qsub"), F.col("subvec")).alias("c"),
        )
    )
    # per-slice MaxSim term sᵢ(d) = maxⱼ cos — feeds stage 1 AND the
    # rerank (the repo-wide ≥2-consumer persist rule)
    terms = (
        pairs.groupBy("query_id", "slice_i", "neighbor_id")
        .agg(F.max("c").alias("s"))
        .persist()
    )
    ordering = [F.col("s").desc(), F.col("neighbor_id").asc()]
    local = Window.partitionBy(
        "query_id", "slice_i", F.spark_partition_id()
    ).orderBy(*ordering)
    pruned = (
        terms.withColumn("__lr", F.row_number().over(local))
        .where(F.col("__lr") <= p)
        .drop("__lr")
    )
    final = Window.partitionBy("query_id", "slice_i").orderBy(*ordering)
    pool = (
        pruned.withColumn("__r", F.row_number().over(final))
        .where(F.col("__r") <= p)
        .select("query_id", "neighbor_id")
        .distinct()
    )
    pivoted = (
        terms.join(pool, ["query_id", "neighbor_id"])
        .groupBy("query_id", "neighbor_id")
        .agg(
            *[
                F.max(F.when(F.col("slice_i") == i, F.col("s"))).alias(f"__s{i}")
                for i in range(m)
            ]
        )
    )
    total: Column | None = None
    for i in range(m):  # fixed fold order == maxsim_expr's + chain
        total = F.col("__s0") if i == 0 else total + F.col(f"__s{i}")
    scored = pivoted.select("query_id", "neighbor_id", total.alias("score"))
    out = topk_per_query(scored, k, ascending=False)
    return out.withColumnRenamed("score", "maxsim")


def ivf_maxsim_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = MAXSIM_K,
    p: int = MAXSIM_POOL_P,
    m: int = MV_M,
    dim: int | None = None,
) -> DataFrame:
    """The full PLAID serving architecture composed end-to-end:
    stage 0 — IVF coarse quantizer prunes the corpus to the probed
    cells (~nprobe/n_cells of the data ever scanned); stage 1 — the
    per-slice top-p union pool ranks ONLY the surviving candidates
    (pool ≤ M·p, constant in N); stage 2 — exact MaxSim re-rank of
    the pool. Every stage's cost is bounded: stage 0 by the cell
    equi-join's pruning, stage 1 by the candidate stream, stage 2 by
    the pool contract. This is the composition a 100 TB
    late-interaction deployment runs (PLAID: centroid pruning →
    per-token candidate generation → full MaxSim)."""
    from .simsearch import embedding_dim, ivf_assign, ivf_centroids, ivf_probes

    if dim is None:
        dim = embedding_dim(corpus)
    cents = ivf_centroids(corpus)
    assigned = ivf_assign(corpus, cents)
    probed = ivf_probes(queries, cents)
    cand = F.broadcast(probed).join(assigned, "cell").select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "qvec",
        "embedding",
    )
    terms = F.array(
        *[slice_term_expr("qvec", "embedding", dim, i, m) for i in range(m)]
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.posexplode(terms).alias("slice_i", "s"),
    )
    ordering = [F.col("s").desc(), F.col("neighbor_id").asc()]
    local = Window.partitionBy(
        "query_id", "slice_i", F.spark_partition_id()
    ).orderBy(*ordering)
    pruned = (
        scored.withColumn("__lr", F.row_number().over(local))
        .where(F.col("__lr") <= p)
        .drop("__lr")
    )
    final = Window.partitionBy("query_id", "slice_i").orderBy(*ordering)
    pool = (
        pruned.withColumn("__r", F.row_number().over(final))
        .where(F.col("__r") <= p)
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return maxsim_rerank(queries, corpus, pool, k, m, dim)
