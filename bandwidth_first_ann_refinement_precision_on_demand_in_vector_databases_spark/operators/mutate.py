"""Vector-store mutation: upserts and deletes served over an immutable
base corpus — the LSM shape every production vector store runs (base
segments + a small in-memory delta + tombstones; FAISS `remove_ids`,
Lucene/Milvus soft deletes with merge-on-compaction are all public
instances of it). The reference is build-once/query-many
(``ANNCode.py`` has no mutation path); a deployable engine needs one.

Semantics (applied in this order, ties resolved explicitly):

1. **upsert** — the row replaces the base row with the same id;
2. **delete** — the id disappears, whether it lives in the base or in
   the upsert batch (deletes win over upserts on the same id).

Spark realization — the base is NEVER rewritten per mutation:

* ``mutated_live`` — base rows survive via a broadcast **anti-join**
  against the tombstone set (upserted ∪ deleted ids; memtable-sized,
  so the base-side scan streams once with no shuffle), then the
  surviving upserts union on. At 100 TB this is exactly the
  merge-on-read plan: tombstones broadcast to every scan task,
  base partitioning untouched.
* ``mutated_topk`` — exact cosine top-K over the live view; the
  semantic reference every index-served mutation path must equal.
* ``compact_cells`` — the maintenance op: re-assign the surviving
  delta to the IVF cells of the FROZEN base quantizer (production
  compaction does not retrain the coarse quantizer — re-clustering is
  a separate rebuild) and report per-cell occupancy after the merge.
  This is the planning input for merge scheduling (which cells grew,
  which drained).

The registered queries derive a deterministic mutation batch from the
fixture itself (``fixture_mutation``): ids ≡ UPSERT_REM (mod
UPSERT_MOD) are re-embedded with their coordinates reversed (an
SQL-replayable "new embedding"), ids ≡ DELETE_REM (mod DELETE_MOD)
are deleted; ids matching both exercise the delete-wins rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vector import cosine
from .topk import topk_per_query

#: deterministic fixture-derived mutation batch (≈9% upserts, ≈7.7%
#: deletes, with a nonempty overlap class mod 143 exercising
#: delete-wins).
UPSERT_MOD, UPSERT_REM = 11, 5
DELETE_MOD, DELETE_REM = 13, 7


def fixture_mutation(corpus: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(upserts, deletes) derived from the corpus: upserts carry the
    reversed embedding (deterministic, replayed as ``list_reverse`` in
    the DuckDB twin); deletes are bare ids."""
    upserts = corpus.where(F.col("vec_id") % UPSERT_MOD == UPSERT_REM).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    deletes = corpus.where(F.col("vec_id") % DELETE_MOD == DELETE_REM).select(
        "vec_id"
    )
    return upserts, deletes


def mutated_live(
    base: DataFrame, upserts: DataFrame, deletes: DataFrame
) -> DataFrame:
    """The live (vec_id, embedding) view after applying the mutation
    batch: base rows minus tombstoned ids, plus surviving upserts.
    Both anti-join sides broadcast (the delta is memtable-sized by
    assumption); the base scan is otherwise untouched — merge-on-read,
    no base rewrite, no shuffle of the base."""
    tomb = (
        upserts.select("vec_id").unionByName(deletes.select("vec_id")).distinct()
    )
    live_base = base.join(F.broadcast(tomb), "vec_id", "left_anti").select(
        "vec_id", "embedding"
    )
    kept_ups = upserts.join(F.broadcast(deletes), "vec_id", "left_anti").select(
        "vec_id", "embedding"
    )
    return live_base.unionByName(kept_ups)


def mutated_topk(
    queries: DataFrame,
    base: DataFrame,
    upserts: DataFrame,
    deletes: DataFrame,
    k: int,
) -> DataFrame:
    """(query_id, rank, neighbor_id, score): exact cosine top-K over
    the mutated live view — deleted ids can never appear, upserted ids
    score with their NEW embedding. The semantic contract every
    index-served mutation path (tombstoned IVF scan + delta
    brute-force) must reproduce."""
    live = mutated_live(base, upserts, deletes)
    q = F.broadcast(queries.select("query_id", F.col("embedding").alias("qv")))
    scored = live.crossJoin(q).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine("qv", "embedding").alias("score"),
    )
    return topk_per_query(scored, k, ascending=False)


def compact_cells(
    base: DataFrame, upserts: DataFrame, deletes: DataFrame
) -> DataFrame:
    """(cell, n_base_live, n_upserted, n_total): per-cell occupancy
    after merging the mutation batch into the cell-partitioned layout,
    under the base's FROZEN coarse quantizer. Counts shuffle as one
    row per vector (the argmin struct-agg of ``ivf_assign``), then one
    tiny per-cell aggregate — the merge-scheduling input, not a data
    rewrite."""
    from .simsearch import _ivf_assign_plan, ivf_centroids

    cents = ivf_centroids(base)
    tomb = (
        upserts.select("vec_id").unionByName(deletes.select("vec_id")).distinct()
    )
    live_base = base.join(F.broadcast(tomb), "vec_id", "left_anti").select(
        "vec_id", "embedding"
    )
    kept_ups = upserts.join(F.broadcast(deletes), "vec_id", "left_anti").select(
        "vec_id", "embedding"
    )
    # live_base/kept_ups are per-invocation derived frames with a
    # single consumer each: the plain assignment plan, NOT the
    # memoizing+persisting ivf_assign — a fresh frame per call would
    # never hit the memo and would pin two new persisted frames per
    # invocation until clear_caches (r12 ADVICE #1)
    tagged = _ivf_assign_plan(live_base, cents).select(
        "vec_id", "cell", F.lit(0).alias("is_up")
    ).unionByName(
        _ivf_assign_plan(kept_ups, cents).select(
            "vec_id", "cell", F.lit(1).alias("is_up")
        )
    )
    return (
        tagged.groupBy("cell")
        .agg(
            F.count(F.when(F.col("is_up") == 0, 1)).alias("n_base_live"),
            F.count(F.when(F.col("is_up") == 1, 1)).alias("n_upserted"),
            F.count("*").alias("n_total"),
        )
        .select("cell", "n_base_live", "n_upserted", "n_total")
    )


#: A cell is over-populated when its population exceeds
#: ``IVF_SPLIT_FACTOR × IVF_STRIDE``. The stride-seeded quantizer's
#: average population is ~IVF_STRIDE at ANY corpus size (cells ≈
#: N/stride), so the threshold is a constant of the centroid policy —
#: N-independent and embeddable in the SQL twin — not a per-dataset
#: statistic.
IVF_SPLIT_FACTOR = 2


def ivf_rebalance_parts(
    corpus: DataFrame, centroids: DataFrame, factor: int = IVF_SPLIT_FACTOR
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(assigned, hot, sub): the rebalance building blocks under a
    FROZEN outer quantizer — ``assigned`` is the (vec_id, embedding,
    cell) assignment, ``hot`` the over-populated cell ids, ``sub``
    the (grp=cell, cid, cvec) within-cell subcentroids trained by the
    grouped k-means (one independent k-means per hot cell in one
    job). Exposed separately so a serve path can probe the flattened
    (unsplit centroids ∪ subcentroids) set."""
    from pyspark.sql.window import Window

    from .kmeans import KMEANS_ITERS, kmeans_centroids
    from .simsearch import IVF_STRIDE, embedding_dim, ivf_assign

    assigned = ivf_assign(corpus, centroids)
    pops = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("pop"))
    hot = pops.where(F.col("pop") > factor * IVF_STRIDE).select("cell")
    ranked = assigned.join(F.broadcast(hot), "cell", "left_semi").select(
        "cell",
        "vec_id",
        "embedding",
        (
            F.row_number().over(Window.partitionBy("cell").orderBy("vec_id")) - 1
        ).alias("pid"),
    )
    pts = ranked.select(
        F.col("cell").alias("grp"), "pid", F.col("embedding").alias("pvec")
    )
    sub = kmeans_centroids(
        pts, IVF_STRIDE, KMEANS_ITERS, dim=embedding_dim(corpus)
    )
    return assigned, hot, sub


def ivf_rebalance(
    corpus: DataFrame,
    factor: int = IVF_SPLIT_FACTOR,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, cell, subcell): the IVF assignment after splitting
    over-populated cells — the maintenance op ``ivf_cell_stats``'s
    skew measurement calls for (VERDICT r11 #7). Cells whose
    population exceeds ``factor·IVF_STRIDE`` are re-clustered WITHIN
    the cell (k-means over the cell's members, seeded every
    ``IVF_STRIDE``-th member by local rank — so each split cell lands
    ~pop/IVF_STRIDE subcells of ~average population); the outer
    quantizer stays FROZEN, the ``compact_cells`` discipline —
    re-clustering the whole corpus is a separate rebuild. Pass
    ``centroids`` to rebalance under a stored quantizer (the
    production shape: drifted ingest piles into existing cells);
    default trains/reuses the session-memoized one. Unsplit rows
    carry ``subcell = -1``.

    Scale shape: hot-cell membership is a broadcast semi-join on the
    (tiny) hot-cell list; the within-cell k-means is the shared
    grouped trainer (``operators/kmeans.py``, the PQ-subspace path),
    whose update shuffle is one row per (cell, subcentroid),
    independent of N; the final re-assignment broadcasts the
    subcentroid set. Probe-cost recovery is measured in
    ``tools/experiment_ivf_rebalance.py`` on a drift-skewed corpus
    (register-only-if-it-wins evidence).
    """
    from ..functions.vector import dist2
    from .simsearch import ivf_centroids

    if centroids is None:
        centroids = ivf_centroids(corpus)
    assigned, hot, sub = ivf_rebalance_parts(corpus, centroids, factor)
    ranked = assigned.join(F.broadcast(hot), "cell", "left_semi")
    reassigned = (
        ranked.join(F.broadcast(sub), ranked["cell"] == sub["grp"])
        .select(
            "vec_id",
            "cell",
            "cid",
            dist2("embedding", "cvec").alias("__d2"),
        )
        .groupBy("vec_id")
        .agg(
            F.min(F.struct("__d2", "cid")).alias("__m"),
            F.first("cell").alias("cell"),
        )
        .select("vec_id", "cell", F.col("__m.cid").cast("int").alias("subcell"))
    )
    untouched = assigned.join(F.broadcast(hot), "cell", "left_anti").select(
        "vec_id", "cell", F.lit(-1).cast("int").alias("subcell")
    )
    return untouched.unionByName(reassigned.select("vec_id", "cell", "subcell"))
