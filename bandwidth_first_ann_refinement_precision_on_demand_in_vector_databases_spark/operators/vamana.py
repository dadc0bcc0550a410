"""Vamana/DiskANN-style α-pruned graph construction (Subramanya et
al., "DiskANN: Fast Accurate Billion-point Nearest Neighbor Search on
a Single Node", NeurIPS 2019 — public method), batched for Spark.

The r09 verdict identified graph construction quality as the engine's
only construction-limited index family: the banded KNN build
(``simsearch.knn_graph``) reaches construction recall 0.4356@5 and
caps the beam walk at 0.7375 even with centroid entries. This module
adds the two public levers Vamana contributes:

1. **Candidate enrichment** — each node's candidate pool is its
   current neighbors ∪ 2-hop neighbors over the symmetrized banded
   base graph, exactly scored (the NN-Descent observation, Dong et
   al. WWW 2011: a neighbor's neighbor is likely a neighbor).
2. **RobustPrune (α-occlusion)** — the pool is scanned in ascending
   distance order; candidate v is kept iff no already-kept u occludes
   it (α²·d²(u,v) ≤ d²(p,v) in unit-vector space, d² = 2−2·cos) and
   the degree budget is open. α > 1 preserves long-range "highway"
   edges that pure-nearest pruning destroys — the property that makes
   the Vamana graph walkable at small beam widths.

Spark realization — everything is one declarative pass, no driver
loop over rows:

* 2-hop expansion = one self-join of the edge frame on ``dst = src``
  (shuffle keyed by node id, never all-pairs);
* exact scoring re-attaches vectors by id join;
* per-node top-L pool = one per-node window rank (``topk_per_query``);
* the sequential prune folds over the ≤L-element pool with a single
  BIGINT accumulator: candidates are encoded ``bit·2²⁵ + occ`` where
  ``occ`` is the precomputed occlusion bitmask of closer candidates
  (pair space = L²/node, bounded), and the fold keeps ``cnt·2³⁰ +
  kept_mask``. Pure integer arithmetic ⇒ bit-identical in the DuckDB
  twin (``registry_simsearch`` replays it with ``list_reduce``).

Scale shape: build cost is O(N·L²) candidate scorings, shuffled by
node id — the standard published graph-build budget; the output is
the same (src, dst) edge-table artifact the existing serve path
(``simsearch.beam_candidates`` / ``sources/layout.write_graph_index``)
already consumes, so serving is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vector import cosine
from ..session import memo
from .simsearch import GRAPH_DEGREE, symmetric_knn_edges
from .topk import topk_per_query

#: candidate-pool size per node (top-L of 1-hop ∪ 2-hop by exact
#: cosine). Must stay ≤ 24: the prune fold packs the kept-set bitmask
#: into the low 24 bits of one BIGINT accumulator (see module doc).
VAMANA_L = 24
#: α² for the occlusion test in squared unit-distance space
#: (α = 1.2, the DiskANN paper's recommended build value; the test
#: α·d(u,v) ≤ d(p,v) is squared to avoid sqrt on both engines).
VAMANA_ALPHA2 = 1.44
#: out-degree budget of the pruned graph — kept equal to the banded
#: graph's GRAPH_DEGREE so the two builds compare at the same budget.
VAMANA_DEGREE = GRAPH_DEGREE

# fold-encoding constants (shared literally with the DuckDB twin)
_ENC = 1 << 25  # elem = bit·_ENC + occ  (bit ≤ 2²³, occ < 2²⁴)
_CNT = 1 << 30  # acc  = cnt·_CNT + kept_mask  (mask < 2²⁴)

assert VAMANA_L <= 24, "kept-set bitmask packs into 24 bits"


def vamana_candidate_pool(corpus: DataFrame, edges: DataFrame) -> DataFrame:
    """(node_id, j, bit, cand_id, score): each node's top-``VAMANA_L``
    exact-cosine candidates from 1-hop ∪ 2-hop over ``edges``,
    rank-indexed ``j`` = 0..L−1 (score DESC, cand_id ASC — the
    registry-wide tie-break) with ``bit = 2^j``."""
    two_hop = (
        edges.alias("e1")
        .join(edges.alias("e2"), F.col("e1.dst") == F.col("e2.src"))
        .where(F.col("e2.dst") != F.col("e1.src"))
        .select(F.col("e1.src").alias("node_id"), F.col("e2.dst").alias("cand_id"))
    )
    one_hop = edges.select(F.col("src").alias("node_id"), F.col("dst").alias("cand_id"))
    cand = two_hop.unionByName(one_hop).distinct()
    nv = corpus.select(F.col("vec_id").alias("node_id"), F.col("embedding").alias("nvec"))
    cv = corpus.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cvec"))
    scored = (
        cand.join(nv, "node_id")
        .join(cv, "cand_id")
        .select("node_id", "cand_id", cosine("nvec", "cvec").alias("score"))
    )
    pool = topk_per_query(
        scored.select(
            F.col("node_id").alias("query_id"),
            F.col("cand_id").alias("neighbor_id"),
            "score",
        ),
        VAMANA_L,
        ascending=False,
    )
    return pool.select(
        F.col("query_id").alias("node_id"),
        (F.col("rank") - 1).cast("long").alias("j"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(rank - 1 AS INT))").alias("bit"),
        F.col("neighbor_id").alias("cand_id"),
        "score",
    )


def prune_batch_pool(
    pool: DataFrame,
    corpus: DataFrame,
    degree: int = VAMANA_DEGREE,
) -> DataFrame:
    """:func:`robust_prune_pool` for a BATCH-BOUNDED pool (the insert
    path): the prune only needs vectors for the pool's candidate ids,
    so restrict the corpus to them first (map-side broadcast semi
    join — the id frame is ≤ |delta|·L rows) and broadcast the
    restricted frame into the re-attachment joins. Without this the
    prune's two inner joins sort-merge (shuffle) the full N-row
    corpus per insert batch. The batch BUILD keeps calling
    :func:`robust_prune_pool` directly — there the pool is O(N·L)
    and the corpus-side shuffle is the right plan."""
    need = pool.select(F.col("cand_id").alias("vec_id")).distinct()
    vecs = corpus.join(F.broadcast(need), "vec_id", "left_semi").localCheckpoint(
        eager=False
    )  # both pi/pj attachment joins consume it
    return robust_prune_pool(pool, F.broadcast(vecs), degree)


def robust_prune_pool(
    pool: DataFrame,
    corpus: DataFrame,
    degree: int = VAMANA_DEGREE,
) -> DataFrame:
    """RobustPrune of an indexed candidate pool — the shared core of
    the batch build (:func:`vamana_kept_edges`) and the incremental
    insert (:func:`vamana_delta_edges`). ``pool`` is (node_id, j,
    bit, cand_id, score) with j the 0-based rank (score DESC,
    cand_id ASC) and bit = 2^j; candidates are corpus members whose
    vectors re-attach by id for the pairwise occlusion test. Returns
    the directed (src, dst) kept edges, out-degree ≤ ``degree``."""
    pi = pool.select(
        "node_id", F.col("j").alias("ji"), F.col("bit").alias("biti"),
        F.col("cand_id").alias("ci"),
    ).join(
        corpus.select(F.col("vec_id").alias("ci"), F.col("embedding").alias("ivec")),
        "ci",
    )
    pj = pool.select(
        "node_id", F.col("j").alias("jj"), F.col("cand_id").alias("cj"),
        F.col("score").alias("scorej"),
    ).join(
        corpus.select(F.col("vec_id").alias("cj"), F.col("embedding").alias("jvec")),
        "cj",
    )
    # occlusion pairs: i strictly closer than j (ji < jj); the test
    # runs in squared unit-distance space d² = 2 − 2·cos so no sqrt
    # appears on either engine
    occ = (
        pi.join(pj, "node_id")
        .where(F.col("ji") < F.col("jj"))
        .where(
            F.lit(VAMANA_ALPHA2) * (F.lit(2.0) - F.lit(2.0) * cosine("ivec", "jvec"))
            <= (F.lit(2.0) - F.lit(2.0) * F.col("scorej"))
        )
        .groupBy("node_id", "jj")
        .agg(F.sum("biti").alias("occ"))
        .select(F.col("node_id").alias("onid"), "jj", "occ")
    )
    enc = (
        pool.join(
            occ,
            (F.col("node_id") == F.col("onid")) & (F.col("j") == F.col("jj")),
            "left",
        )
        .select(
            "node_id",
            "j",
            "bit",
            "cand_id",
            (F.col("bit") * F.lit(_ENC) + F.coalesce("occ", F.lit(0).cast("long"))).alias("elem"),
        )
    )
    elems = enc.groupBy("node_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "elem"))), lambda s: s["elem"]
        ).alias("elems")
    )
    # RobustPrune as one integer fold: acc = cnt·2³⁰ + kept_mask;
    # elem = bit·2²⁵ + occ. Keep iff budget open and no kept closer
    # candidate occludes — then cnt++ and set the bit.
    mask = elems.select(
        "node_id",
        F.expr(
            f"aggregate(elems, CAST(0 AS BIGINT), (acc, e) -> "
            f"IF((acc div {_CNT}) < {degree} "
            f"AND ((acc % {_CNT}) & (e % {_ENC})) = 0, "
            f"acc + {_CNT} + (e div {_ENC}), acc))"
        ).alias("acc"),
    )
    return (
        pool.join(mask, "node_id")
        .where(((F.col("acc") % F.lit(_CNT)).bitwiseAND(F.col("bit"))) != 0)
        .select(F.col("node_id").alias("src"), F.col("cand_id").alias("dst"))
    )


def vamana_kept_edges(
    corpus: DataFrame,
    base: DataFrame,
    degree: int = VAMANA_DEGREE,
) -> DataFrame:
    """Directed (src, dst) kept edges: the RobustPrune of each node's
    candidate pool over the ``base`` graph — per-node out-degree ≤
    ``degree`` by the fold's budget counter (asserted in
    ``tests/test_vamana.py``)."""
    # the pool frame feeds three consumers (occlusion pairs ×2,
    # encode, kept-edge extraction) — checkpoint it so the 16
    # hyperplane projections and the per-node rank run once, and the
    # self-join below stays shallow
    pool = vamana_candidate_pool(corpus, base).localCheckpoint(eager=False)
    return robust_prune_pool(pool, corpus, degree)


def index_pool(cand: DataFrame) -> DataFrame:
    """(node_id, j, bit, cand_id, score) from a raw scored candidate
    stream (query_id, vec_id, score): top-``VAMANA_L`` per node with
    the registry-wide tie-break and the fold's bit encoding — the
    pool shape :func:`robust_prune_pool` consumes."""
    top = topk_per_query(
        cand.select(
            "query_id", F.col("vec_id").alias("neighbor_id"), "score"
        ),
        VAMANA_L,
        ascending=False,
    )
    return top.select(
        F.col("query_id").alias("node_id"),
        (F.col("rank") - 1).cast("long").alias("j"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(rank - 1 AS INT))").alias("bit"),
        F.col("neighbor_id").alias("cand_id"),
        "score",
    )


def vamana_delta_edges(
    delta: DataFrame,
    corpus: DataFrame,
    edges: DataFrame,
    degree: int = VAMANA_DEGREE,
) -> DataFrame:
    """Incremental Vamana maintenance — the COMPLETE DiskANN insert
    (Subramanya et al. NeurIPS 2019 §3 Alg. 2, public):

    1. each incoming vector GREEDY-SEARCHES the existing α-pruned
       graph for its candidate pool (the same ``beam_candidates``
       serve core the queries use — insert cost per vector ≈ one
       query walk), then RobustPrunes the pool before linking, so
       inserted nodes keep the batch build's occlusion discipline;
    2. **resident-side maintenance (Alg. 2 step 3)**: every resident
       that receives a reverse edge merges it into its current
       adjacency; residents whose merged list overflows ``degree``
       re-run RobustPrune over their merged pool, so out-degree never
       grows monotonically under sustained ingest (the r10 gap).

    Returns the REPLACEMENT adjacency of every touched src (directed
    (src, dst) rows): merging into the stored edge table is per-src
    last-wins — drop the store's rows for emitted srcs, then append —
    the same merge-on-read discipline as ``mutate.mutated_live``.
    Every emitted src has out-degree ≤ ``degree`` by construction.

    Batch semantics (declared; the published algorithm is sequential):
    the inserted side walks and prunes against the PRE-batch state
    (order-independent, unchanged from the r10 contract), while the
    resident side scores against POST-batch "effective" vectors —
    batch members carry their new embedding, everyone else the stored
    one — because a batch member's own pool was ranked by its new
    vector. Affected residents that are themselves batch members use
    their freshly pruned list (not the store's stale rows) as the
    current adjacency. Pools wider than ``VAMANA_L`` truncate to the
    closest L before the prune — the same bounded-pool discipline the
    batch build uses. Self-links excluded (an upsert reuses its id).

    Scale shape: every frame below is bounded by the batch —
    affected residents ≤ |delta|·degree, each pool ≤ L — so the
    resident pass costs O(|delta|·degree·L²) scorings regardless of
    corpus size; the bounded id frames broadcast."""
    from .simsearch import beam_candidates

    q = delta.select(F.col("vec_id").alias("query_id"), "embedding")
    cand = beam_candidates(q, corpus, edges)
    cand = cand.where(F.col("vec_id") != F.col("query_id"))
    kept = prune_batch_pool(
        index_pool(cand).localCheckpoint(eager=False), corpus, degree
    ).localCheckpoint(eager=False)  # rev/cur/output: three consumers

    # ---- resident-side maintenance (Alg. 2 step 3) ----
    batch_ids = delta.select("vec_id").distinct()
    # post-batch effective vectors: batch members carry their new
    # embedding, everyone else the stored one
    eff = (
        corpus.join(F.broadcast(batch_ids), "vec_id", "left_anti")
        .select("vec_id", "embedding")
        .unionByName(delta.select("vec_id", "embedding"))
    )
    rev = kept.select(F.col("dst").alias("node_id"), F.col("src").alias("cand_id"))
    aff = rev.select("node_id").distinct()
    aff_src = aff.select(F.col("node_id").alias("src"))
    # current adjacency of each affected resident: the freshly pruned
    # list for batch members (their old rows were just replaced), the
    # stored edge rows otherwise
    cur = (
        edges.join(
            F.broadcast(batch_ids.select(F.col("vec_id").alias("src"))),
            "src",
            "left_anti",
        )
        .join(F.broadcast(aff_src), "src", "left_semi")
        .unionByName(kept.join(F.broadcast(aff_src), "src", "left_semi"))
        .select(F.col("src").alias("node_id"), F.col("dst").alias("cand_id"))
    )
    merged = cur.unionByName(rev).distinct().localCheckpoint(eager=False)
    # Restrict the effective-vector frame to the ids the merged pools
    # actually touch BEFORE attaching vectors. ``merged`` is bounded
    # (≤ ~2·batch·degree id pairs), so the needed-id frame broadcasts
    # and the corpus-side restriction is a MAP-SIDE semi join — the
    # corpus is scanned, never shuffled. Without this, the left joins
    # below sort-merge against the full N-row ``eff`` (a left join
    # cannot broadcast its streamed left side, so Spark shuffles BOTH
    # sides — measured 11→19→89 MB maintenance shuffle at
    # N=2k/20k/200k in tools/scale_experiment_vamana_delta_100x.py);
    # with it, ``eff_need`` is itself bounded and broadcasts, leaving
    # the maintenance pass with zero corpus-width shuffles at any N.
    need_ids = (
        merged.select(F.col("node_id").alias("vec_id"))
        .unionByName(merged.select(F.col("cand_id").alias("vec_id")))
        .distinct()
    )
    # materialized once (bounded rows): both vector-attachment
    # broadcasts below consume it, and without the checkpoint each
    # would re-scan the corpus to rebuild it
    eff_need = eff.join(F.broadcast(need_ids), "vec_id", "left_semi").localCheckpoint(
        eager=False
    )
    # Contract: every stored edge endpoint must be a corpus member —
    # an inner join here would silently DROP an edge whose dst id is
    # missing (e.g. once deletes exist) and undercount the degree the
    # re-prune decision uses (r11 ADVICE #3). Left joins + in-plan
    # raise_error keep the check free of extra actions and fail loud
    # the moment the invariant breaks instead of pruning wrong; the
    # bounded ``eff_need`` build side broadcasts under a left join.
    scored = (
        merged.join(
            F.broadcast(eff_need).select(
                F.col("vec_id").alias("node_id"), F.col("embedding").alias("nvec")
            ),
            "node_id",
            "left",
        )
        .join(
            F.broadcast(eff_need).select(
                F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cvec")
            ),
            "cand_id",
            "left",
        )
        .select(
            "node_id",
            "cand_id",
            F.when(
                F.col("nvec").isNull() | F.col("cvec").isNull(),
                F.raise_error(
                    F.concat(
                        F.lit("vamana maintenance: edge endpoint absent from "
                              "corpus (node_id="),
                        F.col("node_id").cast("string"),
                        F.lit(", cand_id="),
                        F.col("cand_id").cast("string"),
                        F.lit(") — delete support must tombstone edges first"),
                    )
                ),
            )
            .otherwise(cosine("nvec", "cvec"))
            .alias("score"),
        )
        .localCheckpoint(eager=False)  # deg/within/over-pool: three consumers
    )
    deg_over = (
        scored.groupBy("node_id")
        .agg(F.count(F.lit(1)).alias("deg"))
        .where(F.col("deg") > degree)
        .select("node_id")
    )
    within = scored.join(F.broadcast(deg_over), "node_id", "left_anti").select(
        F.col("node_id").alias("src"), F.col("cand_id").alias("dst")
    )
    over_pool = index_pool(
        scored.join(F.broadcast(deg_over), "node_id", "left_semi").select(
            F.col("node_id").alias("query_id"),
            F.col("cand_id").alias("vec_id"),
            "score",
        )
    ).localCheckpoint(eager=False)
    # eff_need already covers every id the over-pool touches (its
    # node/cand ids are a subset of merged's), so the re-prune's
    # vector re-attachment joins broadcast the bounded frame instead
    # of sort-merging the N-row eff (the same left-side-can't-
    # broadcast defect the scored joins had)
    repruned = robust_prune_pool(over_pool, F.broadcast(eff_need), degree)
    # affected batch members' kept rows were folded into `cur`; emit
    # the untouched inserted lists plus every resident's new list
    untouched = kept.join(F.broadcast(aff_src), "src", "left_anti")
    return untouched.unionByName(within).unionByName(repruned)


def vamana_edges(
    corpus: DataFrame,
    degree: int = VAMANA_DEGREE,
    cache_key: str | None = None,
) -> DataFrame:
    """Symmetrized (src, dst) edge set of the α-pruned Vamana graph.

    Build = banded base graph → 2-hop candidate pool → RobustPrune
    bitmask fold → symmetrize. Memoized + persisted per (session,
    corpus) exactly like :func:`simsearch.symmetric_knn_edges` — an
    offline index artifact, built once and served many times."""

    def build() -> DataFrame:
        base = symmetric_knn_edges(
            corpus, GRAPH_DEGREE,
            cache_key=None if cache_key is None else f"vamana-base:{cache_key}",
        )
        kept = vamana_kept_edges(corpus, base, degree)
        return (
            kept.unionByName(
                kept.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            .distinct()
            .persist()
        )

    key = (cache_key if cache_key is not None else corpus, degree)
    return memo(corpus.sparkSession, "vamana_edges", key, build)
