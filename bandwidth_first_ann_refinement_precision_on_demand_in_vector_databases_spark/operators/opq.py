"""OPQ-style product quantization — PQ behind a data-dependent
orthogonal transform (SURVEY §2 north-star; extends the reference's
reduce-then-refine skeleton, ``ANNCode.py:525-585``, with the codes
as the reduced representation).

Full OPQ (Ge et al., CVPR 2013) alternates a learned rotation with
codebook training. This operator implements the transform family that
stays exactly replayable cross-engine: a **variance-balanced dimension
permutation** — OPQ's eigenvalue-allocation principle applied in the
coordinate basis. Dimensions are ranked by variance and snake-dealt
across the ``PQ_M`` subspaces, so no subspace ends up owning all the
high-energy coordinates (plain PQ splits by position, and any energy
imbalance between position blocks directly inflates per-subspace
quantization error). A permutation is an orthogonal matrix, so every
L2 distance is invariant: OPQ scores are directly comparable to exact
scores on the original vectors.

Exactness discipline (what makes the trained transform oracle-able):

* the ranking key is the integer-exact scaled variance
  ``n·Σq² − (Σq)²`` over micro-quantized coordinates
  ``q = floor(x·1e6)`` — a BIGINT both engines compute bit-identically
  (the ``embedding_covariance`` rule), with ties broken on dimension
  index;
* the dealing is a closed-form snake: rank r lands in subspace
  ``r % M`` on even rounds and ``M−1−(r % M)`` on odd rounds, slot
  ``r // M`` — each subspace receives exactly ``D/M`` dims for any D
  divisible by M;
* the permutation applied to vectors is one generated
  ``array(element_at(...))`` SQL expression — a pure map, zero
  shuffle, fully inside whole-stage codegen (the hyperplane-LSH /
  Z-order ``F.expr`` lesson).

Scale shape: the variance pass is one map-side-combined aggregate to
D rows (collected once per session — D ints, the `embedding_dim` peek
pattern); the permuted corpus is a narrow projection; everything
downstream is the existing PQ machinery (trained codebook broadcast,
argmin as min-struct aggregate, ADC scan of codes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import memo
from .pq import PQ_M, PQ_REFINE_R, pq_topk
from .topk import exact_l2_rerank

#: micro-unit scale for the variance quantization. 1e4 (not the
#: covariance family's 1e6): the key only RANKS dimensions, so 4
#: decimal digits of variance resolution suffice, and the coarser
#: scale buys 4 orders of magnitude of integer headroom (r08 ADVICE:
#: at 1e6 the old in-engine n·Σq² multiply wrapped near n≈7.6k).
OPQ_SCALE = 10_000


def opq_permutation(corpus: DataFrame, vec_col: str = "embedding") -> list[int]:
    """``perm[dim] = newpos``: the variance-balanced snake permutation,
    trained from the corpus. Memoized per (session, corpus) — one
    D-row collect per session.

    Overflow discipline (r08 ADVICE + verdict "what's wrong" #1): the
    engines only compute the per-dim BIGINT sums ``n, Σq², Σq`` over
    ``q = floor(x·1e4)``; the ranking key ``n·Σq² − (Σq)²`` (n² × the
    variance of the quantized coordinate) is multiplied OUT of the
    engines — arbitrary-precision Python here, HUGEINT in the DuckDB
    twin — so the old silent-wrap region of the in-engine product is
    gone entirely. The remaining risk is the Σq² sum itself
    (``n·maxq² < 2^63`` ⇔ n ≲ 9.2e10 rows for |x| ≤ 1 at the 1e4
    scale); it is GUARDED from the collected ``n``/``max|q|`` — a
    corpus past the bound raises instead of training a garbage
    permutation (train on a bounded sample upstream, the
    ``kmeans.py`` stride idiom)."""
    return memo(
        corpus.sparkSession,
        "opq_perm",
        (corpus, vec_col),
        lambda: _train_permutation(corpus, vec_col),
    )


def _train_permutation(corpus: DataFrame, vec_col: str) -> list[int]:
    ex = corpus.select(F.posexplode(vec_col).alias("dim", "x")).select(
        "dim",
        F.floor(F.col("x").cast("double") * OPQ_SCALE).cast("bigint").alias("qx"),
    )
    # try_multiply/try_sum: NULL on int64 overflow under BOTH ANSI and
    # legacy modes — never a wrapped value, never a mid-job crash; the
    # guard below turns any overflow into one clear ValueError
    var = ex.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.try_sum(F.try_multiply(F.col("qx"), F.col("qx"))).alias("sq2"),
        F.try_sum("qx").alias("sq"),
        F.max(F.abs(F.col("qx"))).alias("mq"),
    )
    rows = var.collect()
    dim = len(rows)
    if dim % PQ_M:
        raise ValueError(f"PQ_M={PQ_M} does not divide embedding dim {dim}")
    # n·maxq² < 2^63 ⇒ no BIGINT sum on either engine can have
    # overflowed (Σq² ≤ n·maxq², |Σq| ≤ n·maxq ≤ n·maxq²) — checked
    # from the reliable n/max aggregates, plus the try_sum NULLs
    for r in rows:
        if (
            r["mq"] is None
            or r["sq2"] is None
            or r["sq"] is None
            or r["n"] * r["mq"] * r["mq"] >= 2**63
        ):
            raise ValueError(
                f"opq_permutation: corpus too large for integer-exact "
                f"variance at scale {OPQ_SCALE} (n={r['n']}, "
                f"max|q|={r['mq']} on dim {r['dim']}); train on a "
                f"deterministic sample (vec_id % stride = 0) instead"
            )
    subdim = dim // PQ_M
    order = sorted(
        rows, key=lambda r: (-(r["n"] * r["sq2"] - r["sq"] * r["sq"]), r["dim"])
    )
    newpos = [0] * dim
    for rk, r in enumerate(order):
        rnd, p = divmod(rk, PQ_M)
        sub = p if rnd % 2 == 0 else PQ_M - 1 - p
        newpos[r["dim"]] = sub * subdim + rnd
    return newpos


def permute_expr(perm: list[int], vec_col: str) -> str:
    """SQL text building the permuted array: output position p takes
    the input element whose ``perm[dim] == p``. One expression string
    parsed JVM-side (never a py4j ``F.lit`` tree)."""
    src_for = [0] * len(perm)
    for d, p in enumerate(perm):
        src_for[p] = d
    terms = ", ".join(f"element_at({vec_col}, {d + 1})" for d in src_for)
    return f"array({terms})"


def opq_permuted_corpus(
    corpus: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """The permuted corpus view (id, embedding) — memoized per session
    so every PQ artifact keyed by the corpus frame downstream
    (codebook, codes, reconstruction) is trained once and shared."""
    return memo(
        corpus.sparkSession,
        "opq_corpus",
        (corpus, vec_col, id_col),
        lambda: corpus.select(
            F.col(id_col).alias("vec_id"),
            F.expr(permute_expr(opq_permutation(corpus, vec_col), vec_col)).alias("embedding"),
        ),
    )


def opq_topk(queries: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """ADC top-K in the permuted space. Permutations preserve L2, so
    scores/ranks are directly comparable to plain PQ and to exact —
    the only change is WHICH coordinates share a codebook."""
    perm = opq_permutation(corpus)
    pc = opq_permuted_corpus(corpus)
    pqs = queries.select(
        "query_id", F.expr(permute_expr(perm, "embedding")).alias("embedding")
    )
    return pq_topk(pqs, pc, k)


def opq_refined_topk(
    queries: DataFrame, corpus: DataFrame, k: int, r: int = PQ_REFINE_R
) -> DataFrame:
    """Precision-on-demand over OPQ codes: the permuted-space ADC pass
    nominates r·K candidates; survivors fetch the ORIGINAL
    full-precision vectors for the exact re-rank (late
    materialization — permutation invariance makes re-ranking in the
    original space exactly equivalent, so the serve path never touches
    permuted storage twice)."""
    cand_ids = opq_topk(queries, corpus, r * k).select("query_id", "neighbor_id")
    return exact_l2_rerank(cand_ids, corpus, queries, k)


# ---------------------------------------------------------------------------
# Learned-rotation OPQ (Ge et al., CVPR 2013) — frozen-matrix serve path
# ---------------------------------------------------------------------------

def _rotation_matrix_sql() -> str:
    """The frozen 64×64 orthogonal OPQ rotation as one SQL
    array-of-arrays literal (the ``lsh_planes`` idiom,
    ``simsearch._planes_array_sql``): training is NOT oracle-able as
    fixed-round integer SQL, so it lives offline in
    ``tools/train_opq_rotation.py`` and the serve path consumes the
    checked-in literal — one string parsed JVM-side, never a py4j
    ``F.lit`` tree."""
    from .opq_rotation_matrix import OPQ_ROTATION

    rows = ", ".join(
        "array(" + ", ".join(repr(v) + "D" for v in row) + ")"
        for row in OPQ_ROTATION
    )
    return f"array({rows})"


def rotate_expr(vec_col: str) -> str:
    """SQL text for R·x: each output coordinate is a strict in-order
    fold of x against one literal matrix row — the exact fold DuckDB's
    ``list_sum(list_transform(list_zip(...)))`` replays bit-for-bit
    (the hyperplane-LSH dot idiom). Pure map, zero shuffle, inside
    whole-stage codegen."""
    return (
        f"transform({_rotation_matrix_sql()}, p -> "
        f"aggregate(zip_with({vec_col}, p, (x, w) -> cast(x AS double) * w), "
        f"cast(0.0 AS double), (acc, v) -> acc + v))"
    )


def opq_rot_corpus(
    corpus: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """The rotated corpus (vec_id, embedding) — memoized AND persisted
    per session: the PQ artifacts trained over it (keyed by the
    frame) are built once and shared, and the persist stops
    each consumer from re-evaluating the 64-fold-per-coordinate
    rotation — ``pq_codes``' 8 subvector slices alone re-ran the whole
    R·x transform 8× per vector over the lazy view (the r09 rabitq
    element_at lesson). Released by ``session.clear_caches``."""
    return memo(
        corpus.sparkSession,
        "opq_rot_corpus",
        (corpus, vec_col, id_col),
        lambda: corpus.select(
            F.col(id_col).alias("vec_id"),
            F.expr(rotate_expr(vec_col)).alias("embedding"),
        ).persist(),
    )


def opq_rot_topk(queries: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """ADC top-K in the learned-rotation space: rotate corpus and
    queries by the frozen orthogonal matrix, then the standard PQ
    pipeline (trained codebook, ADC scan). R is orthogonal, so L2
    distances — and therefore ranks and recall vs the original-space
    exact oracle — are preserved up to quantization; only the codes
    improve (the alternation minimizes codebook distortion in the
    rotated basis: recall 0.42125 vs permutation-OPQ's 0.405 on the
    training distribution, reports/OPQ_ROTATION.csv)."""
    rc = opq_rot_corpus(corpus)
    rq = queries.select(
        "query_id", F.expr(rotate_expr("embedding")).alias("embedding")
    )
    return pq_topk(rq, rc, k)


def ivfopq_topk(
    queries: DataFrame, corpus: DataFrame, k: int, r: int = PQ_REFINE_R
) -> DataFrame:
    """The full FAISS-style production composition with the trained
    transform: IVF cell pruning × OPQ-coded ADC pricing × exact
    refinement, all in the permuted space. A permutation is orthogonal,
    so cell assignments, probe sets and exact distances are IDENTICAL
    to the unpermuted index — only the PQ codes improve (balanced
    subspace energy). Every stage is the existing ``pq.ivfpq_topk``
    plan over the memoized permuted corpus view."""
    from .pq import ivfpq_topk

    perm = opq_permutation(corpus)
    pc = opq_permuted_corpus(corpus)
    pqs = queries.select(
        "query_id", F.expr(permute_expr(perm, "embedding")).alias("embedding")
    )
    return ivfpq_topk(pqs, pc, k, r)
