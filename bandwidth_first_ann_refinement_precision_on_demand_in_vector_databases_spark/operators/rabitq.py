"""RaBitQ-style rotated 1-bit quantization (Gao & Long, SIGMOD 2024)
— the sixth reduced-precision representation, upgrading plain sign
quantization (``operators/bq.py``) with the two ideas that made 1-bit
codes production-grade:

1. **Random rotation before the sign.** A frozen seeded orthogonal
   rotation (``rabitq_rotation_matrix.py`` — generated, not trained)
   decorrelates coordinates, so each sign bit carries near-uniform
   information regardless of the data's axis alignment. Plain BQ is
   the identity-rotation special case.
2. **A per-vector scalar correction.** Store, next to the D bits,
   one float ``inv = ‖y‖ / Σ|yⱼ|`` (y = R·x). Then

       cos(x, q)  ≈  ⟨sign(y), y_q⟩ · inv / ‖y_q‖

   is the paper's estimator ``⟨x̂,q̂⟩ ≈ ⟨u,q̂⟩ / ⟨x̂,u⟩`` with
   u = sign(y)/√D: the division by the per-vector quantization
   quality ⟨x̂,u⟩ = Σ|yⱼ|/(√D·‖y‖) is what plain Hamming lacks —
   vectors that quantize badly are no longer systematically
   over-scored.

At-rest representation: D bits + one float = D/8 + 4 bytes per
vector (12 B at D=64, vs 256 B FP32 — the same 32×-class shrink as
BQ/PQ, no training; the stored index keeps the scalar as a DOUBLE for
exact replay, 16 B). The estimator pre-ranks, the exact cosine
re-rank refines — the reference's reduce-then-refine skeleton
(``ANNCode.py:525-585``) at the 1-bit rung.

Scale shape: the rotation is one codegen ``transform`` map (zero
shuffle); the estimator scan is a broadcast-queries cross join over
the code table; only R·K ids per query late-materialize full
precision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vector import NORM_EPS, dot
from ..session import ensure_parallelism, memo
from .topk import exact_cosine_rerank, topk_per_query

#: refinement fetches R·K candidates — same convention as BQ/PQ/SQ so
#: the recall ladder compares estimators at equal candidate budgets
RABITQ_REFINE_R = 3


def _rotation_matrix_sql() -> str:
    """The frozen rotation as one SQL array-of-arrays literal (the
    ``lsh_planes`` / OPQ-rotation idiom — one string parsed JVM-side,
    never a py4j ``F.lit`` tree)."""
    from .rabitq_rotation_matrix import RABITQ_ROTATION

    rows = ", ".join(
        "array(" + ", ".join(repr(v) + "D" for v in row) + ")"
        for row in RABITQ_ROTATION
    )
    return f"array({rows})"


def rotate_expr(vec_col: str) -> str:
    """SQL text for R·x — a strict in-order fold per output coordinate
    (bit-identical to DuckDB's ``list_sum(list_transform(list_zip))``
    replay). Pure map inside whole-stage codegen."""
    return (
        f"transform({_rotation_matrix_sql()}, p -> "
        f"aggregate(zip_with({vec_col}, p, (x, w) -> cast(x AS double) * w), "
        f"cast(0.0 AS double), (acc, v) -> acc + v))"
    )


def rabitq_corpus(corpus: DataFrame) -> DataFrame:
    """(vec_id, s, inv): the dequantized serve view of the RaBitQ code
    table — s = sign(R·x) as ±1.0, inv = ‖y‖ / max(Σ|yⱼ|, ε). The two
    columns are derived from D bits + one float at rest (the packed
    form is ``bq.bq_encode`` over the rotated view; kept unpacked here
    because the estimator consumes q-side floats, not codes — the
    reconstruction-form rule of ``operators/pq.py``). Memoized per
    session AND eagerly localCheckpoint'ed (the ``ivf_residuals``
    deep-lineage rule): without the cut, every consumer re-evaluates
    the D×D rotation fold per row — per PAIR in the estimator cross
    join, and per BIT in the packed-words expression (element_at over
    an unmaterialized transform re-runs its lambda per access —
    measured 53.8s for ``rabitq_codes`` at sf0.1, 1.3s after). At
    scale this frame IS the stored code-table artifact."""

    def build() -> DataFrame:
        y = ensure_parallelism(corpus).select(
            "vec_id", F.expr(rotate_expr("embedding")).alias("y")
        )
        frame = y.select(
            "vec_id",
            F.transform(
                "y", lambda v: F.when(v >= 0, F.lit(1.0)).otherwise(F.lit(-1.0))
            ).alias("s"),
            (
                F.sqrt(
                    F.aggregate("y", F.lit(0.0), lambda acc, v: acc + v * v)
                )
                / F.greatest(
                    F.aggregate(
                        "y", F.lit(0.0), lambda acc, v: acc + F.abs(v)
                    ),
                    F.lit(NORM_EPS),
                )
            ).alias("inv"),
        )
        return frame.localCheckpoint(eager=True)

    return memo(corpus.sparkSession, "rabitq_corpus", corpus, build)


def rabitq_queries(queries: DataFrame) -> DataFrame:
    """(query_id, yq, qn): the rotated query frame with its norm floor
    — q rows, broadcast-sized; shared by the plain and IVF-composed
    serve paths."""
    return queries.select(
        "query_id", F.expr(rotate_expr("embedding")).alias("yq")
    ).select(
        "query_id",
        "yq",
        F.greatest(
            F.sqrt(F.aggregate("yq", F.lit(0.0), lambda acc, v: acc + v * v)),
            F.lit(NORM_EPS),
        ).alias("qn"),
    )


def rabitq_candidates(queries: DataFrame, corpus: DataFrame, n: int) -> DataFrame:
    """(query_id, neighbor_id): the top ``n`` per query by the RaBitQ
    estimator — the candidate generator shared by the plain serve path
    and the cushion composition; only these n ids ever leave the
    code-table scan."""
    rq = rabitq_queries(queries)
    est = rabitq_corpus(corpus).crossJoin(F.broadcast(rq)).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (dot("s", "yq") * F.col("inv") / F.col("qn")).alias("score"),
    )
    return topk_per_query(est, n, ascending=False).select(
        "query_id", "neighbor_id"
    )


def rabitq_topk(
    queries: DataFrame, corpus: DataFrame, k: int, r: int = RABITQ_REFINE_R
) -> DataFrame:
    """(query_id, rank, neighbor_id, score): estimator pre-rank over
    the RaBitQ code table, exact cosine re-rank of the top r·K. The
    query side is rotated once (q·1 rows, broadcast); the corpus-sized
    scan touches only (s, inv)."""
    ids = rabitq_candidates(queries, corpus, r * k)
    return exact_cosine_rerank(ids, corpus, queries, k)


def ivfrabitq_topk(
    queries: DataFrame, corpus: DataFrame, k: int, r: int = RABITQ_REFINE_R
) -> DataFrame:
    """IVF × RaBitQ composition: cell pruning × scalar-corrected 1-bit
    estimator pricing × exact cosine refinement — the memory-lean
    production stack (FAISS's IVF + RaBitQ pairing): the probed-cell
    scan touches only the 12-byte (s, inv) code rows, and full
    precision late-materializes for R·K ids/query. Mirrors
    ``bq.ivfbq_topk`` with the estimator replacing raw Hamming."""
    from .simsearch import IVF_NPROBE, ivf_assign, ivf_centroids, ivf_probes

    cents = ivf_centroids(corpus)
    assigned = ivf_assign(corpus, cents)
    probed = ivf_probes(queries, cents, IVF_NPROBE)
    rq = rabitq_queries(queries)
    est = (
        F.broadcast(probed.select("query_id", "cell"))
        .join(assigned.select("vec_id", "cell"), "cell")
        .join(rabitq_corpus(corpus), "vec_id")
        .join(F.broadcast(rq), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot("s", "yq") * F.col("inv") / F.col("qn")).alias("score"),
        )
    )
    ids = topk_per_query(est, r * k, ascending=False).select(
        "query_id", "neighbor_id"
    )
    return exact_cosine_rerank(ids, corpus, queries, k)


def _unpack_signs_expr(words_col: str, dim: int) -> str:
    """SQL text unpacking the packed sign words back to the ±1.0
    array: bit d of word d//32 set ⟺ y_d ≥ 0 at encode time, so the
    unpacked array equals ``rabitq_corpus``'s ``s`` exactly — the
    stored serve path is result-identical to the in-session one (one
    shared oracle). ``words_col`` must be a stored attribute (parquet
    scan), so per-element access is an array lookup, not a re-run
    lambda."""
    from .bq import BQ_WORD

    return (
        f"transform(sequence(0, {dim - 1}), d -> "
        f"IF((shiftright(element_at({words_col}, CAST(d / {BQ_WORD} AS INT) + 1), "
        f"d % {BQ_WORD}) & 1) = 1, CAST(1.0 AS DOUBLE), CAST(-1.0 AS DOUBLE)))"
    )


def rabitq_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    r: int = RABITQ_REFINE_R,
) -> DataFrame:
    """RaBitQ served entirely from the stored index
    (``layout.write_rabitq_index``): the estimator scan reads ONLY the
    12-byte (words, inv) rows and unpacks signs in codegen; raw
    vectors are touched exactly once, in the r·K exact re-rank
    (late materialization). Result-identical to ``rabitq_topk`` —
    shares its DuckDB oracle."""
    from ..sources.layout import read_rabitq_index
    from .simsearch import embedding_dim

    dim = embedding_dim(corpus)
    codes = read_rabitq_index(spark, path).select(
        "vec_id", F.expr(_unpack_signs_expr("words", dim)).alias("s"), "inv"
    )
    rq = rabitq_queries(queries)
    est = codes.crossJoin(F.broadcast(rq)).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (dot("s", "yq") * F.col("inv") / F.col("qn")).alias("score"),
    )
    ids = topk_per_query(est, r * k, ascending=False).select(
        "query_id", "neighbor_id"
    )
    return exact_cosine_rerank(ids, corpus, queries, k)
