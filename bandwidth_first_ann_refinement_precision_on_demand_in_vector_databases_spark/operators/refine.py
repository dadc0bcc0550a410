"""Two-phase "precision-on-demand" top-K refinement (SURVEY §2.6).

The engine's flagship operator family: a top-K similarity join that
first scans a cheap mantissa-truncated copy of the corpus, then fetches
full precision only for candidates that survive a mathematically
bounded early-rejection test ("cushion"). Six cushions, matching the
reference modes (``ANNCode.py:307-647``):

==========  =======================================================  =========
mode        cushion / rejection test                                 safety
==========  =======================================================  =========
cos-hoeff   t = √(2·ln(1/δ))·‖q∘Δᵢ‖₂ ; reject if ŝ + t < τ          tunable δ
cos-l1      b = Σⱼ|qⱼ|Δᵢⱼ ; reject if ŝ + b < τ                      zero-miss
cos-l2      Bᵢ = ‖unit(full)−unit(red)‖₂ ; reject if ŝ + Bᵢ < τ      zero-miss
l2-sym      lower = Σⱼ max(|aⱼ|−Δᵢⱼ,0)² ; reject if lower > τ        zero-miss
l2-tz       sign-aware 3-case piecewise lower bound ; same test       zero-miss
l2-hoeff    lower = ‖a‖² − 2√(2 ln(1/δ))·‖a∘Δᵢ‖₂ ; same test         tunable δ
==========  =======================================================  =========

**Scalable-path semantics (this module):** the reference scans
candidates sequentially per query with an *evolving* threshold
(``ANNCode.py:348-363``), which does not parallelize. Here the
threshold is *fixed* at τ₀ = the K-th exact score of the reduced-order
seed set. For every cushion this fetches a superset of the reference's
fetch set, so: zero-miss modes return the **identical final top-K**
(= exact top-K over the fp16 corpus); Hoeffding modes return recall ≥
the reference's. Bandwidth saving is a lower bound on the reference's
(``order_sensitive=False``). The per-query sequential replica that
reproduces the reference's evolving-threshold metrics exactly lives in
``refine_replica.py``.

**Documented deviations from the reference** (SURVEY §2.6 quirks):

* ``cos-l2`` here builds B from the fp16-rounded corpus; the reference
  feeds the raw float32 corpus to this one mode only
  (``ANNCode.py:849`` vs ``:825``) — the engine uses fp16 everywhere.
* Cushion arithmetic is DOUBLE (reference: float32). Bounds remain
  valid; survivor sets can differ on candidates within one float32
  ulp of the threshold.
* The sign used by the tz bound is taken from the *raw* coordinate
  (``x < 0``), which equals ``np.signbit`` of the truncated value for
  every input except an exact raw ``-0.0`` (measure-zero; reference
  ``ANNCode.py:513``).

**Guarantee domain (found by the property tests,**
``tests/test_refine.py``): the l2 zero-miss theorem holds for ANY
float32 input — the Δ coupling is direct. The *cosine* zero-miss
theorem additionally requires each vector to keep at least one
fp16-normal-scale coordinate: the reduced corpus is renormalized by
its OWN norm (mirroring the reference, ``ANNCode.py:744/828``), so a
vector whose coordinates are all subnormal collapses to a different
direction after truncation and the per-coordinate Δ bound no longer
covers the normalization drift — a boundary of the reference's own
math, inherited by design for parity.

**Physical plan** (what Catalyst sees): phase 1 is one NumPy kernel
(``phase1_kernel``) run by ``mapInArrow`` over the *reduced columns
only* (column pruning keeps full precision unread), scoring each
partition's rows against the broadcast query matrix where they sit; it
leaves each pair's reduced and admission scores, persisted. The seed rank is one
per-query window (Spark adds its map-side ``WindowGroupLimit`` under
the single exchange); τ₀ and the K-th seed's place come from the
seeds' exact scores; then ONE filter over the scalars joined to that
broadcast row picks the fetch set — cushion survivors and seeds
alike — and ``full`` is read once for it (late materialization, J2)
before the final window. The kernel's folds are strict left folds
from 0.0 in DOUBLE, the order of ``F.aggregate`` and of the DuckDB
oracles' ``list_sum``, which is what keeps every phase-1 scalar — and
with it every seed, τ₀, survivor and metrics row — bit-identical to
the Column folds the oracles mirror.
"""

from __future__ import annotations

import functools
import math
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.fp16 import FP16_EXP_BITS, with_fp16_rounded, with_reduced_precision
from ..session import ensure_parallelism, memo
from ..functions.vector import NORM_EPS, delta_from_exp_col, dist2, dot, l2_norm, unit
from .topk import topk_per_query

MODES = ("cos-hoeff", "cos-l1", "cos-l2", "l2-sym", "l2-tz", "l2-hoeff")

_EPS = 1e-12


def is_cosine(mode: str) -> bool:
    return mode.startswith("cos-")


def hoeff_const(delta: float) -> float:
    """√(2·ln(1/δ)) (``ANNCode.py:321``)."""
    assert 0.0 < delta < 1.0
    return math.sqrt(2.0 * math.log(1.0 / float(delta)))


# ---------------------------------------------------------------------------
# Corpus / query preparation
# ---------------------------------------------------------------------------

def prepare_corpus(
    corpus: DataFrame,
    keep_m: int,
    mode: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Materialize the per-row derived columns a refinement scan needs.

    Output columns (beyond ``vec_id``/raw): ``full`` (the exact-fetch
    representation), ``redv`` (the cheap-pass representation), ``delta``
    (per-coordinate error radii), and for cos-l2 the per-row constant
    ``bconst``. In production these are written once per ``keep_m`` as
    separate Parquet columns (paper §3.3 disaggregated placement); the
    cheap pass then scans only (redv, delta)-backed pages.
    """
    corpus = ensure_parallelism(corpus)
    df = with_reduced_precision(
        with_fp16_rounded(corpus.select(id_col, vec_col), vec_col, out_col="vec16"),
        keep_m,
        vec_col=vec_col,
    )
    delta_col = delta_from_exp_col("kept_exp", keep_m)
    if is_cosine(mode):
        # norms hoisted into their own projection: inside a transform
        # lambda the fold would re-evaluate per element (measured 4×
        # slower); as outer attributes they evaluate once per row and
        # the division lambda just reads the slot
        df = (
            df.withColumn("__n16", F.greatest(l2_norm("vec16"), F.lit(NORM_EPS)))
            .withColumn("__nred", F.greatest(l2_norm("red"), F.lit(NORM_EPS)))
            .select(
                id_col,
                vec_col,
                F.transform("vec16", lambda v: v.cast("double") / F.col("__n16")).alias("full"),
                F.transform("red", lambda v: v.cast("double") / F.col("__nred")).alias("redv"),
                delta_col.alias("delta"),
            )
        )
        # bconst is computed for the whole cosine space (not just
        # cos-l2) so one prepared frame serves every cosine mode from
        # the cache; it is one of the per-row columns the production
        # layout materializes anyway. Non-l2 modes never select it, so
        # column pruning keeps it out of their scans when uncached.
        diff = F.zip_with("full", "redv", lambda a, b: a - b)
        df = df.withColumn("bconst", l2_norm(diff))
    else:
        df = df.select(
            id_col,
            vec_col,
            F.transform("vec16", lambda v: v.cast("double")).alias("full"),
            F.transform("red", lambda v: v.cast("double")).alias("redv"),
            delta_col.alias("delta"),
        )
    return df


def _ids(df: DataFrame) -> DataFrame:
    return df.select("query_id", "neighbor_id")


def prepare_corpus_cached(
    corpus: DataFrame, keep_m: int, mode: str, cache_key: str | None = None
) -> DataFrame:
    """Persisted, memoized ``prepare_corpus``, keyed per session by
    (source key, keep_m, space): the local analog of the production
    layout, where the reduced/full/Δ columns are written once per
    keep_m as separate parquet columns (paper §3.3) and every
    refinement query reads the same files instead of re-running the
    FP16 reduction. One frame per metric space — cosine frames carry
    bconst so all three cos modes share one entry. Released by
    ``session.clear_caches``.

    ``cache_key`` identifies the corpus source (e.g. the fixture
    dir); ``None`` just persists (caller owns the unpersist)."""
    if cache_key is None:
        return prepare_corpus(corpus, keep_m, mode).persist()
    space = "cos" if is_cosine(mode) else "l2"
    return memo(
        corpus.sparkSession,
        "refine_prepared",
        (cache_key, keep_m, space),
        lambda: prepare_corpus(corpus, keep_m, mode).persist(),
    )


def prepare_queries(queries: DataFrame, mode: str, vec_col: str = "embedding") -> DataFrame:
    """Cosine queries run in unit space (``ANNCode.py:312``); Euclidean
    queries stay in value space, raw precision (``ANNCode.py:542``)."""
    expr = unit(vec_col) if is_cosine(mode) else F.transform(
        vec_col, lambda v: v.cast("double")
    )
    return queries.select("query_id", expr.alias("q"))


# ---------------------------------------------------------------------------
# Phase-1 kernel (P8): reduced score, cushion and exact score per pair
# ---------------------------------------------------------------------------

#: kernel block: rows × queries evaluated at once, so a worker's
#: (D, rows, queries) DOUBLE temporaries stay ~2 MB each at D=64
KERNEL_ROWS = 512
KERNEL_QUERIES = 8


def _left_fold(terms: np.ndarray) -> np.ndarray:
    """Σ over the leading (dimension) axis as a strict left fold from
    0.0 — the order of ``F.aggregate(arr, 0.0, (acc, v) -> acc + v)``
    and of the DuckDB oracles' ``list_sum``. NumPy's ``sum`` adds
    pairwise and would change the last bits."""
    acc = np.zeros(terms.shape[1:])
    for t in terms:
        acc += t
    return acc


def phase1_kernel(
    mode: str,
    hconst: float,
    q: np.ndarray,
    redv: np.ndarray,
    delta: np.ndarray,
    raw: np.ndarray | None = None,
    bconst: np.ndarray | None = None,
    full: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray | None]:
    """``(red_score, admit_score, exact_score)`` of every pair.

    Vector arguments are dimension-first and broadcast against each
    other over the pair axes: ``q`` is the query (unit space for cos-*,
    value space for l2-*), ``redv``/``delta``/``raw``/``full`` the
    corpus row's reduced vector, error radii, raw float32 vector (l2-tz
    signs) and full-precision vector; ``bconst`` (cos-l2) is per pair
    axis. ``hconst`` is ``hoeff_const(δ)`` for the Hoeffding modes.
    ``exact_score`` is computed only when ``full`` is given.

    Every fold is ``_left_fold`` over per-element DOUBLE terms written
    in the operand order of the reference formulas
    (``ANNCode.py:312-632``), so every scalar is bit-identical to the
    Column-expression folds the DuckDB oracles mirror:

    * cos: ŝ = Σ redv·q; admit = ŝ + cushion (cos-hoeff
      ``hconst·√Σ(q·Δ)²``, cos-l1 ``Σ|q|·Δ``, cos-l2 ``bconst``);
    * l2 (a = q − redv): d̂² = Σ a·a; admit = the distance lower bound
      (l2-sym ``Σ max(|a|−Δ,0)²``; l2-tz the sign-aware 3-case bound,
      s = sign of the raw coordinate, b = a·s: b ≤ 0 → a², b < Δ → 0,
      else (|a|−Δ)²; l2-hoeff ``d̂² − 2·hconst·√Σ(a·Δ)²``).
    """
    exact = None
    if is_cosine(mode):
        red = _left_fold(redv * q)
        if mode == "cos-hoeff":
            qd = q * delta
            admit = red + hconst * np.sqrt(_left_fold(qd * qd))
        elif mode == "cos-l1":
            admit = red + _left_fold(np.abs(q) * delta)
        else:
            admit = red + bconst
        if full is not None:
            exact = _left_fold(full * q)
    else:
        a = q - redv
        red = _left_fold(a * a)
        if mode == "l2-sym":
            lower = np.maximum(np.abs(a) - delta, 0.0)
            admit = _left_fold(lower * lower)
        elif mode == "l2-tz":
            b = a * np.where(raw < 0, -1.0, 1.0)
            over = np.abs(a) - delta
            admit = _left_fold(np.where(b <= 0, a * a, np.where(b < delta, 0.0, over * over)))
        else:
            ad = a * delta
            admit = red - 2.0 * hconst * np.sqrt(_left_fold(ad * ad))
        if full is not None:
            e = q - full
            exact = _left_fold(e * e)
    return red, admit, exact


def _matrix(batch: pa.RecordBatch, name: str, dtype) -> np.ndarray:
    """An ``array<…>`` column as an (n, D) matrix."""
    col = batch.column(name)
    values = np.asarray(col.flatten().to_numpy(zero_copy_only=False), dtype=dtype)
    n = len(col)
    if n and values.size % n == 0:
        mat = values.reshape(n, values.size // n)
        if np.all(np.diff(col.offsets.to_numpy()) == mat.shape[1]):
            return mat
    raise ValueError(f"phase 1 needs every {name} vector to have one dimension")


def _phase1_arrow(batches, bc, mode: str, hconst: float, exact: bool):
    """The ``mapInArrow`` body of :func:`phase1_scores`: a batch without
    ``query_id`` pairs every row with every broadcast query, in blocks
    of ``KERNEL_ROWS`` × ``KERNEL_QUERIES``; a batch with ``query_id``
    looks each row's query up (rows whose query is not broadcast drop,
    as in an inner join)."""
    q_ids, q_mat = bc.value
    q_dims = q_mat.T
    by_id = np.argsort(q_ids, kind="stable")
    for batch in batches:
        n = batch.num_rows
        if n == 0 or len(q_ids) == 0:
            continue
        names = batch.schema.names
        vec_id = batch.column("vec_id").to_numpy(zero_copy_only=False)
        # dimension-first views of the row-major vectors
        vecs = {"redv": _matrix(batch, "redv", np.float64).T,
                "delta": _matrix(batch, "delta", np.float64).T}
        if "embedding" in names:
            vecs["raw"] = _matrix(batch, "embedding", np.float32).T
        if exact:
            vecs["full"] = _matrix(batch, "full", np.float64).T
        bconst = (
            batch.column("bconst").to_numpy(zero_copy_only=False).astype(np.float64)
            if "bconst" in names else None
        )
        if "query_id" in names:
            row_q = batch.column("query_id").to_numpy(zero_copy_only=False)
            pos = by_id[np.minimum(np.searchsorted(q_ids, row_q, sorter=by_id), len(q_ids) - 1)]
            known = np.flatnonzero(q_ids[pos] == row_q)
            step = KERNEL_ROWS * KERNEL_QUERIES
            for r in (known[i:i + step] for i in range(0, len(known), step)):
                scores = phase1_kernel(
                    mode, hconst, q_dims[:, pos[r]],
                    bconst=None if bconst is None else bconst[r],
                    **{name: v[:, r] for name, v in vecs.items()},
                )
                yield _pairs_batch(row_q[r], vec_id[r], *scores)
            continue
        for q0 in range(0, len(q_ids), KERNEL_QUERIES):
            qs = slice(q0, q0 + KERNEL_QUERIES)
            for r0 in range(0, n, KERNEL_ROWS):
                r = slice(r0, r0 + KERNEL_ROWS)
                red, admit, ex = phase1_kernel(
                    mode, hconst, q_dims[:, None, qs],
                    bconst=None if bconst is None else bconst[r, None],
                    **{name: v[:, r, None] for name, v in vecs.items()},
                )
                rows, cols = red.shape
                yield _pairs_batch(
                    np.tile(q_ids[qs], rows), np.repeat(vec_id[r], cols),
                    red.ravel(), admit.ravel(), None if ex is None else ex.ravel(),
                )


def _pairs_batch(query_id, vec_id, red, admit, exact) -> pa.RecordBatch:
    arrays = [pa.array(query_id, pa.int64()), pa.array(vec_id, pa.int64()),
              pa.array(red, pa.float64()), pa.array(admit, pa.float64())]
    names = ["query_id", "vec_id", "red_score", "admit_score"]
    if exact is not None:
        arrays.append(pa.array(exact, pa.float64()))
        names.append("exact_score")
    return pa.RecordBatch.from_arrays(arrays, names=names)


def phase1_scores(
    rows: DataFrame,
    qs: DataFrame,
    mode: str,
    delta: float | None,
    exact: bool = False,
) -> DataFrame:
    """``(query_id, vec_id, red_score, admit_score[, exact_score])`` per
    pair: :func:`phase1_kernel` run by ``mapInArrow`` over ``rows``
    where they sit, against the prepared queries ``qs`` (collected once
    and broadcast, the ``exact_topk_pruned`` idiom). ``rows`` carries
    ``vec_id``, ``redv``, ``delta`` and the mode's extra columns
    (``embedding`` for l2-tz, ``bconst`` for cos-l2, ``full`` when
    ``exact``); with a ``query_id`` column it is a candidate stream,
    otherwise it is crossed with every query. Ids keep their input
    types."""
    spark = rows.sparkSession
    q_rows = qs.collect()
    q_ids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r["q"] for r in q_rows], dtype=np.float64).reshape(len(q_rows), -1)
    bc = spark.sparkContext.broadcast((q_ids, q_mat))
    hconst = hoeff_const(delta) if "hoeff" in mode else 0.0
    scalars = ["red_score", "admit_score"] + (["exact_score"] if exact else [])
    out = rows.mapInArrow(
        functools.partial(_phase1_arrow, bc=bc, mode=mode, hconst=hconst, exact=exact),
        "query_id bigint, vec_id bigint, " + ", ".join(f"{c} double" for c in scalars),
    )
    q_type = (rows if "query_id" in rows.columns else qs).schema["query_id"].dataType
    return out.select(
        F.col("query_id").cast(q_type).alias("query_id"),
        F.col("vec_id").cast(rows.schema["vec_id"].dataType).alias("vec_id"),
        *scalars,
    )


# ---------------------------------------------------------------------------
# The operator
# ---------------------------------------------------------------------------

@dataclass
class RefineResult:
    """Lazy DataFrames; nothing is executed until an action runs."""

    topk: DataFrame      # (query_id, rank, neighbor_id, score)
    fetched: DataFrame   # (query_id, neighbor_id) whose full vector was read
    scored: DataFrame    # phase-1 frame (diagnostics)


def refine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    mode: str,
    k: int,
    keep_m: int,
    delta: float | None = None,
    prepared_corpus: DataFrame | None = None,
    cache_key: str | None = None,
    candidate_ids: DataFrame | None = None,
) -> RefineResult:
    """Run one refinement mode end to end (scalable fixed-τ₀ path).

    ``candidate_ids`` (optional ``(query_id, vec_id)`` pairs, assumed
    distinct) restricts phase 1 to a per-query candidate stream — the
    production composition where an index (IVF cells, LSH bands, a
    graph walk) generates candidates and the cushioned refinement
    prices their re-scoring (README.md:11 "orthogonal to index
    choice"). Seeds, τ₀, and the zero-miss guarantee are then all
    relative to the candidate stream: the result equals an exact
    re-rank of the same candidates, at reduced fetched bytes.

    Edge case: a query whose candidate stream is EMPTY disappears from
    ``topk``/``fetched``/``scored`` entirely (the joins are inner) —
    it does not surface as an empty group. Callers that must
    distinguish "no candidates" from "not queried" should left-join
    their query universe against the result (``ann_recall`` does
    exactly this, counting such queries as recall 0). On the fixtures
    every query self-matches in its own cell/band, so the case never
    arises in the registered compositions."""
    if mode not in MODES:
        raise ValueError(f"unknown mode {mode!r}; expected one of {MODES}")
    cos = is_cosine(mode)
    if prepared_corpus is not None:
        corp = prepared_corpus
    else:
        # the prepared corpus feeds two plan branches (phase-1 scan,
        # the one full-precision read for seeds and fetch set) and —
        # via the cache — every other refine query over the same
        # (source, keep_m)
        corp = prepare_corpus_cached(corpus, keep_m, mode, cache_key)
    qs = prepare_queries(queries, mode)

    # ---- phase 1: cheap pass over the reduced representation (J1) ----
    # only l2-tz reads the raw column (truncation signs); carrying it
    # for the other five modes would widen the cheap-pass scan for no
    # reason — the whole point of the reduced layout is NOT reading it
    reduced_cols = (
        ["vec_id", "redv", "delta"]
        + (["embedding"] if mode == "l2-tz" else [])
        + (["bconst"] if mode == "cos-l2" else [])
    )
    rows = corp.select(*reduced_cols)
    if candidate_ids is not None:
        # candidate stream: equi-join on vec_id prunes the cheap pass
        # to the index's candidates (at scale: a partition-pruned scan
        # of the probed cells); the kernel looks each row's query up
        rows = candidate_ids.join(rows, "vec_id")

    # The phase-1 scan feeds two consumers (seed rank, fetch filter).
    # Each pair is reduced to two scalars where its row sits, and that
    # is cached, so the folds run exactly once per pair. At production
    # scale this frame is q·N scalars — MEMORY_AND_DISK-spillable and
    # far smaller than re-reading the reduced vector pages.
    scored = phase1_scores(rows, qs, mode, delta).persist()

    # ---- seed: best K under the reduced score (W5) ----
    seeds = topk_per_query(
        scored.select("query_id", F.col("vec_id").alias("neighbor_id"),
                      F.col("red_score").alias("score")),
        k,
        ascending=not cos,
    )

    exact_score = _exact_score_expr(cos)
    full_side = corp.select(F.col("vec_id").alias("neighbor_id"), "full")
    q_side = F.broadcast(qs)

    # τ₀ = K-th best exact seed score: the fixed admission threshold;
    # (cut_score, cut_id) = the K-th seed's place in the seed order
    bounds = (
        seeds.join(full_side, "neighbor_id")
        .join(q_side, "query_id")
        .groupBy("query_id")
        .agg(
            (F.min if cos else F.max)(exact_score).alias("tau0"),
            F.max_by("score", "rank").alias("cut_score"),
            F.max_by("neighbor_id", "rank").alias("cut_id"),
        )
    )

    # ---- one fetch set: cushion survivors (P8) plus the seeds ----
    # A pair is a seed iff it sorts at or before the K-th seed in the
    # seed rank's (red_score, vec_id) order, so the seeds join the
    # fetch set by the same filter in every mode — no union, no
    # distinct, and no reliance on a seed passing its own cushion test
    # (the Hoeffding cushions do not guarantee it).
    red, cut = F.col("red_score"), F.col("cut_score")
    if cos:
        admitted = F.col("admit_score") >= F.col("tau0")
        in_seeds = (red > cut) | ((red == cut) & (F.col("vec_id") <= F.col("cut_id")))
    else:
        admitted = F.col("admit_score") <= F.col("tau0")
        in_seeds = (red < cut) | ((red == cut) & (F.col("vec_id") <= F.col("cut_id")))
    fetch = (
        scored.join(F.broadcast(bounds), "query_id")
        .where(admitted | in_seeds)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )

    # ---- phase 2: late materialization of full precision (J2) ----
    candidates = (
        fetch.join(full_side, "neighbor_id")
        .join(q_side, "query_id")
        .select("query_id", "neighbor_id", exact_score.alias("score"))
    )
    final = topk_per_query(candidates, k, ascending=not cos)
    fetched = candidates.select("query_id", "neighbor_id")
    # diagnostics expose the persisted scalar frame (one row per pair),
    # so downstream consumers reuse the cached partitions instead of
    # re-running phase 1
    return RefineResult(topk=final, fetched=fetched, scored=scored)


def _exact_score_expr(cos: bool) -> Column:
    """Phase 2's exact score over ``full`` and ``q``: the Column folds
    the DuckDB oracles mirror."""
    return dot("full", "q") if cos else dist2("q", "full")


def vector_bytes(keep_m: int, dim: int, keep_e: int = FP16_EXP_BITS) -> tuple[float, float]:
    """``(b_red, b_full)``: bytes per vector of the cheap pass (sign +
    ``keep_e`` exponent + ``keep_m`` mantissa bits per coordinate) and
    of a full fp16 fetch — the byte model of ``ANNCode.py:316-319``
    shared by every metrics row, its oracle and the sweeps."""
    return (1 + keep_e + keep_m) * dim / 8.0, 16.0 * dim / 8.0


def refine_metrics(
    queries: DataFrame,
    corpus: DataFrame,
    mode: str,
    k: int,
    keep_m: int,
    delta: float | None = None,
    keep_e: int = FP16_EXP_BITS,
    red_bytes_override: float | None = None,
    dim: int | None = None,
    cache_key: str | None = None,
    prepared_corpus: DataFrame | None = None,
) -> DataFrame:
    """One metrics row ``(mode, m_keep, delta, recall, save, fpr)`` —
    the reference's sweep-CSV schema (``ANNCode.py:735``).

    Bytes model per ``ANNCode.py:316-319``: every candidate pays the
    reduced bytes; every fetched candidate pays full bytes on top;
    baseline reads full bytes for every candidate. ``keep_e`` enters
    the byte model only — like the reference CLI, whose refinement
    values always come from the keep-exponent reduction
    (``ANNCode.py:827`` vs ``:316``). Recall is measured against the
    exact top-K on the fp16 corpus (``ANNCode.py:836-839``). All
    counts are computed as Spark aggregates — no driver loops.
    """
    if dim is None:
        # derive from the data (ArrayType schemas carry no length) —
        # nothing bakes the fixture's D=64 into the byte model
        from .simsearch import embedding_dim

        dim = embedding_dim(corpus)
    row, intermediates = _refine_metrics_with_frames(
        queries, corpus, mode, k, keep_m, delta, keep_e, red_bytes_override,
        dim, cache_key, prepared_corpus,
    )
    return row


def _refine_metrics_with_frames(
    queries: DataFrame,
    corpus: DataFrame,
    mode: str,
    k: int,
    keep_m: int,
    delta: float | None,
    keep_e: int,
    red_bytes_override: float | None,
    dim: int,
    cache_key: str | None,
    prepared_corpus: DataFrame | None,
) -> tuple[DataFrame, list[DataFrame]]:
    """``refine_metrics`` body; also returns the internally persisted
    frames so eager callers (the sweep) can unpersist them after the
    row is collected.

    Phase 1 (the fused pair scan and the fetch-set decision) depends
    only on ``(mode, k, keep_m, delta)`` — ``keep_e`` and
    ``red_bytes_override`` enter the byte constants *after* the scan —
    so for keyed callers the ``(scored, fetched)`` pair is memoized
    (``refine_scored``) and shared across byte-model variants of the same
    operating point (base vs ``--ekeep`` vs compression-override rows,
    ``ANNCode.py:827-833``). Keyed cache hits return no intermediates:
    the cached frames stay persisted for later variants."""
    cos = is_cosine(mode)

    def phase1() -> tuple[DataFrame, DataFrame]:
        if prepared_corpus is not None:
            corp = prepared_corpus
        elif cache_key is not None:
            corp = prepare_corpus_cached(corpus, keep_m, mode, cache_key)
        else:
            # uncached callers consume the prepared corpus exactly once
            # (the fused pairs scan below), so no persist
            corp = prepare_corpus(corpus, keep_m, mode)
        qs = prepare_queries(queries, mode)

        # ---- one fused scan: reduced score, exact score, admission bound ----
        # The metrics operator must rank *every* candidate by exact score
        # anyway (ground truth), so unlike ``refine_topk`` there is nothing
        # to gain from keeping the full-precision column unread: compute
        # both representations' scores and the cushion in a single pass and
        # reduce each pair to four scalars. The cached frame is
        # O(|Q|·N) scalars (no vectors); at production scale this is the
        # sweep's intermediate you would write to Parquet once per
        # (mode, m) grid point rather than cache.
        pair_cols = (
            ["vec_id", "redv", "delta", "full"]
            + (["embedding"] if mode == "l2-tz" else [])
            + (["bconst"] if mode == "cos-l2" else [])
        )
        scored = (
            phase1_scores(corp.select(*pair_cols), qs, mode, delta, exact=True)
            .withColumnRenamed("vec_id", "neighbor_id")
            .persist()
        )

        # seed (W5): per-query rank over the cached scalar frame
        seed = _ids(
            topk_per_query(
                scored.select("query_id", "neighbor_id", F.col("red_score").alias("score")),
                k,
                ascending=not cos,
            )
        )

        # τ₀ = K-th best exact score within the seed set
        tau0 = (
            scored.join(F.broadcast(seed), ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg((F.min if cos else F.max)("exact_score").alias("tau0"))
        )

        # fetched = seed ∪ admitted survivors (P8 over the cached scalars)
        flagged = (
            scored.join(
                F.broadcast(seed.withColumn("__seed", F.lit(True))),
                ["query_id", "neighbor_id"],
                "left",
            )
            .join(F.broadcast(tau0), "query_id")
            .withColumn(
                "fetched",
                F.coalesce(F.col("__seed"), F.lit(False))
                | (
                    (F.col("admit_score") >= F.col("tau0"))
                    if cos
                    else (F.col("admit_score") <= F.col("tau0"))
                ),
            )
        )
        return scored, flagged.where("fetched").persist()

    key = (cache_key, mode, k, keep_m, delta) if cache_key is not None else None
    if key is None:
        scored, fetched = phase1()
    else:
        scored, fetched = memo(queries.sparkSession, "refine_scored", key, phase1)

    # ground truth (W1/W2): exact-score rank over the cached scalars
    gt = _ids(
        topk_per_query(
            scored.select("query_id", "neighbor_id", F.col("exact_score").alias("score")),
            k,
            ascending=not cos,
        )
    )

    # final top-K among fetched candidates (W6)
    final = _ids(
        topk_per_query(
            fetched.select("query_id", "neighbor_id", F.col("exact_score").alias("score")),
            k,
            ascending=not cos,
        )
    )

    b_red, b_full = vector_bytes(keep_m, dim, keep_e)
    if red_bytes_override is not None:
        b_red = red_bytes_override

    # one counting pass over the fetch set + one over the pair frame
    per_fetch = (
        fetched.join(
            F.broadcast(final.withColumn("__final", F.lit(True))),
            ["query_id", "neighbor_id"],
            "left",
        )
        .join(
            F.broadcast(gt.withColumn("__gt", F.lit(True))),
            ["query_id", "neighbor_id"],
            "left",
        )
        .agg(
            F.count("*").alias("n_fetched"),
            F.count(F.when(F.col("__final") & F.col("__gt"), 1)).alias("n_hits"),
            F.count(F.when(F.col("__final").isNull(), 1)).alias("n_unnecessary"),
        )
    )
    totals = scored.agg(
        F.count("*").alias("n_pairs"),
        F.count_distinct("query_id").alias("n_q"),
    )

    stats = per_fetch.crossJoin(totals)
    total_bytes = F.lit(b_red) * F.col("n_pairs") + F.lit(b_full) * F.col("n_fetched")
    baseline = F.lit(b_full) * F.col("n_pairs")
    row = stats.select(
        F.lit(mode).alias("mode"),
        F.lit(keep_m).alias("m_keep"),
        F.lit(float(delta) if delta is not None else 0.0).alias("delta"),
        (F.col("n_hits") / (F.col("n_q") * F.lit(float(k)))).alias("recall"),
        (F.lit(1.0) - total_bytes / baseline).alias("save"),
        (F.col("n_unnecessary") / F.col("n_pairs")).alias("fpr"),
    )
    return row, ([] if key is not None else [scored, fetched])


# ---------------------------------------------------------------------------
# Index × cushion compositions
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class CandidateSource:
    """One index family behind the cushioned re-scorer.

    ``candidates(queries, corpus, k, keep_m, mode, cache_key)`` returns
    the index's DISTINCT ``(query_id, vec_id)`` pairs. ``metric`` is the
    space the index pre-ranks in (``"cos"``, ``"l2"``, or ``None`` when
    the stream does not depend on a metric): a cushion of the other
    family would silently re-rank a differently-ordered admit set, so
    :func:`cushion_topk` refuses the crossed mode."""

    name: str
    metric: str | None
    candidates: Callable[..., DataFrame]


def cushion_topk(
    queries: DataFrame,
    corpus: DataFrame,
    source: CandidateSource,
    mode: str,
    k: int,
    keep_m: int,
    cache_key: str | None = None,
) -> RefineResult:
    """Index candidate generation × cushioned precision-on-demand
    refinement: the index prunes the corpus to its candidate stream,
    and the two-phase refinement prices the re-scoring of that stream —
    scanning the reduced representation and fetching full precision
    only for seeds and cushion-admitted survivors (the reference's
    contribution, ``ANNCode.py:560-575``, applied to an index's
    candidates instead of the whole corpus; README.md:11 declares the
    method "orthogonal to index choice" — this operator is that claim,
    composed).

    Zero-miss composition law (test- and oracle-checked for every
    entry of ``CANDIDATE_SOURCES``): the result equals the exact (fp16)
    re-rank of the source's candidates, so recall vs the full-corpus
    exact top-K is exactly the index's own candidate recall — the
    cushion loses nothing on top of the pruning."""
    if source.metric is not None and source.metric != ("cos" if is_cosine(mode) else "l2"):
        want = "a cos-*" if source.metric == "cos" else "an l2-*"
        raise ValueError(
            f"the {source.name} candidate source pre-ranks in {source.metric} "
            f"space; use {want} mode (a crossed cushion would silently "
            "re-rank the other family's candidates)"
        )
    return refine_topk(
        queries,
        corpus,
        mode,
        k,
        keep_m,
        cache_key=cache_key,
        candidate_ids=source.candidates(queries, corpus, k, keep_m, mode, cache_key),
    )


def _as_vec_ids(neighbors: DataFrame) -> DataFrame:
    return neighbors.select("query_id", F.col("neighbor_id").alias("vec_id"))


def _ivf_candidates(queries, corpus, k, keep_m, mode, cache_key) -> DataFrame:
    """The vectors of each query's ``IVF_NPROBE`` probed cells."""
    from .simsearch import ivf_assign, ivf_centroids, ivf_probes

    cents = ivf_centroids(corpus)
    return (
        F.broadcast(ivf_probes(queries, cents).select("query_id", "cell"))
        .join(ivf_assign(corpus, cents).select("vec_id", "cell"), "cell")
        .select("query_id", "vec_id")
    )


def _band_candidates(query_bands: DataFrame, corpus: DataFrame, dim: int) -> DataFrame:
    from .simsearch import lsh_corpus_bands

    return (
        query_bands.alias("q")
        .join(lsh_corpus_bands(corpus, dim=dim).alias("c"), ["band", "bkey"])
        .select(F.col("q.id").alias("query_id"), F.col("c.id").alias("vec_id"))
        .distinct()
    )


def _lsh_candidates(queries, corpus, k, keep_m, mode, cache_key) -> DataFrame:
    """Hyperplane-LSH band collisions — several times IVF's stream at
    the fixture operating point, the regime where the cushion prunes
    most full-precision fetches."""
    from .simsearch import embedding_dim, lsh_signature_bands

    dim = embedding_dim(corpus)
    qb = lsh_signature_bands(
        queries.select("query_id", "embedding"), "embedding", "query_id", dim=dim
    )
    return _band_candidates(qb, corpus, dim)


def _lsh_multiprobe_candidates(queries, corpus, k, keep_m, mode, cache_key) -> DataFrame:
    """Multi-probe LSH: each query also probes the ``LSH_MULTIPROBE_T``
    buckets reached by flipping its lowest-margin bits (~2.3× plain
    LSH's stream, so the K seeds are a smaller mandatory fraction)."""
    from .simsearch import embedding_dim, lsh_multiprobe_bands

    dim = embedding_dim(corpus)
    qb = lsh_multiprobe_bands(
        queries.select("query_id", "embedding"), "embedding", "query_id", dim=dim
    )
    return _band_candidates(qb, corpus, dim)


def _graph_candidates(queries, corpus, k, keep_m, mode, cache_key) -> DataFrame:
    """Every vector the beam walk over the banded KNN graph visits,
    ranking its frontier on the REDUCED representation only (in
    HNSW-with-PQ deployments the adjacency and the codes are the only
    hot data): ``simsearch.beam_candidates`` scores ``dot(redv, q)``
    of the prepared corpus against the unit query, at the ``BEAM_*``
    operating point of ``ann_graph_topk``."""
    from .simsearch import GRAPH_DEGREE, beam_candidates, symmetric_knn_edges

    corp = prepare_corpus_cached(corpus, keep_m, mode, cache_key)
    qs = prepare_queries(queries, mode).withColumnRenamed("q", "redv")
    edges = symmetric_knn_edges(corpus, GRAPH_DEGREE)
    walk = beam_candidates(qs, corp, edges, vec="redv", score=dot)
    return walk.select("query_id", "vec_id")


def _vamana_candidates(queries, corpus, k, keep_m, mode, cache_key) -> DataFrame:
    """The same reduced-page walk over the α-pruned Vamana graph
    (better edges), sharing the corpus-keyed edge memo of the
    ``ann_vamana_*`` queries."""
    from .simsearch import beam_candidates
    from .vamana import vamana_edges

    corp = prepare_corpus_cached(corpus, keep_m, mode, cache_key)
    qs = prepare_queries(queries, mode).withColumnRenamed("q", "redv")
    edges = vamana_edges(corpus)
    walk = beam_candidates(qs, corp, edges, vec="redv", score=dot)
    return walk.select("query_id", "vec_id")


def _ivfadc_candidates(queries, corpus, k, keep_m, mode, cache_key) -> DataFrame:
    """The R·K-deep ADC pre-rank over 8-byte residual codes — a
    COMPRESSED index: the stream never touches raw vectors."""
    from .pq import PQ_REFINE_R, ivfadc_candidates

    return _as_vec_ids(ivfadc_candidates(queries, corpus, PQ_REFINE_R * k))


def _rabitq_candidates(queries, corpus, k, keep_m, mode, cache_key) -> DataFrame:
    """The R·K-deep RaBitQ estimator pre-rank over the 12-byte rotated
    1-bit code table — the cosine counterpart of IVFADC's stream."""
    from .rabitq import RABITQ_REFINE_R, rabitq_candidates

    return _as_vec_ids(rabitq_candidates(queries, corpus, RABITQ_REFINE_R * k))


def _cascade_candidates(queries, corpus, k, keep_m, mode, cache_key) -> DataFrame:
    """The cascade's R1·K admits: 1-bit Hamming admit, int8
    recon-cosine narrow — the cheapest candidate pass of them all."""
    from .bq import cascade_candidates

    return _as_vec_ids(cascade_candidates(queries, corpus, k))


def _mrl_candidates(queries, corpus, k, keep_m, mode, cache_key) -> DataFrame:
    """The Matryoshka prefix pre-rank's R·K admits: the candidate pass
    reads d'/D of the coordinates, so the composition stacks the
    engine's two bandwidth axes (dimension and mantissa truncation)."""
    from .mrl import MRL_REFINE_R, mrl_topk

    return _as_vec_ids(mrl_topk(queries, corpus, MRL_REFINE_R * k))


#: every index family behind the cushioned re-scorer, by name
CANDIDATE_SOURCES: dict[str, CandidateSource] = {
    s.name: s
    for s in (
        CandidateSource("ivf", None, _ivf_candidates),
        CandidateSource("lsh", None, _lsh_candidates),
        CandidateSource("lsh_multiprobe", None, _lsh_multiprobe_candidates),
        CandidateSource("graph", "cos", _graph_candidates),
        CandidateSource("vamana", "cos", _vamana_candidates),
        CandidateSource("ivfadc", "l2", _ivfadc_candidates),
        CandidateSource("rabitq", "cos", _rabitq_candidates),
        CandidateSource("cascade", "cos", _cascade_candidates),
        CandidateSource("mrl", "cos", _mrl_candidates),
    )
}
