"""Refinement invariants (SURVEY §5 item 3 — the paper's analytical
guarantees, which must hold by construction):

* zero-miss cushions (cos-l1, cos-l2, l2-sym, l2-tz) ⇒ final top-K ==
  exact top-K on the fp16 corpus, i.e. recall exactly 1.0, at any
  truncation level (paper §3.1.3-§3.1.4, §3.2.1-§3.2.2);
* saving ≤ 1, fpr ≥ 0;
* the tz bound admits no more candidates than sym (paper Eq.(36)).
* phase 1's NumPy kernel equals the Column-expression folds it
  replaced bit for bit (the folds are kept below as the reference).
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Column
from pyspark.sql import functions as F

from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.refine import (
    CANDIDATE_SOURCES,
    MODES,
    _exact_score_expr,
    _refine_metrics_with_frames,
    cushion_topk,
    hoeff_const,
    is_cosine,
    prepare_corpus,
    prepare_queries,
    refine_metrics,
    refine_topk,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.topk import (
    topk_per_query,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
    load_table,
    queries_view,
)

K = 10
ZERO_MISS = ("cos-l1", "cos-l2", "l2-sym", "l2-tz")


def _exact_topk_fp16(spark, sf, mode, k):
    corp = prepare_corpus(load_table(spark, sf, "embeddings"), 6, mode)
    qs = prepare_queries(queries_view(spark, sf), mode)
    pairs = (
        corp.select(F.col("vec_id").alias("neighbor_id"), "full")
        .crossJoin(F.broadcast(qs))
        .select("query_id", "neighbor_id", _exact_score_expr(is_cosine(mode)).alias("score"))
    )
    return topk_per_query(pairs, k, ascending=not is_cosine(mode))


@pytest.mark.parametrize("mode", ZERO_MISS)
@pytest.mark.parametrize("keep_m", [2, 6])
def test_zero_miss_returns_exact_topk(spark, sf_small, mode, keep_m):
    queries = queries_view(spark, sf_small)
    corpus = load_table(spark, sf_small, "embeddings")
    res = refine_topk(queries, corpus, mode, K, keep_m)
    got = res.topk.toPandas().sort_values(["query_id", "rank"], ignore_index=True)
    want = (
        _exact_topk_fp16(spark, sf_small, mode, K)
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    assert got["neighbor_id"].tolist() == want["neighbor_id"].tolist()


@pytest.mark.parametrize("mode", MODES)
def test_metrics_row_shape_and_bounds(spark, sf_small, mode):
    queries = queries_view(spark, sf_small).limit(4)
    corpus = load_table(spark, sf_small, "embeddings")
    delta = 0.7 if "hoeff" in mode else None
    row = refine_metrics(queries, corpus, mode, K, keep_m=6, delta=delta).collect()[0]
    assert row["mode"] == mode and row["m_keep"] == 6
    assert 0.0 <= row["recall"] <= 1.0
    assert row["save"] <= 1.0
    assert row["fpr"] >= 0.0
    if mode in ZERO_MISS:
        assert row["recall"] == 1.0


def test_tz_tighter_than_sym(spark, sf_small):
    """Sign-aware bound ≥ symmetric bound ⇒ tz admits a subset of
    sym's survivors ⇒ tz fetches ≤ sym fetches."""
    queries = queries_view(spark, sf_small).limit(4)
    corpus = load_table(spark, sf_small, "embeddings")
    fetched = {
        mode: refine_topk(queries, corpus, mode, K, keep_m=4).fetched.count()
        for mode in ("l2-tz", "l2-sym")
    }
    assert fetched["l2-tz"] <= fetched["l2-sym"]


def test_hoeffding_delta_monotone(spark, sf_small):
    """Smaller δ ⇒ larger cushion ⇒ more fetches (less saving)."""
    queries = queries_view(spark, sf_small).limit(4)
    corpus = load_table(spark, sf_small, "embeddings")
    f_small_delta = refine_topk(queries, corpus, "cos-hoeff", K, 6, delta=1e-6).fetched.count()
    f_big_delta = refine_topk(queries, corpus, "cos-hoeff", K, 6, delta=0.7).fetched.count()
    assert f_small_delta >= f_big_delta


def _composition_cases():
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.registry import (
        CUSHION_COMPOSITIONS,
    )

    cases = [(name, mode) for name, (mode, _) in CUSHION_COMPOSITIONS.items()]
    return cases + [("ivf", "cos-l1")]


@pytest.mark.parametrize("name,mode", _composition_cases())
def test_cushion_composition_law(spark, sf_small, name, mode):
    """Index × cushion composition law, for every candidate source at
    its registered mode (plus IVF under a cosine cushion): the
    cushioned refinement over the source's candidate stream returns
    EXACTLY the exact (fp16) re-rank of those candidates — zero-miss
    relative to the stream. The stream must also be distinct pairs,
    which ``refine_topk`` assumes but does not check."""
    queries = queries_view(spark, sf_small)
    corpus = load_table(spark, sf_small, "embeddings")
    source, keep_m = CANDIDATE_SOURCES[name], 4

    cand = source.candidates(queries, corpus, K, keep_m, mode, None).persist()
    assert cand.count() == cand.distinct().count()

    res = cushion_topk(queries, corpus, source, mode, K, keep_m)
    got = {(r.query_id, r.rank, r.neighbor_id) for r in res.topk.collect()}

    corp = prepare_corpus(corpus, keep_m, mode)
    qs = prepare_queries(queries, mode)
    rerank = topk_per_query(
        cand.join(corp.select("vec_id", "full"), "vec_id")
        .join(F.broadcast(qs), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _exact_score_expr(is_cosine(mode)).alias("score"),
        ),
        K,
        ascending=not is_cosine(mode),
    )
    want = {(r.query_id, r.rank, r.neighbor_id) for r in rerank.collect()}
    cand.unpersist()
    assert got == want


# ---------------------------------------------------------------------------
# Property-based zero-miss: adversarial float corpora
# ---------------------------------------------------------------------------
# The fixture corpus is well-behaved Gaussian data; the Δ bound's edge
# cases live elsewhere — denormals (kept-exponent field 0), exact
# zeros, coordinates spanning many binades, sign flips. Hypothesis
# drives random corpora through the full cushion pipeline and checks
# the paper's theorem directly against the exact fp16 re-rank.
#
# Domain finding (discovered BY this test): the l2 zero-miss theorem
# survives ANY float32 input — its Δ coupling is direct, so the l2
# generator is fully unconstrained. The COSINE cushions are exact only
# on the reference's actual domain — row-normalized (unit-scale) data:
# the reference renormalizes the reduced corpus by ITS OWN norm
# (``ANNCode.py:744/828``, mirrored in prepare_corpus) while the Δ
# cushion is expressed in UNNORMALIZED fp16 units, so the bound covers
# the normalization drift only when ‖x‖ ≈ 1 (where the unnormalized Δ
# over-covers). Falsifying inputs found outside that domain: a vector
# of all-subnormal coordinates (direction collapses after truncation),
# and vectors whose norms span several binades at keep_m=1 (drift of
# the self-norm denominator outruns the cushion). Both break in the
# reference itself — the engine inherits the boundary by design for
# parity, and the cos generator therefore normalizes its rows exactly
# as the reference CLI normalizes every cosine input (ANNCode.py:826).

_coord = st.one_of(
    st.floats(min_value=-1e4, max_value=1e4, allow_nan=False, width=32),
    st.floats(
        min_value=-9.999999974752427e-07,
        max_value=9.999999974752427e-07,
        allow_nan=False,
        width=32,
    ),
    st.sampled_from([0.0, -0.0, 1.0, -1.0, 6.0e-8, -6.0e-8, 65000.0]),
)

_PROP_D = 6
_PROP_N = 14


@st.composite
def _corpus(draw, unit_rows: bool):
    rows = []
    for _ in range(_PROP_N):
        row = [draw(_coord) for _ in range(_PROP_D)]
        if unit_rows:
            # the reference's cosine domain: rows normalized in
            # float32 before reduction (ANNCode.py:826). Degenerate
            # all-tiny rows get one unit coordinate first so the
            # normalization itself is well-posed.
            if not any(abs(x) > 1e-6 for x in row):
                row[draw(st.integers(min_value=0, max_value=_PROP_D - 1))] = 1.0
            arr = np.asarray(row, dtype=np.float32)
            arr = arr / np.float32(math.sqrt(float(np.dot(arr, arr))))
            row = [float(x) for x in arr]
        rows.append(row)
    return rows


def _check_zero_miss(spark, data, mode, keep_m):
    k = 3
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(data)],
        "vec_id long, embedding array<float>",
    )
    queries = corpus.limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    res = refine_topk(queries, corpus, mode, k, keep_m)
    got = {(r.query_id, r.rank): r.neighbor_id for r in res.topk.collect()}
    corp = prepare_corpus(corpus, keep_m, mode)
    qs = prepare_queries(queries, mode)
    pairs = (
        corp.select(F.col("vec_id").alias("neighbor_id"), "full")
        .crossJoin(F.broadcast(qs))
        .select(
            "query_id",
            "neighbor_id",
            _exact_score_expr(is_cosine(mode)).alias("score"),
        )
    )
    want = {
        (r.query_id, r.rank): r.neighbor_id
        for r in topk_per_query(pairs, k, ascending=not is_cosine(mode)).collect()
    }
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(data=_corpus(unit_rows=False), keep_m=st.sampled_from([1, 4]))
def test_l2_zero_miss_holds_on_adversarial_floats(spark, data, keep_m):
    """l2-tz never renormalizes — its Δ coupling must survive ANY
    float32 input, including all-subnormal vectors."""
    _check_zero_miss(spark, data, "l2-tz", keep_m)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(data=_corpus(unit_rows=True), keep_m=st.sampled_from([1, 4]))
def test_cos_zero_miss_holds_on_reference_domain(spark, data, keep_m):
    """cos-l1 on the reference's domain — row-normalized input, as
    the reference CLI normalizes every cosine corpus (ANNCode.py:826).
    Per-coordinate the generator still mixes zeros, denormals, and
    values across eight binades before normalization."""
    _check_zero_miss(spark, data, "cos-l1", keep_m)


@pytest.mark.parametrize(
    "name", [name for name, s in CANDIDATE_SOURCES.items() if s.metric is not None]
)
def test_cushion_metric_family_guards(spark, sf_small, name):
    """Candidate sources that pre-rank in one metric family refuse a
    cushion of the other (r09 ADVICE): a crossed mode would silently
    re-rank one family's candidates with the other's cushion instead
    of failing loud."""
    source = CANDIDATE_SOURCES[name]
    crossed, wording = {
        "cos": ("l2-tz", "use a cos-\\* mode"),
        "l2": ("cos-l2", "use an l2-\\* mode"),
    }[source.metric]
    queries = queries_view(spark, sf_small)
    corpus = load_table(spark, sf_small, "embeddings")
    with pytest.raises(ValueError, match=wording):
        cushion_topk(queries, corpus, source, crossed, K, 4)


# ---------------------------------------------------------------------------
# Phase-1 kernel ≡ the Column-expression folds, bit for bit
# ---------------------------------------------------------------------------
# The reference below is the phase 1 the engine ran before its NumPy
# kernel: strict left folds (``F.aggregate``) over DOUBLE element terms,
# evaluated inside the broadcast join. The DuckDB oracles mirror the same
# folds, so the kernel must reproduce every scalar exactly.

_HOEFF_DELTA = 0.7


def _fold_sum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)


def cushion_expr(mode: str, delta_param: float | None) -> Column:
    """The additive cushion (cosine) over ``q``, ``delta``, ``bconst``."""
    if mode == "cos-hoeff":
        qd = F.zip_with("q", "delta", lambda q, d: q * d.cast("double"))
        return F.lit(hoeff_const(delta_param)) * F.sqrt(
            _fold_sum(F.transform(qd, lambda v: v * v))
        )
    if mode == "cos-l1":
        return _fold_sum(
            F.zip_with("q", "delta", lambda q, d: F.abs(q) * d.cast("double"))
        )
    if mode == "cos-l2":
        return F.col("bconst")
    raise ValueError(f"no additive cushion for mode {mode!r}")


def l2_lower_bound_expr(mode: str, delta_param: float | None) -> Column:
    """Lower bound on the exact squared distance (L2 modes), with
    ``a = q − redv`` the reduced residual (``ANNCode.py:546``)."""
    a = F.zip_with("q", "redv", lambda q, r: q - r)
    if mode == "l2-sym":
        def sym_term(x, d):
            lower = F.greatest(F.abs(x) - d.cast("double"), F.lit(0.0))
            return lower * lower

        return _fold_sum(F.zip_with(a, "delta", sym_term))
    if mode == "l2-tz":
        z = F.arrays_zip(a.alias("a"), F.col("delta").alias("d"), F.col("embedding").alias("raw"))

        def term(p):
            s = F.when(p["raw"].cast("double") < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
            b = p["a"] * s
            d = p["d"].cast("double")
            return (
                F.when(b <= 0, p["a"] * p["a"])
                .when(b < d, F.lit(0.0))
                .otherwise((F.abs(p["a"]) - d) * (F.abs(p["a"]) - d))
            )

        return _fold_sum(F.transform(z, term))
    if mode == "l2-hoeff":
        ad = F.zip_with(a, "delta", lambda x, d: x * d.cast("double"))
        return F.col("d2_hat") - F.lit(2.0 * hoeff_const(delta_param)) * F.sqrt(
            _fold_sum(F.transform(ad, lambda v: v * v))
        )
    raise ValueError(f"no l2 lower bound for mode {mode!r}")


def _reference_scored(pairs, mode: str, delta: float | None):
    """(query_id, vec_id, red_score, admit_score, exact_score) from the
    Column folds over joined (query, row) pairs."""
    if is_cosine(mode):
        pairs = pairs.withColumn(
            "s_hat",
            _fold_sum(F.zip_with("redv", "q", lambda x, y: x.cast("double") * y.cast("double"))),
        )
        red, admit = F.col("s_hat"), F.col("s_hat") + cushion_expr(mode, delta)
    else:
        pairs = pairs.withColumn(
            "d2_hat",
            _fold_sum(F.transform(F.zip_with("q", "redv", lambda q, r: q - r), lambda v: v * v)),
        )
        red, admit = F.col("d2_hat"), l2_lower_bound_expr(mode, delta)
    return pairs.select(
        "query_id",
        "vec_id",
        red.alias("red_score"),
        admit.alias("admit_score"),
        _exact_score_expr(is_cosine(mode)).alias("exact_score"),
    )


def _bits(frame, cols) -> dict:
    """{(query_id, vec_id): exact bit patterns of ``cols``} — ``hex``
    also tells -0.0 from 0.0, which ``==`` does not."""
    return {
        (r["query_id"], r["vec_id"]): tuple(float(r[c]).hex() for c in cols)
        for r in frame.collect()
    }


def _candidate_stream(queries, corpus):
    """A deterministic per-query candidate stream (about a third of the
    pairs) plus pairs of a query id that is not in the batch."""
    ids = corpus.select("vec_id")
    cand = (
        queries.select("query_id").crossJoin(ids)
        .where((F.col("query_id") + F.col("vec_id")) % 3 == 0)
    )
    stray = ids.where(F.col("vec_id") % 7 == 0).select(
        F.lit(-1).cast("long").alias("query_id"), "vec_id"
    )
    return cand.unionByName(stray)


def _check_kernel_bits(queries, corpus, mode: str, keep_m: int) -> None:
    delta = _HOEFF_DELTA if "hoeff" in mode else None
    corp = prepare_corpus(corpus, keep_m, mode).persist()
    qs = prepare_queries(queries, mode)
    cand = _candidate_stream(queries, corpus).persist()
    ref_cross = _reference_scored(corp.crossJoin(F.broadcast(qs)), mode, delta)
    ref_cand = _reference_scored(
        cand.join(corp, "vec_id").join(F.broadcast(qs), "query_id"), mode, delta
    )
    two = ["red_score", "admit_score"]
    three = ["red_score", "exact_score", "admit_score"]

    cross = refine_topk(queries, corpus, mode, K, keep_m, delta, prepared_corpus=corp).scored
    assert _bits(cross, two) == _bits(ref_cross, two)

    by_cand = refine_topk(
        queries, corpus, mode, K, keep_m, delta, prepared_corpus=corp, candidate_ids=cand
    ).scored
    want = _bits(ref_cand, two)
    assert want and _bits(by_cand, two) == want

    _, (scored, fetched) = _refine_metrics_with_frames(
        queries, corpus, mode, K, keep_m, delta, keep_e=5, red_bytes_override=None,
        dim=64, cache_key=None, prepared_corpus=corp,
    )
    got = scored.withColumnRenamed("neighbor_id", "vec_id")
    assert _bits(got, three) == _bits(ref_cross, three)
    # dependents first, so no cached frame is rebuilt over a dropped one
    for frame in (cross, by_cand, fetched, scored, cand, corp):
        frame.unpersist()


@pytest.mark.parametrize("mode", MODES)
def test_phase1_kernel_is_bit_identical_to_column_folds(spark, sf_small, mode):
    """Every phase-1 scalar of ``refine_topk`` (cross path and a
    candidate stream) and of the metrics path equals the Column folds
    exactly, so seeds, τ₀, survivors, metrics rows and oracles are
    unchanged by the kernel."""
    _check_kernel_bits(
        queries_view(spark, sf_small), load_table(spark, sf_small, "embeddings"), mode, 4
    )


@settings(max_examples=3, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(data=_corpus(unit_rows=False), keep_m=st.sampled_from([1, 4]))
def test_phase1_kernel_bits_on_adversarial_floats(spark, data, keep_m):
    """The same identity on subnormals, ±0.0, negatives and values
    across many binades, in all six modes."""
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(data)],
        "vec_id long, embedding array<float>",
    )
    queries = corpus.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    for mode in MODES:
        _check_kernel_bits(queries, corpus, mode, keep_m)


# ---------------------------------------------------------------------------
# The fetch set always holds the seeds
# ---------------------------------------------------------------------------

def _away_from_query_corpus(spark):
    """l2 vectors just below their queries in one binade: truncation
    moves every reduced coordinate away from the query, so the reduced
    distance — and with a small cushion the lower bound — overshoots
    the exact one. The sf_small fixture never does this in l2."""
    rng = np.random.default_rng(7)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in rng.uniform(2.0, 3.9, 16).astype(np.float32)]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(i, [float(x) for x in rng.uniform(3.85, 3.95, 16).astype(np.float32)]) for i in range(4)],
        "query_id long, embedding array<float>",
    )
    return queries, corpus


@pytest.mark.parametrize("mode", ["cos-hoeff", "l2-hoeff"])
def test_seeds_always_reach_the_fetch_set(spark, sf_small, mode):
    """The Hoeffding cushions do not guarantee that a seed passes its
    own admission test; at δ near 1 (the smallest cushion) some seeds
    fail it. Every seed must still be fetched, once, and the top-K must
    equal the exact re-rank of seeds ∪ cushion survivors."""
    cos, delta = is_cosine(mode), 0.999
    if cos:
        keep_m = 2
        queries = queries_view(spark, sf_small)
        corpus = load_table(spark, sf_small, "embeddings")
    else:
        keep_m = 1
        queries, corpus = _away_from_query_corpus(spark)
    res = refine_topk(queries, corpus, mode, K, keep_m, delta)
    scored = res.scored

    seeds = topk_per_query(
        scored.select("query_id", F.col("vec_id").alias("neighbor_id"),
                      F.col("red_score").alias("score")),
        K,
        ascending=not cos,
    ).select("query_id", "neighbor_id")
    corp = prepare_corpus(corpus, keep_m, mode)
    qs = prepare_queries(queries, mode)

    def rescore(ids):
        return (
            ids.join(corp.select(F.col("vec_id").alias("neighbor_id"), "full"), "neighbor_id")
            .join(F.broadcast(qs), "query_id")
            .select("query_id", "neighbor_id", _exact_score_expr(cos).alias("score"))
        )

    tau0 = rescore(seeds).groupBy("query_id").agg(
        (F.min if cos else F.max)("score").alias("tau0")
    )
    passes = (F.col("admit_score") >= F.col("tau0")) if cos else (F.col("admit_score") <= F.col("tau0"))
    survivors = (
        scored.join(tau0, "query_id")
        .where(passes)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )

    seed_pairs = {tuple(r) for r in seeds.collect()}
    survivor_pairs = {tuple(r) for r in survivors.collect()}
    fetched = [tuple(r) for r in res.fetched.collect()]
    # the operating point is meaningful: a τ₀-filter-only plan would
    # drop seeds here
    assert seed_pairs - survivor_pairs
    assert len(seed_pairs) == K * queries.count()
    assert seed_pairs <= set(fetched)
    assert len(fetched) == len(set(fetched))
    assert set(fetched) == seed_pairs | survivor_pairs

    want = topk_per_query(
        rescore(seeds.unionByName(survivors).distinct()), K, ascending=not cos
    )
    got = {tuple(r) for r in res.topk.collect()}
    assert got == {tuple(r) for r in want.collect()}
    scored.unpersist()


# ---------------------------------------------------------------------------
# Job-count guard for the served path
# ---------------------------------------------------------------------------

#: warm ``refine_topk`` jobs per 16-query batch from a stored layout,
#: as this test counts them before the phase-1 kernel and the single
#: fetch; the guard allows half of that
JOBS_BEFORE_KERNEL = 18


def test_served_refine_job_count(spark, sf_small, tmp_path):
    """Served from a stored layout (the ``serve_refine`` benchmark's
    path: local 16-query batch, l2-tz, K=20, keep_m=6), a warm
    ``refine_topk`` call plus its collect runs at most half the Spark
    jobs it ran before phase 1 became one kernel and seeds and
    survivors one fetch."""
    corpus = load_table(spark, sf_small, "embeddings")
    layout = str(tmp_path / "layout")
    prepare_corpus(corpus, 6, "l2-tz").write.parquet(layout)
    batch = (
        corpus.where(F.col("vec_id") % 31 == 0).limit(16)
        .select(F.col("vec_id").alias("query_id"), "embedding").toPandas()
    )
    sc = spark.sparkContext

    def serve(group: str | None) -> int:
        queries = spark.createDataFrame(batch, "query_id bigint, embedding array<float>")
        if group:
            sc.setJobGroup(group, "served refine_topk")
        try:
            res = refine_topk(
                queries, corpus, "l2-tz", 20, 6, prepared_corpus=spark.read.parquet(layout)
            )
            rows = res.topk.collect()
            res.scored.unpersist()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(rows) == 20 * len(batch)
        return len(sc.statusTracker().getJobIdsForGroup(group)) if group else 0

    serve(None)
    serve(None)
    jobs = serve("served-refine-job-count")
    assert jobs <= JOBS_BEFORE_KERNEL // 2, jobs
