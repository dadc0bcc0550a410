"""Refinement invariants (SURVEY §5 item 3 — the paper's analytical
guarantees, which must hold by construction):

* zero-miss cushions (cos-l1, cos-l2, l2-sym, l2-tz) ⇒ final top-K ==
  exact top-K on the fp16 corpus, i.e. recall exactly 1.0, at any
  truncation level (paper §3.1.3-§3.1.4, §3.2.1-§3.2.2);
* saving ≤ 1, fpr ≥ 0;
* the tz bound admits no more candidates than sym (paper Eq.(36)).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.refine import (
    CANDIDATE_SOURCES,
    MODES,
    _exact_score_expr,
    cushion_topk,
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
        salted=False,
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

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

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
            import numpy as np

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
