"""DuckDB oracle SQL generator for the precision/refinement operators.

The driver's correctness gate hash-compares each declared Spark query
against ANSI SQL run by DuckDB — but the engine's core transform is
IEEE-754 *half*-precision bit truncation, which DuckDB has no type
for. This module emulates it exactly in SQL over exact DOUBLE
arithmetic, so even the refinement operators (SURVEY §2.6) get the
strong value-hash check instead of the weak rows-only one.

Emulation (validated bit-identical to the NumPy kernel on fixtures and
adversarial values — ties, subnormals, ±0):

1. explode each vector with ``unnest``/``generate_subscripts``;
2. decompose |x|: exponent by corrected ``floor(log2)``, mantissa as
   an integer in [0,1024) via exact double arithmetic (float32→double
   is exact; powers of two are exact; products stay < 2^53);
3. float32→fp16 round-to-nearest-EVEN done arithmetically, including
   mantissa-overflow promotion and the subnormal regime (|x| < 2⁻¹⁴);
4. mantissa truncation = integer floor-division by 2^(10−keep_m);
5. reassemble value lists with ``list(... ORDER BY idx)``.

Every sum over coordinates uses ``list_sum(list_transform(...))`` on
assembled lists — a strict left fold, bit-identical to Spark's
``aggregate``/``zip_with`` folds — never a grouped SUM (whose order is
unspecified). Grouped MIN/MAX/COUNT are order-insensitive and safe.
"""

from __future__ import annotations

from ..operators.refine import hoeff_const

FP16_MAN_BITS = 10


# ---------------------------------------------------------------------------
# fp16 emulation CTE block
# ---------------------------------------------------------------------------

def fp16_cte(keep_m: int, table: str = "embeddings", id_col: str = "vec_id",
             vec_col: str = "embedding", keep_e: int = 5) -> str:
    """CTE chain ending in ``red_tbl(vec_id, vec16, red, kept_exp,
    delta, sgn_raw)`` — the SQL twin of ``reduce_precision_np`` +
    ``delta_from_exp_np`` + ``fp16_round_np``.

    ``keep_e < 5`` additionally clears the low exponent-field bits
    (``reduce_precision_keep_both``, ``ANNCode.py:219-242``): when the
    truncated field reaches 0 the stored bits reinterpret as a
    subnormal (implicit leading 1 lost), exactly like the u16 AND-mask
    kernel's bit reinterpretation."""
    drop = 1 << (FP16_MAN_BITS - keep_m)
    edrop = 1 << (5 - keep_e)
    return f"""
ex AS (
  SELECT {id_col} AS vec_id, generate_subscripts({vec_col}, 1) AS idx,
         CAST(unnest({vec_col}) AS DOUBLE) AS x
  FROM {table}
),
s1 AS (SELECT vec_id, idx, x, abs(x) AS a,
              CASE WHEN x < 0 THEN -1.0 ELSE 1.0 END AS sgn FROM ex),
s2 AS (SELECT *, CASE WHEN a = 0 THEN -100 ELSE CAST(floor(log2(a)) AS INT) END AS e_raw FROM s1),
s3 AS (SELECT *, CASE WHEN a = 0 THEN -100
                      WHEN power(2.0, e_raw) > a THEN e_raw - 1
                      WHEN power(2.0, e_raw + 1) <= a THEN e_raw + 1
                      ELSE e_raw END AS e0 FROM s2),
s4 AS (SELECT *, CASE WHEN a = 0 THEN 0.0
                      WHEN e0 < -14 THEN a * 16777216.0
                      ELSE (a / power(2.0, e0) - 1.0) * 1024.0 END AS y FROM s3),
s5 AS (SELECT *, CAST(floor(y) AS BIGINT)
                 + CASE WHEN y - floor(y) > 0.5 THEN 1
                        WHEN y - floor(y) < 0.5 THEN 0
                        ELSE CAST(floor(y) AS BIGINT) % 2 END AS m_rhe FROM s4),
s6 AS (SELECT vec_id, idx, x, sgn,
         CASE WHEN a = 0 THEN 0
              WHEN e0 < -14 THEN CASE WHEN m_rhe >= 1024 THEN 1 ELSE 0 END
              ELSE CASE WHEN m_rhe >= 1024 THEN e0 + 16 ELSE e0 + 15 END END AS efield,
         CASE WHEN a = 0 OR m_rhe >= 1024 THEN 0 ELSE m_rhe END AS m16
       FROM s5),
s7 AS (SELECT *, (m16 // {drop}) * {drop} AS m_t,
              (efield // {edrop}) * {edrop} AS efield_t FROM s6),
vals AS (
  SELECT vec_id, idx, x, efield_t AS efield,
    CASE WHEN efield = 0 THEN sgn * (CAST(m16 AS DOUBLE) / 1024.0) * 0.00006103515625
         ELSE sgn * power(2.0, efield - 15) * (1.0 + CAST(m16 AS DOUBLE) / 1024.0) END AS x16,
    CASE WHEN efield_t = 0 THEN sgn * (CAST(m_t AS DOUBLE) / 1024.0) * 0.00006103515625
         ELSE sgn * power(2.0, efield_t - 15) * (1.0 + CAST(m_t AS DOUBLE) / 1024.0) END AS xr,
    CASE WHEN efield_t = 0 THEN power(2.0, {1 - 15 - keep_m})
         ELSE power(2.0, efield_t - 15 - {keep_m}) END AS dlt,
    CASE WHEN x < 0 THEN -1.0 ELSE 1.0 END AS sgn_raw
  FROM s7),
red_tbl AS (
  SELECT vec_id,
    list(x16 ORDER BY idx) AS vec16,
    list(xr ORDER BY idx) AS red,
    list(CAST(efield AS SMALLINT) ORDER BY idx) AS kept_exp,
    list(dlt ORDER BY idx) AS delta,
    list(sgn_raw ORDER BY idx) AS sgn_raw
  FROM vals GROUP BY vec_id
)"""


# ---------------------------------------------------------------------------
# fold helpers: the one set every oracle uses (DOUBLE left folds)
# ---------------------------------------------------------------------------

def sql_dot(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )


def sql_sq_norm(a: str) -> str:
    return f"list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"


def sql_cos(a: str, b: str) -> str:
    """Cosine as ``operators/simsearch.cosine`` folds it: ⟨a,b⟩ over the
    ε-floored norms."""
    return (
        f"({sql_dot(a, b)} / (greatest(sqrt({sql_sq_norm(a)}), 1e-12) * "
        f"greatest(sqrt({sql_sq_norm(b)}), 1e-12)))"
    )


def sql_unit(a: str) -> str:
    return (
        f"list_transform({a}, v -> CAST(v AS DOUBLE) / "
        f"greatest(sqrt({sql_sq_norm(a)}), 1e-12))"
    )


def sql_dist2(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * "
        f"(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
    )


# ---------------------------------------------------------------------------
# Refinement oracle (mirrors operators/refine.py :: refine_topk)
# ---------------------------------------------------------------------------

def _cushion_sql(mode: str, delta: float | None) -> str:
    """Additive cushion expr over pairs columns (qn, c.delta, c.bconst)."""
    if mode == "cos-hoeff":
        qd_sq = (
            "list_sum(list_transform(list_zip(q.qn, c.delta), "
            "p -> (CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)) * "
            "(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))"
        )
        return f"{hoeff_const(delta)!r} * sqrt({qd_sq})"
    if mode == "cos-l1":
        return (
            "list_sum(list_transform(list_zip(q.qn, c.delta), "
            "p -> abs(CAST(p[1] AS DOUBLE)) * CAST(p[2] AS DOUBLE)))"
        )
    if mode == "cos-l2":
        return "c.bconst"
    raise ValueError(mode)


def _l2_lower_sql(mode: str, delta: float | None) -> str:
    """Lower-bound expr over pairs columns (qn, redv, delta, sgn_raw,
    d2_hat). a_j = qn_j − redv_j computed inline."""
    if mode == "l2-sym":
        return (
            "list_sum(list_transform(list_zip(q.qn, c.redv, c.delta), p -> "
            "greatest(abs(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) - CAST(p[3] AS DOUBLE), 0.0) * "
            "greatest(abs(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) - CAST(p[3] AS DOUBLE), 0.0)))"
        )
    if mode == "l2-tz":
        a = "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
        d = "CAST(p[3] AS DOUBLE)"
        s = "CAST(p[4] AS DOUBLE)"
        return (
            f"list_sum(list_transform(list_zip(q.qn, c.redv, c.delta, c.sgn_raw), p -> "
            f"CASE WHEN {a} * {s} <= 0 THEN {a} * {a} "
            f"WHEN {a} * {s} < {d} THEN 0.0 "
            f"ELSE (abs({a}) - {d}) * (abs({a}) - {d}) END))"
        )
    if mode == "l2-hoeff":
        ad_sq = (
            "list_sum(list_transform(list_zip(q.qn, c.redv, c.delta), p -> "
            "((CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * CAST(p[3] AS DOUBLE)) * "
            "((CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * CAST(p[3] AS DOUBLE))))"
        )
        return f"d2_hat - {2.0 * hoeff_const(delta)!r} * sqrt({ad_sq})"
    raise ValueError(mode)


def refine_body(mode: str, k: int, keep_m: int, delta: float | None,
                query_stride: int, extra_ctes: str = "",
                candidate_cte: str | None = None) -> str:
    """CTE chain from ``red_tbl`` to ``final`` (rank ≤ k candidates).

    ``candidate_cte`` (with ``extra_ctes`` supplying its definition —
    inserted after ``corp``) names a ``(query_id, vec_id)`` CTE that
    restricts the pair space to a per-query candidate stream,
    replaying ``refine.refine_topk(candidate_ids=...)``; the ``q`` CTE
    always exposes the raw ``qe`` alongside ``qn`` so index CTEs (IVF
    probes) can consume it."""
    cos = mode.startswith("cos-")
    if cos:
        corp_extra = (
            f", sqrt({sql_dist2(sql_unit('vec16'), sql_unit('red'))}) AS bconst"
            if mode == "cos-l2"
            else ""
        )
        corp = (
            f"SELECT vec_id, {sql_unit('vec16')} AS fullv, {sql_unit('red')} AS redv, "
            f"delta, sgn_raw{corp_extra} FROM red_tbl"
        )
        qn = sql_unit("embedding")
        phase1 = f"{sql_dot('c.redv', 'q.qn')} AS s_hat"
        seed_order, final_order, tau_agg = "DESC", "DESC", "min"
        admit = f"p.s_hat + p.cush >= t.tau0"
        cush = f"{_cushion_sql(mode, delta)} AS cush"
        exact = sql_dot("c.fullv", "q.qn")
    else:
        corp = (
            "SELECT vec_id, vec16 AS fullv, red AS redv, delta, sgn_raw FROM red_tbl"
        )
        qn = "list_transform(embedding, v -> CAST(v AS DOUBLE))"
        phase1 = f"{sql_dist2('q.qn', 'c.redv')} AS d2_hat"
        seed_order, final_order, tau_agg = "ASC", "ASC", "max"
        admit = f"p.lower_b <= t.tau0"
        cush = f"{_l2_lower_sql(mode, delta)} AS lower_b"
        exact = sql_dist2("q.qn", "c.fullv")
    p1col = "s_hat" if cos else "d2_hat"
    pairs_from = (
        "FROM q CROSS JOIN corp c"
        if candidate_cte is None
        else f"FROM {candidate_cte} ci JOIN q ON q.query_id = ci.query_id "
             f"JOIN corp c ON c.vec_id = ci.vec_id"
    )
    return f"""
q AS (SELECT vec_id AS query_id, embedding AS qe, {qn} AS qn FROM embeddings WHERE vec_id % {query_stride} = 0),
corp AS ({corp}),
{extra_ctes}pairs AS (
  SELECT q.query_id, q.qn, c.vec_id, {phase1}, {cush}
  {pairs_from}
),
seed AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY {p1col} {seed_order}, vec_id) AS r
    FROM pairs) WHERE r <= {k}
),
seed_exact AS (
  SELECT s.query_id, s.vec_id, {exact} AS score
  FROM seed s JOIN corp c USING (vec_id) JOIN q USING (query_id)
),
tau AS (SELECT query_id, {tau_agg}(score) AS tau0 FROM seed_exact GROUP BY query_id),
surv AS (
  SELECT p.query_id, p.vec_id
  FROM (SELECT * FROM pairs ANTI JOIN seed USING (query_id, vec_id)) p
  JOIN tau t USING (query_id)
  WHERE {admit}
),
surv_exact AS (
  SELECT s.query_id, s.vec_id, {exact} AS score
  FROM surv s JOIN corp c USING (vec_id) JOIN q USING (query_id)
),
cand AS (SELECT * FROM seed_exact UNION ALL SELECT * FROM surv_exact),
final AS (
  SELECT query_id, vec_id AS neighbor_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score {final_order}, vec_id) AS INT) AS rank
  FROM cand
),
gt AS (
  SELECT query_id, vec_id AS neighbor_id FROM (
    SELECT q.query_id, c.vec_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY {exact} {final_order}, c.vec_id) AS r
    FROM q CROSS JOIN corp c) WHERE r <= {k}
)"""


def refine_topk_sql(mode: str, k: int, keep_m: int, delta: float | None,
                    query_stride: int) -> str:
    return f"""
WITH {fp16_cte(keep_m)},
{refine_body(mode, k, keep_m, delta, query_stride)}
SELECT query_id, rank, neighbor_id, round(score, 6) AS score
FROM final WHERE rank <= {k}
"""


def refine_metrics_sql(mode: str, k: int, keep_m: int, delta: float | None,
                       query_stride: int, dim: int = 64, keep_e: int = 5) -> str:
    b_full = 16.0 * dim / 8.0
    b_red = (1 + keep_e + keep_m) * dim / 8.0
    return f"""
WITH {fp16_cte(keep_m)},
{refine_body(mode, k, keep_m, delta, query_stride)},
topk AS (SELECT query_id, neighbor_id FROM final WHERE rank <= {k}),
counts AS (
  SELECT
    (SELECT count(*) FROM q) AS n_q,
    (SELECT count(*) FROM corp) AS n_c,
    (SELECT count(*) FROM cand) AS n_fetched,
    (SELECT count(*) FROM gt JOIN topk USING (query_id, neighbor_id)) AS n_hits,
    (SELECT count(*) FROM cand ANTI JOIN topk
       ON cand.query_id = topk.query_id AND cand.vec_id = topk.neighbor_id) AS n_unnecessary
)
SELECT
  '{mode}' AS mode,
  CAST({keep_m} AS INT) AS m_keep,
  CAST({float(delta) if delta is not None else 0.0!r} AS DOUBLE) AS delta,
  n_hits / (n_q * CAST({float(k)!r} AS DOUBLE)) AS recall,
  1.0 - ({b_red!r} * n_c * n_q + {b_full!r} * n_fetched) / ({b_full!r} * n_c * n_q) AS save,
  n_unnecessary / CAST(n_c * n_q AS DOUBLE) AS fpr
FROM counts
"""


def reduce_precision_sql(keep_m: int, keep_e: int = 5) -> str:
    """Oracle for the P5/P6/P7 projection in long form
    ``(vec_id, pos, vec16, red, kept_exp, delta)`` — one scalar row per
    coordinate so the driver's value hash applies (ARRAY cells are not
    hashable there). ``+ 0.0`` normalizes −0.0 on both engines;
    ``idx`` from ``generate_subscripts`` is 1-based vs posexplode's
    0-based ``pos``."""
    return f"""
WITH {fp16_cte(keep_m, keep_e=keep_e)}
SELECT vec_id,
       CAST(idx - 1 AS INT) AS pos,
       x16 + 0.0 AS vec16,
       xr + 0.0 AS red,
       CAST(efield AS INT) AS kept_exp,
       dlt AS delta
FROM vals
"""
