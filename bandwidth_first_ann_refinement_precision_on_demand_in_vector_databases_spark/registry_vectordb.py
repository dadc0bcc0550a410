"""Vector-database query-shape suite: metadata-filtered top-K (exact
and IVF), radius range search, the int8 scalar-quantization tier, and
hybrid keyword+vector RRF fusion. Every query has a DuckDB twin that
replays the identical arithmetic (same DOUBLE folds, same round-half-up
int8 rule, same tie-breaks), so the driver check is hash-exact. The
plain top-K / Recall@K pairs (SQ, BQ, MRL, RaBitQ families) are
``VECTORDB_PIPELINES`` rows of the ANN pipeline table in
``registry_simsearch``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import sq as SQ
from .operators import vectordb as V
from .operators.simsearch import ann_recall
from .operators.topk import exact_topk_fixture_cached
from .plans.duck_oracle import sql_cos, sql_dist2, sql_dot
from .registry_simsearch import (
    ANN_K,
    SQL_IVF_BODY,
    SQL_IVF_CTES,
    SQL_Q_CTE,
    SQL_RECALL_ROW,
    AnnPipeline,
    _sql_hit_rate,
    over_fixture,
    register_ann_pipelines,
    sql_rerank,
)
from .session import memo
from .sources.fixtures import QUERY_STRIDE, load_table, queries_view

#: attribute predicate for the filtered-search queries (≈40% of the
#: corpus survives — large enough that top-K stays well-defined,
#: small enough that the pushdown matters)
FILTER_LABELS = (1, 3, 5, 7)
_SQL_FILTER = f"label IN {FILTER_LABELS}"

#: L2² budget for range search — between the 1st and 5th percentile
#: of query-corpus pair distances on the fixture, so the result set
#: is non-trivial but far below q×N
RANGE_RADIUS2 = 1.44


def _filter_col() -> Column:
    return F.col("label").isin(*FILTER_LABELS)


# ---------------------------------------------------------------------------
# Filtered top-K
# ---------------------------------------------------------------------------

def q_ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = V.filtered_topk(
        queries_view(spark, sf_dir),
        load_table(spark, sf_dir, "embeddings"),
        ANN_K,
        _filter_col(),
        metric="cosine",
    )
    return out.select(
        "query_id", "rank", "neighbor_id", F.round("score", 6).alias("score")
    )


SQL_ANN_FILTERED_TOPK = f"""
WITH q AS ({SQL_Q_CTE})
SELECT query_id, rank, neighbor_id, round(score, 6) AS score FROM (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    {sql_cos("q.qe", "e.embedding")} AS score,
    CAST(row_number() OVER (PARTITION BY q.query_id
      ORDER BY {sql_cos("q.qe", "e.embedding")} DESC, e.vec_id) AS INT) AS rank
  FROM q CROSS JOIN embeddings e WHERE e.{_SQL_FILTER}
) WHERE rank <= {ANN_K}
"""


def q_ann_filtered_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = V.filtered_ivf_topk(
        queries_view(spark, sf_dir),
        load_table(spark, sf_dir, "embeddings"),
        ANN_K,
        _filter_col(),
    )
    return out.select(
        "query_id", "rank", "neighbor_id", F.round("score", 6).alias("score")
    )


SQL_ANN_FILTERED_IVF_TOPK = f"""
WITH {SQL_IVF_CTES},
fcand AS (
  SELECT c.query_id, c.neighbor_id, c.score
  FROM ivf_cand c JOIN embeddings e ON e.vec_id = c.neighbor_id
  WHERE e.{_SQL_FILTER}
)
SELECT query_id, rank, neighbor_id, round(score, 6) AS score FROM (
  SELECT query_id, neighbor_id, score,
    CAST(row_number() OVER (PARTITION BY query_id
      ORDER BY score DESC, neighbor_id) AS INT) AS rank
  FROM fcand
) WHERE rank <= {ANN_K}
"""


# ---------------------------------------------------------------------------
# Range (radius) search
# ---------------------------------------------------------------------------

def q_ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = V.range_search(
        queries_view(spark, sf_dir),
        load_table(spark, sf_dir, "embeddings"),
        RANGE_RADIUS2,
    )
    return out.select("query_id", "neighbor_id", F.round("d2", 6).alias("d2"))


SQL_ANN_RANGE_SEARCH = f"""
WITH q AS ({SQL_Q_CTE})
SELECT q.query_id, e.vec_id AS neighbor_id,
       round({sql_dist2("q.qe", "e.embedding")}, 6) AS d2
FROM q CROSS JOIN embeddings e
WHERE {sql_dist2("q.qe", "e.embedding")} <= {RANGE_RADIUS2}
"""


# ---------------------------------------------------------------------------
# Scalar quantization (int8)
# ---------------------------------------------------------------------------

#: SQL replay of operators/sq.py — per-vector max-abs scale,
#: round-half-up codes clamped to [-127, 127], recon = c·s/127
_SQL_SQ_ENC = f"""
enc AS (
  SELECT vec_id, s,
    list_transform(embedding, x -> greatest(-{SQ.SQ_LEVELS}, least({SQ.SQ_LEVELS},
      CAST(floor(CAST(x AS DOUBLE) * {SQ.SQ_LEVELS} / s + 0.5) AS INT)))) AS codes
  FROM (
    SELECT vec_id, embedding,
      greatest(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
               {SQ.SQ_EPS}) AS s
    FROM embeddings
  )
)
"""

_SQL_SQ_RECON = f"""
{_SQL_SQ_ENC},
recon AS (
  SELECT vec_id,
    list_transform(codes, c -> CAST(c AS DOUBLE) * s / {float(SQ.SQ_LEVELS)}) AS recon
  FROM enc
)
"""


def q_sq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    enc = SQ.sq_encode(load_table(spark, sf_dir, "embeddings"))
    return enc.select(
        "vec_id",
        F.round("s", 6).alias("s"),
        F.posexplode("codes").alias("pos", "code"),
    )


SQL_SQ_CODES = f"""
WITH {_SQL_SQ_ENC}
SELECT vec_id, round(s, 6) AS s,
       CAST(generate_subscripts(codes, 1) - 1 AS INT) AS pos,
       CAST(unnest(codes) AS INT) AS code
FROM enc
"""


#: int8 pricing of every corpus vector (``sq_cand``)
_SQL_SQ_CTES = f"""q AS ({SQL_Q_CTE}),
{_SQL_SQ_RECON},
sq_cand AS (
  SELECT q.query_id, r.vec_id AS neighbor_id,
         {sql_dist2("q.qe", "r.recon")} AS score
  FROM q CROSS JOIN recon r
)
"""

#: IVF cell pruning × int8 pricing (``adc``): the IVF-PQ shape over the
#: int8 reconstructions
_SQL_IVFSQ_CTES = f"""{SQL_IVF_CTES},
{_SQL_SQ_RECON},
adc AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {sql_dist2("p.qe", "r.recon")} AS score
  FROM probes p
  JOIN assigned a ON a.cell = p.cell
  JOIN recon r ON r.vec_id = a.vec_id
)"""


# ---------------------------------------------------------------------------
# Hybrid keyword + vector fusion (RRF)
# ---------------------------------------------------------------------------

def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    query_docs = docs.where(F.col("doc_id") % QUERY_STRIDE == 0)
    out = V.hybrid_rrf(
        query_docs,
        docs,
        queries_view(spark, sf_dir),
        load_table(spark, sf_dir, "embeddings"),
    )
    return out.select("query_id", "rank", "doc_id", F.round("rrf", 6).alias("rrf"))


SQL_HYBRID_RRF = f"""
WITH qd AS (
  SELECT doc_id AS query_id, list_distinct(string_split(text, ' ')) AS qtok
  FROM documents WHERE doc_id % {QUERY_STRIDE} = 0
),
dt AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS dtok FROM documents),
qt AS (SELECT query_id, unnest(qtok) AS tok FROM qd),
dtt AS (SELECT doc_id, unnest(dtok) AS tok FROM dt),
kw AS (
  SELECT query_id, doc_id, kw_rank FROM (
    SELECT query_id, doc_id,
      row_number() OVER (PARTITION BY query_id
        ORDER BY n_common DESC, doc_id) AS kw_rank
    FROM (
      SELECT qt.query_id, dtt.doc_id, count(*) AS n_common
      FROM dtt JOIN qt ON qt.tok = dtt.tok
      GROUP BY qt.query_id, dtt.doc_id
    )
  ) WHERE kw_rank <= {V.HYBRID_TOPN}
),
q AS ({SQL_Q_CTE}),
vec AS (
  SELECT query_id, neighbor_id AS doc_id, vec_rank FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
      row_number() OVER (PARTITION BY q.query_id
        ORDER BY {sql_cos("q.qe", "e.embedding")} DESC, e.vec_id) AS vec_rank
    FROM q CROSS JOIN embeddings e
  ) WHERE vec_rank <= {V.HYBRID_TOPN}
),
fused AS (
  SELECT coalesce(kw.query_id, vec.query_id) AS query_id,
         coalesce(kw.doc_id, vec.doc_id) AS doc_id,
         coalesce(CAST(1 AS DOUBLE) / ({V.RRF_KAPPA} + kw_rank), 0.0)
           + coalesce(CAST(1 AS DOUBLE) / ({V.RRF_KAPPA} + vec_rank), 0.0) AS rrf
  FROM kw FULL OUTER JOIN vec
    ON kw.query_id = vec.query_id AND kw.doc_id = vec.doc_id
)
SELECT query_id, rank, doc_id, round(rrf, 6) AS rrf FROM (
  SELECT query_id, doc_id, rrf,
    CAST(row_number() OVER (PARTITION BY query_id
      ORDER BY rrf DESC, doc_id) AS INT) AS rank
  FROM fused
) WHERE rank <= {V.HYBRID_K}
"""


# ---------------------------------------------------------------------------
# BM25 ranked retrieval
# ---------------------------------------------------------------------------

BM25_TOPN = 20


def q_bm25_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    query_docs = docs.where(F.col("doc_id") % QUERY_STRIDE == 0)
    return V.bm25_topn(query_docs, docs, BM25_TOPN)


#: exact SQL replay of operators/vectordb.bm25_topn — identical
#: literal constants, identical expression grouping, idf quantized to
#: micro-units right after the only ln(), BIGINT micro-unit sums.
#: The CTE body is shared with the BM25-side hybrid fusion below.
_SQL_BM25_CTES = f"""toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
nstat AS (SELECT count(*) AS n FROM documents),
avgstat AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
dfs AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
idf AS (
  SELECT tok,
    floor(ln((n - df + 0.5) / (df + 0.5) + 1.0) * {V.BM25_SCALE})
      / {float(V.BM25_SCALE)} AS idf
  FROM dfs CROSS JOIN nstat
),
qt AS (
  SELECT query_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM (SELECT doc_id AS query_id, text FROM documents
        WHERE doc_id % {QUERY_STRIDE} = 0)
),
terms AS (
  SELECT qt.query_id, tf.doc_id,
    CAST(floor(
      idf.idf * (CAST(tf.tf AS DOUBLE) * {V.BM25_K1 + 1.0})
      / (CAST(tf.tf AS DOUBLE)
         + {V.BM25_K1} * ({1.0 - V.BM25_B} + {V.BM25_B} * CAST(dl.dl AS DOUBLE) / avgstat.avgdl))
      * {V.BM25_SCALE}
    ) AS BIGINT) AS t6
  FROM tf
  JOIN qt ON qt.tok = tf.tok
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN idf ON idf.tok = tf.tok
  CROSS JOIN avgstat
),
bm25r AS (
  SELECT query_id, doc_id, score_micro,
    CAST(row_number() OVER (PARTITION BY query_id
      ORDER BY score_micro DESC, doc_id) AS INT) AS rank
  FROM (
    SELECT query_id, doc_id, CAST(sum(t6) AS BIGINT) AS score_micro
    FROM terms GROUP BY query_id, doc_id
  )
)"""

SQL_BM25_TOPN = f"""
WITH {_SQL_BM25_CTES}
SELECT query_id, rank, doc_id, score_micro FROM bm25r
WHERE rank <= {BM25_TOPN}
"""


# ---------------------------------------------------------------------------
# MMR diversity re-ranking
# ---------------------------------------------------------------------------

def q_ann_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = V.mmr_rerank(
        queries_view(spark, sf_dir), load_table(spark, sf_dir, "embeddings")
    )
    return out.select("query_id", "rank", "doc_id", F.round("mmr", 6).alias("mmr"))


def _sql_mmr() -> str:
    """Unrolled greedy MMR — the same k rounds the Spark plan runs,
    as CTEs. The (1−λ) literal is emitted from the identical Python
    float (1.0 − 0.7 is NOT 0.3 in binary; both engines must parse
    the same repr)."""
    lam = V.MMR_LAMBDA
    one_minus = 1.0 - lam
    head = f"""
WITH q AS ({SQL_Q_CTE}),
cand AS MATERIALIZED (
  SELECT query_id, doc_id, rel, embedding FROM (
    SELECT q.query_id, e.vec_id AS doc_id,
      {sql_cos("q.qe", "e.embedding")} AS rel, e.embedding,
      row_number() OVER (PARTITION BY q.query_id
        ORDER BY {sql_cos("q.qe", "e.embedding")} DESC, e.vec_id) AS rn
    FROM q CROSS JOIN embeddings e
  ) WHERE rn <= {V.MMR_TOPN}
),
pairs AS MATERIALIZED (
  SELECT a.query_id, a.doc_id AS id_a, b.doc_id AS id_b,
         {sql_cos("a.embedding", "b.embedding")} AS sim
  FROM cand a JOIN cand b
    ON a.query_id = b.query_id AND a.doc_id != b.doc_id
),
sel1 AS MATERIALIZED (
  SELECT query_id, 1 AS rank, doc_id, mmr FROM (
    SELECT query_id, doc_id, {lam} * rel AS mmr,
      row_number() OVER (PARTITION BY query_id
        ORDER BY {lam} * rel DESC, doc_id) AS rn
    FROM cand
  ) WHERE rn = 1
)"""
    parts = [head]
    for i in range(2, V.MMR_K + 1):
        prev = f"sel{i - 1}"
        parts.append(f""",
rem{i} AS MATERIALIZED (
  SELECT c.query_id, c.doc_id, c.rel FROM cand c
  WHERE NOT EXISTS (SELECT 1 FROM {prev} s
                    WHERE s.query_id = c.query_id AND s.doc_id = c.doc_id)
),
pen{i} AS MATERIALIZED (
  SELECT r.query_id, r.doc_id, max(p.sim) AS pen
  FROM rem{i} r
  JOIN {prev} s ON s.query_id = r.query_id
  JOIN pairs p ON p.query_id = r.query_id
             AND p.id_a = r.doc_id AND p.id_b = s.doc_id
  GROUP BY r.query_id, r.doc_id
),
pick{i} AS MATERIALIZED (
  SELECT query_id, {i} AS rank, doc_id, mmr FROM (
    SELECT r.query_id, r.doc_id,
      {lam} * r.rel - {one_minus} * n.pen AS mmr,
      row_number() OVER (PARTITION BY r.query_id
        ORDER BY {lam} * r.rel - {one_minus} * n.pen DESC, r.doc_id) AS rn
    FROM rem{i} r JOIN pen{i} n
      ON n.query_id = r.query_id AND n.doc_id = r.doc_id
  ) WHERE rn = 1
),
sel{i} AS MATERIALIZED (SELECT * FROM {prev} UNION ALL SELECT * FROM pick{i})""")
    parts.append(f"""
SELECT query_id, rank, doc_id, round(mmr, 6) AS mmr FROM sel{V.MMR_K}
""")
    return "".join(parts)


SQL_ANN_MMR_RERANK = _sql_mmr()


# ---------------------------------------------------------------------------
# Hybrid fusion with the BM25 lexical side
# ---------------------------------------------------------------------------

def q_hybrid_bm25_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    query_docs = docs.where(F.col("doc_id") % QUERY_STRIDE == 0)
    out = V.hybrid_bm25_rrf(
        query_docs,
        docs,
        queries_view(spark, sf_dir),
        load_table(spark, sf_dir, "embeddings"),
    )
    return out.select("query_id", "rank", "doc_id", F.round("rrf", 6).alias("rrf"))


SQL_HYBRID_BM25_RRF = f"""
WITH {_SQL_BM25_CTES},
kw AS (
  SELECT query_id, doc_id, rank AS kw_rank FROM bm25r
  WHERE rank <= {V.HYBRID_TOPN}
),
q AS ({SQL_Q_CTE}),
vec AS (
  SELECT query_id, neighbor_id AS doc_id, vec_rank FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
      row_number() OVER (PARTITION BY q.query_id
        ORDER BY {sql_cos("q.qe", "e.embedding")} DESC, e.vec_id) AS vec_rank
    FROM q CROSS JOIN embeddings e
  ) WHERE vec_rank <= {V.HYBRID_TOPN}
),
fused AS (
  SELECT coalesce(kw.query_id, vec.query_id) AS query_id,
         coalesce(kw.doc_id, vec.doc_id) AS doc_id,
         coalesce(CAST(1 AS DOUBLE) / ({V.RRF_KAPPA} + kw_rank), 0.0)
           + coalesce(CAST(1 AS DOUBLE) / ({V.RRF_KAPPA} + vec_rank), 0.0) AS rrf
  FROM kw FULL OUTER JOIN vec
    ON kw.query_id = vec.query_id AND kw.doc_id = vec.doc_id
)
SELECT query_id, rank, doc_id, round(rrf, 6) AS rrf FROM (
  SELECT query_id, doc_id, rrf,
    CAST(row_number() OVER (PARTITION BY query_id
      ORDER BY rrf DESC, doc_id) AS INT) AS rank
  FROM fused
) WHERE rank <= {V.HYBRID_K}
"""


VECTORDB_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "ann_filtered_topk": q_ann_filtered_topk,
    "ann_filtered_ivf_topk": q_ann_filtered_ivf_topk,
    "ann_range_search": q_ann_range_search,
    "sq_codes": q_sq_codes,
    "hybrid_rrf": q_hybrid_rrf,
    "bm25_topn": q_bm25_topn,
    "hybrid_bm25_rrf": q_hybrid_bm25_rrf,
    "ann_mmr_rerank": q_ann_mmr_rerank,
}

VECTORDB_ORACLES: dict[str, str] = {
    "ann_filtered_topk": SQL_ANN_FILTERED_TOPK,
    "ann_filtered_ivf_topk": SQL_ANN_FILTERED_IVF_TOPK,
    "ann_range_search": SQL_ANN_RANGE_SEARCH,
    "sq_codes": SQL_SQ_CODES,
    "hybrid_rrf": SQL_HYBRID_RRF,
    "bm25_topn": SQL_BM25_TOPN,
    "hybrid_bm25_rrf": SQL_HYBRID_BM25_RRF,
    "ann_mmr_rerank": SQL_ANN_MMR_RERANK,
}


# ---------------------------------------------------------------------------
# Binary (sign) quantization — 1-bit signatures, Hamming pre-rank
# (operators/bq.py; the precision ladder's cheapest rung)
# ---------------------------------------------------------------------------

from .operators import bq as BQ  # noqa: E402
from .sources.fixtures import FIXTURE_EMBED_DIM as _DIM  # noqa: E402

_BQ_W = (_DIM + BQ.BQ_WORD - 1) // BQ.BQ_WORD


def _sql_bq_words(src: str, id_expr: str, vec: str, cte: str) -> str:
    """(id, w, wcode) CTE: the packed sign words, replayed with the
    identical shift arithmetic (32-dim words keep every shift ≤ 31,
    where Spark and DuckDB BIGINT shifts agree bit-for-bit)."""
    return f"""{cte} AS (
  SELECT {id_expr} AS id, t.w,
    CAST(list_sum(list_transform(range(0, {BQ.BQ_WORD}), j ->
      CASE WHEN t.w * {BQ.BQ_WORD} + j < {_DIM}
                AND {vec}[CAST(t.w * {BQ.BQ_WORD} + j + 1 AS INT)] >= 0
           THEN (CAST(1 AS BIGINT) << CAST(j AS INT))
           ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS wcode
  FROM {src} CROSS JOIN range(0, {_BQ_W}) t(w)
)"""


_SQL_BQ_CTES = f"""
q AS ({SQL_Q_CTE}),
{_sql_bq_words("q", "query_id", "qe", "bq_qw")},
{_sql_bq_words("embeddings", "vec_id", "embedding", "bq_cw")},
bq_cand AS (
  SELECT qw.id AS query_id, cw.id AS neighbor_id,
         CAST(sum(bit_count(xor(qw.wcode, cw.wcode))) AS INT) AS score
  FROM bq_qw qw JOIN bq_cw cw ON qw.w = cw.w
  GROUP BY qw.id, cw.id
)
"""


def q_bq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored signature table in driver-hashable long form
    (vec_id, word, wcode) — D/8 bytes per vector at rest."""
    enc = BQ.bq_encode(load_table(spark, sf_dir, "embeddings"))
    return enc.select(
        F.col("id").alias("vec_id"), F.posexplode("words").alias("word", "wcode")
    )


SQL_BQ_CODES = f"""
WITH {_sql_bq_words("embeddings", "vec_id", "embedding", "bq_cw")}
SELECT id AS vec_id, CAST(w AS INT) AS word, wcode FROM bq_cw
"""


def q_ann_bq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = BQ.bq_topk(
        queries_view(spark, sf_dir), load_table(spark, sf_dir, "embeddings"), ANN_K
    )
    return out.select("query_id", "rank", "neighbor_id", "hamming")


SQL_ANN_BQ_TOPK = f"""
WITH {_SQL_BQ_CTES}
SELECT query_id, rank, neighbor_id, score AS hamming FROM (
  SELECT query_id, neighbor_id, score,
    CAST(row_number() OVER (PARTITION BY query_id
      ORDER BY score ASC, neighbor_id) AS INT) AS rank
  FROM bq_cand
) WHERE rank <= {ANN_K}
"""


_SQL_IVFBQ_CTES = f"""
q AS ({SQL_Q_CTE}),
{SQL_IVF_BODY},
{_sql_bq_words("q", "query_id", "qe", "bq_qw")},
{_sql_bq_words("embeddings", "vec_id", "embedding", "bq_cw")},
ivfbq_ham AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         CAST(sum(bit_count(xor(qw.wcode, cw.wcode))) AS INT) AS hscore
  FROM probes p
  JOIN assigned a ON a.cell = p.cell
  JOIN bq_cw cw ON cw.id = a.vec_id
  JOIN bq_qw qw ON qw.id = p.query_id AND qw.w = cw.w
  GROUP BY p.query_id, a.vec_id
),
ivfbq_ids AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id
        ORDER BY hscore ASC, neighbor_id) AS r
    FROM ivfbq_ham
  ) WHERE r <= {BQ.BQ_REFINE_R * ANN_K}
),
ivfbq_cand AS (
  SELECT c.query_id, c.neighbor_id, {sql_cos("q.qe", "e.embedding")} AS score
  FROM ivfbq_ids c
  JOIN embeddings e ON e.vec_id = c.neighbor_id
  JOIN q ON q.query_id = c.query_id
)
"""

VECTORDB_QUERIES["bq_codes"] = q_bq_codes
VECTORDB_QUERIES["ann_bq_topk"] = q_ann_bq_topk
VECTORDB_ORACLES["bq_codes"] = SQL_BQ_CODES
VECTORDB_ORACLES["ann_bq_topk"] = SQL_ANN_BQ_TOPK


# ---------------------------------------------------------------------------
# Matryoshka-style dimension truncation (operators/mrl.py) — the
# bandwidth-reduction grid's other axis: fewer coordinates instead of
# fewer bits per coordinate.
# ---------------------------------------------------------------------------

from .operators import mrl as MRL  # noqa: E402

#: fixture prefix length (D/4 = 16): the oracle is literal SQL over
#: the D=64 fixture; the operator derives it from the data.
_MRL_D = MRL.mrl_dims(_DIM)

#: tuned operating point from the swept frontier
#: (reports/sweep_mrl_frontier.csv): d'=32, R=5 → recall@20 0.651 at
#: sf0.1 vs 0.30 at the (16, 3) default — the best honest point on
#: the isotropic fixture, at 0.45 bytes saving.
MRL_D_TUNED, MRL_R_TUNED = 32, 5


def _sql_mrl_cos(a: str, b: str, d: int = _MRL_D) -> str:
    """Prefix cosine: sql_cos over list_slice(·, 1, d') both sides."""
    return sql_cos(f"list_slice({a}, 1, {d})", f"list_slice({b}, 1, {d})")


def _sql_mrl_cand(d: int = _MRL_D) -> str:
    return f"""
q AS ({SQL_Q_CTE}),
mrl_cand AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_sql_mrl_cos("q.qe", "e.embedding", d)} AS score
  FROM q CROSS JOIN embeddings e
)
"""


_SQL_MRL_CAND = _sql_mrl_cand()


def q_ann_mrl_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = MRL.mrl_topk(
        queries_view(spark, sf_dir), load_table(spark, sf_dir, "embeddings"), ANN_K
    )
    return out.select(
        "query_id", "rank", "neighbor_id",
        F.round("prefix_score", 6).alias("prefix_score"),
    )


SQL_ANN_MRL_TOPK = f"""
WITH {_SQL_MRL_CAND}
SELECT query_id, rank, neighbor_id, round(score, 6) AS prefix_score FROM (
  SELECT query_id, neighbor_id, score,
    CAST(row_number() OVER (PARTITION BY query_id
      ORDER BY score DESC, neighbor_id) AS INT) AS rank
  FROM mrl_cand
) WHERE rank <= {ANN_K}
"""


VECTORDB_QUERIES["ann_mrl_topk"] = q_ann_mrl_topk
VECTORDB_ORACLES["ann_mrl_topk"] = SQL_ANN_MRL_TOPK


# ---------------------------------------------------------------------------
# Vector-store mutation (operators/mutate.py): upsert/delete over an
# immutable base + IVF compaction stats under the frozen quantizer.
# ---------------------------------------------------------------------------

from .operators import mutate as MUT  # noqa: E402

#: shared mutation CTEs: the fixture-derived batch (delete-wins on the
#: mod-143 overlap class) and the live view after the merge.
_SQL_MUT_LIVE = f"""
mut_ups AS (
  SELECT vec_id, list_reverse(embedding) AS embedding FROM embeddings
  WHERE vec_id % {MUT.UPSERT_MOD} = {MUT.UPSERT_REM}
    AND vec_id % {MUT.DELETE_MOD} != {MUT.DELETE_REM}
),
mut_live AS (
  SELECT vec_id, embedding, 0 AS is_up FROM embeddings
  WHERE vec_id % {MUT.UPSERT_MOD} != {MUT.UPSERT_REM}
    AND vec_id % {MUT.DELETE_MOD} != {MUT.DELETE_REM}
  UNION ALL
  SELECT vec_id, embedding, 1 AS is_up FROM mut_ups
)
"""


def q_ann_delta_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = load_table(spark, sf_dir, "embeddings")
    ups, dels = MUT.fixture_mutation(corpus)
    out = MUT.mutated_topk(queries_view(spark, sf_dir), corpus, ups, dels, ANN_K)
    return out.select(
        "query_id", "rank", "neighbor_id", F.round("score", 6).alias("score")
    )


SQL_ANN_DELTA_TOPK = f"""
WITH q AS ({SQL_Q_CTE}),
{_SQL_MUT_LIVE}
SELECT query_id, rank, neighbor_id, round(score, 6) AS score FROM (
  SELECT q.query_id, l.vec_id AS neighbor_id,
    {sql_cos("q.qe", "l.embedding")} AS score,
    CAST(row_number() OVER (PARTITION BY q.query_id
      ORDER BY {sql_cos("q.qe", "l.embedding")} DESC, l.vec_id) AS INT) AS rank
  FROM q CROSS JOIN mut_live l
) WHERE rank <= {ANN_K}
"""


def q_ivf_delta_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = load_table(spark, sf_dir, "embeddings")
    ups, dels = MUT.fixture_mutation(corpus)
    return MUT.compact_cells(corpus, ups, dels).orderBy("cell")


SQL_IVF_DELTA_COMPACT = f"""
WITH {SQL_IVF_CTES},
{_SQL_MUT_LIVE},
massigned AS (
  SELECT vec_id, is_up, centroid_id AS cell FROM (
    SELECT l.vec_id, l.is_up, c.centroid_id,
      row_number() OVER (PARTITION BY l.vec_id
        ORDER BY {sql_dist2("l.embedding", "c.cvec")} ASC, c.centroid_id ASC) AS r
    FROM mut_live l CROSS JOIN cents c
  ) WHERE r = 1
)
SELECT cell,
  count(CASE WHEN is_up = 0 THEN 1 END) AS n_base_live,
  count(CASE WHEN is_up = 1 THEN 1 END) AS n_upserted,
  count(*) AS n_total
FROM massigned GROUP BY cell ORDER BY cell
"""

VECTORDB_QUERIES["ann_delta_topk"] = q_ann_delta_topk
VECTORDB_QUERIES["ivf_delta_compact"] = q_ivf_delta_compact
VECTORDB_ORACLES["ann_delta_topk"] = SQL_ANN_DELTA_TOPK
VECTORDB_ORACLES["ivf_delta_compact"] = SQL_IVF_DELTA_COMPACT


# ---------------------------------------------------------------------------
# Multi-vector late interaction (operators/multivec.py): ColBERT-style
# MaxSim re-rank of a single-vector candidate pool.
# ---------------------------------------------------------------------------

from .operators import multivec as MV  # noqa: E402

_MV_SUB = _DIM // MV.MV_M


def _sql_maxsim(qe: str, de: str) -> str:
    """Σᵢ maxⱼ cos(sliceᵢ(q), sliceⱼ(d)) unrolled — the same M² terms
    as ``multivec.maxsim_expr`` in DuckDB dialect."""
    terms = []
    for i in range(MV.MV_M):
        qi = f"list_slice({qe}, {i * _MV_SUB + 1}, {(i + 1) * _MV_SUB})"
        coss = [
            sql_cos(qi, f"list_slice({de}, {j * _MV_SUB + 1}, {(j + 1) * _MV_SUB})")
            for j in range(MV.MV_M)
        ]
        terms.append("greatest(" + ", ".join(coss) + ")")
    return "(" + " + ".join(terms) + ")"


def _sql_slice_term(qe: str, de: str, i: int) -> str:
    """DuckDB twin of ``multivec.slice_term_expr``: sᵢ(d) = greatest of
    the M cosines between query slice i and every doc slice."""
    qi = f"list_slice({qe}, {i * _MV_SUB + 1}, {(i + 1) * _MV_SUB})"
    coss = [
        sql_cos(qi, f"list_slice({de}, {j * _MV_SUB + 1}, {(j + 1) * _MV_SUB})")
        for j in range(MV.MV_M)
    ]
    return "greatest(" + ", ".join(coss) + ")"


#: DuckDB twin of ``multivec.maxsim_union_pool``: per query slice i,
#: top-p docs by sᵢ(d) (ties → vec_id asc, matching the Spark window),
#: UNION ALL over the M slices, DISTINCT doc ids. ≤ M·p per query.
_SQL_MAXSIM_UNION_POOL = (
    "SELECT DISTINCT query_id, neighbor_id FROM (\n  "
    + "\n  UNION ALL\n  ".join(
        f"""SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
      row_number() OVER (PARTITION BY q.query_id
        ORDER BY {_sql_slice_term("q.qe", "e.embedding", i)} DESC, e.vec_id) AS r
    FROM q CROSS JOIN embeddings e
  ) WHERE r <= {MV.MAXSIM_POOL_P}"""
        for i in range(MV.MV_M)
    )
    + "\n)"
)


def _maxsim_pool_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized+persisted per-slice union pool per (session, fixture
    dir) — the rerank, recall and bench queries share one stage-1
    scan, exactly as a serving stack runs candidate generation once
    per query batch. Released by ``session.clear_caches``."""
    return memo(
        spark,
        "maxsim_union_pool",
        sf_dir,
        lambda: MV.maxsim_union_pool(
            queries_view(spark, sf_dir), load_table(spark, sf_dir, "embeddings")
        ).persist(),
    )


def q_ann_maxsim_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage late interaction: stage 1 is the per-slice top-p UNION
    pool (``multivec.maxsim_union_pool`` — ≤ M·p docs per query,
    constant in N; the PLAID/ColBERTv2 candidate-generation shape);
    MaxSim over the M=4 derived sub-vector bags re-ranks only the
    pool. Replaced the r06 ⌈N/5⌉ whole-vector pool — per-slice
    evidence is the stronger AND bounded proxy
    (reports/sweep_maxsim_union.csv: 0.8275 vs 0.51 sufficiency at
    half the pool budget, sf0.1)."""
    corpus = load_table(spark, sf_dir, "embeddings")
    queries = queries_view(spark, sf_dir)
    pool = _maxsim_pool_cached(spark, sf_dir)
    out = MV.maxsim_rerank(queries, corpus, pool)
    return out.select(
        "query_id", "rank", "neighbor_id", F.round("maxsim", 6).alias("maxsim")
    )


SQL_ANN_MAXSIM_RERANK = f"""
WITH q AS ({SQL_Q_CTE}),
pool AS (
  {_SQL_MAXSIM_UNION_POOL}
),
ms AS (
  SELECT p.query_id, p.neighbor_id,
         {_sql_maxsim("q.qe", "e.embedding")} AS maxsim
  FROM pool p
  JOIN embeddings e ON e.vec_id = p.neighbor_id
  JOIN q ON q.query_id = p.query_id
)
SELECT query_id, rank, neighbor_id, round(maxsim, 6) AS maxsim FROM (
  SELECT query_id, neighbor_id, maxsim,
    CAST(row_number() OVER (PARTITION BY query_id
      ORDER BY maxsim DESC, neighbor_id) AS INT) AS rank
  FROM ms
) WHERE rank <= {MV.MAXSIM_K}
"""

def q_ann_maxsim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pool-sufficiency of the two-stage MaxSim: Recall@K of the
    pooled re-rank against EXHAUSTIVE MaxSim over the corpus — the
    number that says whether the candidate pool misses documents the
    late-interaction scorer would have surfaced. Pool = per-slice
    top-p union (``multivec.maxsim_union_pool``, ≤ M·p = 200 docs,
    constant in N): sufficiency 0.8275 at sf0.1 vs the retired ⌈N/5⌉
    whole-vector pool's 0.51 at twice the pool size
    (reports/sweep_maxsim_union.csv)."""
    queries = queries_view(spark, sf_dir)
    corpus = load_table(spark, sf_dir, "embeddings")
    pool = _maxsim_pool_cached(spark, sf_dir)
    ann = MV.maxsim_rerank(queries, corpus, pool)
    exact = MV.maxsim_topk_exhaustive(queries, corpus, MV.MAXSIM_K)
    return ann_recall(ann, exact, MV.MAXSIM_K)


SQL_ANN_MAXSIM_RECALL = f"""
WITH q AS ({SQL_Q_CTE}),
pool AS (
  {_SQL_MAXSIM_UNION_POOL}
),
allms AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_sql_maxsim("q.qe", "e.embedding")} AS maxsim
  FROM q CROSS JOIN embeddings e
),
ann AS (
  SELECT query_id, neighbor_id FROM (
    SELECT a.query_id, a.neighbor_id,
      row_number() OVER (PARTITION BY a.query_id
        ORDER BY a.maxsim DESC, a.neighbor_id) AS rank
    FROM allms a JOIN pool p
      ON p.query_id = a.query_id AND p.neighbor_id = a.neighbor_id
  ) WHERE rank <= {MV.MAXSIM_K}
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id
        ORDER BY maxsim DESC, neighbor_id) AS rank
    FROM allms
  ) WHERE rank <= {MV.MAXSIM_K}
),{_sql_hit_rate(MV.MAXSIM_K)}
{SQL_RECALL_ROW}
"""

VECTORDB_QUERIES["ann_maxsim_rerank"] = q_ann_maxsim_rerank
VECTORDB_QUERIES["ann_maxsim_recall"] = q_ann_maxsim_recall
VECTORDB_ORACLES["ann_maxsim_rerank"] = SQL_ANN_MAXSIM_RERANK
VECTORDB_ORACLES["ann_maxsim_recall"] = SQL_ANN_MAXSIM_RECALL


# ---------------------------------------------------------------------------
# Three-stage cascade: 1-bit Hamming -> int8 cosine -> exact re-rank
# (operators/bq.cascade_topk — the precision ladder composed end-to-end)
# ---------------------------------------------------------------------------

#: per-query candidate pools at each rung (K=20: 200 -> 60 -> 20)
_CASC_POOL2 = BQ.CASCADE_R2 * ANN_K
_CASC_POOL1 = BQ.CASCADE_R1 * ANN_K

#: byte model per query, from the fixture dim (the Spark side derives
#: D from data; the oracle replays the same arithmetic on the fixture
#: constant, exactly like the BQ word CTEs above): stage 1 scans the
#: whole signature table, stages 2/3 touch only their bounded pools.
_CASC_SIG_B = (_DIM + 7) // 8     # 1-bit signature bytes/vector
_CASC_SQ_B = _DIM + 8             # int8 codes + one float64 scale
_CASC_FULL_B = 4 * _DIM           # fp32 vector


def q_ann_cascade_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = BQ.cascade_topk(
        queries_view(spark, sf_dir), load_table(spark, sf_dir, "embeddings"), ANN_K
    )
    return out.select(
        "query_id", "rank", "neighbor_id", F.round("score", 6).alias("score")
    )


#: stages 1+2 as CTEs: Hamming pool over bq_cand, then int8-recon
#: cosine narrowing — same tie-breaks (score, neighbor_id) as the
#: Spark topk_per_query calls they replay.
_SQL_CASCADE_CAND = f"""
casc2 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id
        ORDER BY score ASC, neighbor_id) AS r
    FROM bq_cand
  ) WHERE r <= {_CASC_POOL2}
),
casc1 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT c.query_id, c.neighbor_id,
      row_number() OVER (PARTITION BY c.query_id
        ORDER BY {sql_cos("q.qe", "r.recon")} DESC, c.neighbor_id) AS r
    FROM casc2 c
    JOIN recon r ON r.vec_id = c.neighbor_id
    JOIN q ON q.query_id = c.query_id
  ) WHERE r <= {_CASC_POOL1}
)
"""

SQL_ANN_CASCADE_TOPK = f"""
WITH {_SQL_BQ_CTES},
{_SQL_SQ_RECON},
{_SQL_CASCADE_CAND}
SELECT query_id, rank, neighbor_id, round(score, 6) AS score FROM (
  SELECT c.query_id, c.neighbor_id,
    {sql_cos("q.qe", "e.embedding")} AS score,
    CAST(row_number() OVER (PARTITION BY c.query_id
      ORDER BY {sql_cos("q.qe", "e.embedding")} DESC, c.neighbor_id) AS INT) AS rank
  FROM casc1 c
  JOIN embeddings e ON e.vec_id = c.neighbor_id
  JOIN q ON q.query_id = c.query_id
) WHERE rank <= {ANN_K}
"""


def q_ann_cascade_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@K of the full cascade plus its per-query byte model —
    the reference's bandwidth-saving headline (paper §4.3) stated for
    the composed ladder: stage-1 signature scan + bounded stage-2/3
    pools against the flat 4·N·D scan."""
    from .operators.simsearch import embedding_dim

    queries = queries_view(spark, sf_dir)
    corpus = load_table(spark, sf_dir, "embeddings")
    ann = BQ.cascade_topk(queries, corpus, ANN_K)
    exact = exact_topk_fixture_cached(spark, sf_dir, ANN_K, "cosine")
    rec = ann_recall(ann, exact, ANN_K)
    d = embedding_dim(corpus)
    sig_b, sq_b, full_b = (d + 7) // 8, d + 8, 4 * d
    stats = corpus.agg(F.count("*").alias("n"))
    s1 = (F.col("n") * sig_b).cast("bigint")
    s2 = F.lit(_CASC_POOL2 * sq_b).cast("bigint")
    s3 = F.lit(_CASC_POOL1 * full_b).cast("bigint")
    full = (F.col("n") * full_b).cast("bigint")
    return rec.crossJoin(F.broadcast(stats)).select(
        "recall_at_k",
        "n_queries",
        s1.alias("stage1_bytes"),
        s2.alias("stage2_bytes"),
        s3.alias("stage3_bytes"),
        full.alias("full_scan_bytes"),
        F.round(
            F.lit(1.0) - (s1 + s2 + s3).cast("double") / full.cast("double"), 6
        ).alias("bytes_saving"),
    )


SQL_ANN_CASCADE_METRICS = f"""
WITH {_SQL_BQ_CTES},
{_SQL_SQ_RECON},
{_SQL_CASCADE_CAND},
ann AS (
  SELECT query_id, neighbor_id FROM (
    SELECT c.query_id, c.neighbor_id,
      row_number() OVER (PARTITION BY c.query_id
        ORDER BY {sql_cos("q.qe", "e.embedding")} DESC, c.neighbor_id) AS rank
    FROM casc1 c
    JOIN embeddings e ON e.vec_id = c.neighbor_id
    JOIN q ON q.query_id = c.query_id
  ) WHERE rank <= {ANN_K}
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
      row_number() OVER (PARTITION BY q.query_id
        ORDER BY {sql_cos("q.qe", "e.embedding")} DESC, e.vec_id) AS rank
    FROM q CROSS JOIN embeddings e
  ) WHERE rank <= {ANN_K}
),{_sql_hit_rate()},
rec AS (
  {SQL_RECALL_ROW}
),
stats AS (SELECT count(*) AS n FROM embeddings)
SELECT recall_at_k, n_queries,
  CAST(n * {_CASC_SIG_B} AS BIGINT) AS stage1_bytes,
  CAST({_CASC_POOL2 * _CASC_SQ_B} AS BIGINT) AS stage2_bytes,
  CAST({_CASC_POOL1 * _CASC_FULL_B} AS BIGINT) AS stage3_bytes,
  CAST(n * {_CASC_FULL_B} AS BIGINT) AS full_scan_bytes,
  round(1.0 - CAST(n * {_CASC_SIG_B} + {_CASC_POOL2 * _CASC_SQ_B}
                   + {_CASC_POOL1 * _CASC_FULL_B} AS DOUBLE)
            / CAST(n * {_CASC_FULL_B} AS DOUBLE), 6) AS bytes_saving
FROM rec CROSS JOIN stats
"""

VECTORDB_QUERIES["ann_cascade_topk"] = q_ann_cascade_topk
VECTORDB_QUERIES["ann_cascade_metrics"] = q_ann_cascade_metrics
VECTORDB_ORACLES["ann_cascade_topk"] = SQL_ANN_CASCADE_TOPK
VECTORDB_ORACLES["ann_cascade_metrics"] = SQL_ANN_CASCADE_METRICS


# ---------------------------------------------------------------------------
# TF-IDF ranked retrieval (operators/vectordb.tfidf_topn — the
# un-normalized lexical scorer beside BM25)
# ---------------------------------------------------------------------------

def q_tfidf_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    query_docs = docs.where(F.col("doc_id") % QUERY_STRIDE == 0)
    return V.tfidf_topn(query_docs, docs, BM25_TOPN)


#: exact SQL replay of operators/vectordb.tfidf_topn — smooth idf
#: quantized to micro-units right after the only ln(), BIGINT
#: micro-unit term sums, same tie-breaks.
SQL_TFIDF_TOPN = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
nstat AS (SELECT count(*) AS n FROM documents),
dfs AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
idf AS (
  SELECT tok,
    floor(ln((n + 1.0) / (df + 1.0)) * {V.BM25_SCALE})
      / {float(V.BM25_SCALE)} + 1.0 AS idf
  FROM dfs CROSS JOIN nstat
),
qt AS (
  SELECT query_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM (SELECT doc_id AS query_id, text FROM documents
        WHERE doc_id % {QUERY_STRIDE} = 0)
),
terms AS (
  SELECT qt.query_id, tf.doc_id,
    CAST(floor(CAST(tf.tf AS DOUBLE) * idf.idf * idf.idf * {V.BM25_SCALE})
         AS BIGINT) AS t6
  FROM tf
  JOIN qt ON qt.tok = tf.tok
  JOIN idf ON idf.tok = tf.tok
)
SELECT query_id, rank, doc_id, score_micro FROM (
  SELECT query_id, doc_id, score_micro,
    CAST(row_number() OVER (PARTITION BY query_id
      ORDER BY score_micro DESC, doc_id) AS INT) AS rank
  FROM (
    SELECT query_id, doc_id, CAST(sum(t6) AS BIGINT) AS score_micro
    FROM terms GROUP BY query_id, doc_id
  )
) WHERE rank <= {BM25_TOPN}
"""

VECTORDB_QUERIES["tfidf_topn"] = q_tfidf_topn
VECTORDB_ORACLES["tfidf_topn"] = SQL_TFIDF_TOPN


# ---------------------------------------------------------------------------
# IVF × MaxSim: the full PLAID composition (stage-0 centroid pruning →
# per-slice bounded pool → exact MaxSim re-rank).
# ---------------------------------------------------------------------------

def q_ann_ivf_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PLAID end-to-end: IVF cells prune the scan, the per-slice union
    pool bounds the candidates (≤ M·p), MaxSim re-ranks. Each stage's
    cost is bounded — the composition a 100 TB late-interaction stack
    serves (``operators/multivec.ivf_maxsim_topk``)."""
    out = MV.ivf_maxsim_topk(
        queries_view(spark, sf_dir), load_table(spark, sf_dir, "embeddings")
    )
    return out.select(
        "query_id", "rank", "neighbor_id", F.round("maxsim", 6).alias("maxsim")
    )


def _sql_ivf_maxsim_pool() -> str:
    """Per-slice top-p union over the IVF-probed candidate pairs —
    the SQL twin of the stage-1 inside ``ivf_maxsim_topk`` (pairs =
    probes ⋈ assigned from SQL_IVF_CTES; each doc sits in exactly one
    cell and probes are distinct, so pairs are unique)."""
    selects = []
    for i in range(MV.MV_M):
        selects.append(f"""SELECT query_id, neighbor_id FROM (
    SELECT p.query_id, a.vec_id AS neighbor_id,
      row_number() OVER (PARTITION BY p.query_id
        ORDER BY {_sql_slice_term("p.qe", "a.embedding", i)} DESC, a.vec_id) AS r
    FROM probes p JOIN assigned a ON a.cell = p.cell
  ) WHERE r <= {MV.MAXSIM_POOL_P}""")
    return (
        "SELECT DISTINCT query_id, neighbor_id FROM (\n  "
        + "\n  UNION ALL\n  ".join(selects)
        + "\n)"
    )


SQL_ANN_IVF_MAXSIM_TOPK = f"""
WITH {SQL_IVF_CTES},
pool AS (
  {_sql_ivf_maxsim_pool()}
),
ms AS (
  SELECT p.query_id, p.neighbor_id,
         {_sql_maxsim("q.qe", "e.embedding")} AS maxsim
  FROM pool p
  JOIN embeddings e ON e.vec_id = p.neighbor_id
  JOIN q ON q.query_id = p.query_id
)
SELECT query_id, rank, neighbor_id, round(maxsim, 6) AS maxsim FROM (
  SELECT query_id, neighbor_id, maxsim,
    CAST(row_number() OVER (PARTITION BY query_id
      ORDER BY maxsim DESC, neighbor_id) AS INT) AS rank
  FROM ms
) WHERE rank <= {MV.MAXSIM_K}
"""


def q_ann_ivf_maxsim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@K of the PLAID composition against EXHAUSTIVE MaxSim —
    what stage-0 pruning costs on top of the pool's own sufficiency.
    Measured (r07): 0.225 at isotropic sf0.1 (cell pruning is UNSOUND
    on structureless data — MaxSim neighbors scatter across cells) vs
    **0.8825 on the clustered σ=0.05 fixture** (pool-only: 0.8275 iso
    / 1.0 clustered). The composition is exactly as good as the data's
    cluster structure — the reason PLAID's centroid pruning works on
    real embeddings and the honest floor on this adversarial
    fixture."""
    queries = queries_view(spark, sf_dir)
    corpus = load_table(spark, sf_dir, "embeddings")
    ann = MV.ivf_maxsim_topk(queries, corpus)
    exact = MV.maxsim_topk_exhaustive(queries, corpus, MV.MAXSIM_K)
    return ann_recall(ann, exact, MV.MAXSIM_K)


SQL_ANN_IVF_MAXSIM_RECALL = f"""
WITH {SQL_IVF_CTES},
pool AS (
  {_sql_ivf_maxsim_pool()}
),
allms AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_sql_maxsim("q.qe", "e.embedding")} AS maxsim
  FROM q CROSS JOIN embeddings e
),
ann AS (
  SELECT query_id, neighbor_id FROM (
    SELECT a.query_id, a.neighbor_id,
      row_number() OVER (PARTITION BY a.query_id
        ORDER BY a.maxsim DESC, a.neighbor_id) AS rank
    FROM allms a JOIN pool p
      ON p.query_id = a.query_id AND p.neighbor_id = a.neighbor_id
  ) WHERE rank <= {MV.MAXSIM_K}
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id
        ORDER BY maxsim DESC, neighbor_id) AS rank
    FROM allms
  ) WHERE rank <= {MV.MAXSIM_K}
),{_sql_hit_rate(MV.MAXSIM_K)}
{SQL_RECALL_ROW}
"""

VECTORDB_QUERIES["ann_ivf_maxsim_topk"] = q_ann_ivf_maxsim_topk
VECTORDB_ORACLES["ann_ivf_maxsim_topk"] = SQL_ANN_IVF_MAXSIM_TOPK
VECTORDB_QUERIES["ann_ivf_maxsim_recall"] = q_ann_ivf_maxsim_recall
VECTORDB_ORACLES["ann_ivf_maxsim_recall"] = SQL_ANN_IVF_MAXSIM_RECALL


# ---------------------------------------------------------------------------
# RaBitQ-style rotated 1-bit quantization (r09, operators/rabitq.py):
# frozen random rotation + per-vector scalar-corrected sign estimator
# — the modern public upgrade of plain BQ (Gao & Long, SIGMOD 2024).
# Same R·K candidate budget as BQ so the ladder compares estimators
# at equal bytes.
# ---------------------------------------------------------------------------

from .operators import rabitq as RBT  # noqa: E402
from .registry_simsearch import _sql_plane_lit as _sql_rbt_plane  # noqa: E402


def _sql_rbt_rot_list(vec: str) -> str:
    """R·x as a DuckDB list of literal-row dots — the OPQ-rotation
    oracle idiom over the frozen RaBitQ matrix."""
    from .operators.rabitq_rotation_matrix import RABITQ_ROTATION

    return (
        "["
        + ", ".join(sql_dot(vec, _sql_rbt_plane(row)) for row in RABITQ_ROTATION)
        + "]"
    )


def _rbt_base_ctes() -> str:
    """The RaBitQ code-table replay (rbt_y → rbt_corp, rbt_q) — shared
    by the plain and IVF-composed oracles; needs ``q`` in scope."""
    return f"""
rbt_y AS MATERIALIZED (
  SELECT vec_id, {_sql_rbt_rot_list("embedding")} AS y FROM embeddings
),
rbt_corp AS MATERIALIZED (
  SELECT vec_id,
    list_transform(y, v -> CASE WHEN v >= 0 THEN 1.0 ELSE -1.0 END) AS s,
    sqrt(list_sum(list_transform(y, v -> v * v)))
      / greatest(list_sum(list_transform(y, v -> abs(v))), 1e-12) AS inv
  FROM rbt_y
),
rbt_q AS MATERIALIZED (
  SELECT query_id, yq,
         greatest(sqrt(list_sum(list_transform(yq, v -> v * v))), 1e-12) AS qn
  FROM (SELECT query_id, {_sql_rbt_rot_list("qe")} AS yq FROM q)
)"""


_SQL_RBT_EST = (
    "list_sum(list_transform(list_zip(c.s, q2.yq), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) * c.inv / q2.qn"
)


def _rbt_ctes(r: int = RBT.RABITQ_REFINE_R) -> str:
    return f"""
q AS ({SQL_Q_CTE}),
{_rbt_base_ctes()},
rbt_est AS (
  SELECT q2.query_id, c.vec_id AS neighbor_id, {_SQL_RBT_EST} AS score
  FROM rbt_corp c CROSS JOIN rbt_q q2
),
{sql_rerank("rbt_est", r, "cosine", prefix="rbt")}
"""


def _ivfrbt_ctes() -> str:
    return f"""
q AS ({SQL_Q_CTE}),
{SQL_IVF_BODY},
{_rbt_base_ctes()},
ivfrbt_est AS (
  SELECT p.query_id, c.vec_id AS neighbor_id, {_SQL_RBT_EST} AS score
  FROM probes p
  JOIN assigned a ON a.cell = p.cell
  JOIN rbt_corp c ON c.vec_id = a.vec_id
  JOIN rbt_q q2 ON q2.query_id = p.query_id
),
{sql_rerank("ivfrbt_est", RBT.RABITQ_REFINE_R, "cosine", prefix="rbt")}
"""


# ---------------------------------------------------------------------------
# The vector-db rows of the ANN pipeline table (registry_simsearch)
# ---------------------------------------------------------------------------

#: the swept RaBitQ point (tools/sweep_rabitq_r.py,
#: reports/sweep_rabitq_r.csv): R=5 reaches 0.7975 at sf0.1 — above
#: Hamming-BQ at R=12 with 2.4× fewer full-precision fetches
RABITQ_R_TUNED = 5


def _rabitq_tuned_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    return RBT.rabitq_topk(
        queries_view(spark, sf_dir), load_table(spark, sf_dir, "embeddings"), ANN_K,
        r=RABITQ_R_TUNED,
    )


def _mrl_tuned_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MRL.mrl_refined_topk(
        queries_view(spark, sf_dir), load_table(spark, sf_dir, "embeddings"), ANN_K,
        r=MRL_R_TUNED, d_keep=MRL_D_TUNED,
    )


VECTORDB_PIPELINES = (
    AnnPipeline(
        over_fixture(SQ.sq_topk), "l2", _SQL_SQ_CTES, "sq_cand",
        "ann_sq_topk", "ann_sq_recall",
    ),
    AnnPipeline(
        over_fixture(SQ.sq_refined_topk), "l2",
        f"{_SQL_SQ_CTES},{sql_rerank('sq_cand', SQ.SQ_REFINE_R, 'l2')}",
        "rerank_cand", "ann_sq_refined_topk",
    ),
    AnnPipeline(
        over_fixture(SQ.ivfsq_topk), "l2",
        f"{_SQL_IVFSQ_CTES},{sql_rerank('adc', SQ.SQ_REFINE_R, 'l2')}",
        "rerank_cand", "ann_ivfsq_topk", "ann_ivfsq_recall",
    ),
    #: recall scores the REFINED path: the Hamming rank is only the
    #: pre-filter
    AnnPipeline(
        over_fixture(BQ.bq_refined_topk), "cosine",
        f"{_SQL_BQ_CTES},{sql_rerank('bq_cand', BQ.BQ_REFINE_R, 'cosine', coarse='ASC')}",
        "rerank_cand", "ann_bq_refined_topk", "ann_bq_recall",
    ),
    #: IVF cells × Hamming pricing × exact re-rank: the memory-lean
    #: sibling of ann_ivfpq_topk, with no trained codebook
    AnnPipeline(
        over_fixture(BQ.ivfbq_topk), "cosine", _SQL_IVFBQ_CTES, "ivfbq_cand",
        "ann_ivfbq_topk", "ann_ivfbq_recall",
    ),
    #: recall scores the refined prefix path; a floor by construction on
    #: the isotropic fixture (every coordinate equally informative),
    #: where trained MRL embeddings front-load the prefix
    AnnPipeline(
        over_fixture(MRL.mrl_refined_topk), "cosine",
        f"{_SQL_MRL_CAND},{sql_rerank('mrl_cand', MRL.MRL_REFINE_R, 'cosine')}",
        "rerank_cand", "ann_mrl_refined_topk", "ann_mrl_recall",
    ),
    AnnPipeline(
        _mrl_tuned_ann, "cosine",
        f"{_sql_mrl_cand(MRL_D_TUNED)},{sql_rerank('mrl_cand', MRL_R_TUNED, 'cosine')}",
        "rerank_cand", recall="ann_mrl_recall_tuned",
    ),
    #: same R·K budget and exact re-rank as ann_bq_recall; only the
    #: pre-rank estimator differs (rotated scalar-corrected signed dot
    #: vs raw Hamming) — recall@20 0.6975 vs 0.456 at sf0.1
    #: (reports/RABITQ.md)
    AnnPipeline(
        over_fixture(RBT.rabitq_topk), "cosine", _rbt_ctes(), "rbt_cand",
        "ann_rabitq_topk", "ann_rabitq_recall",
    ),
    AnnPipeline(
        _rabitq_tuned_ann, "cosine", _rbt_ctes(RABITQ_R_TUNED), "rbt_cand",
        recall="ann_rabitq_recall_tuned",
    ),
    #: IVF cells × the RaBitQ estimator; compare ann_ivfbq_topk (same
    #: cells, raw Hamming pricing)
    AnnPipeline(
        over_fixture(RBT.ivfrabitq_topk), "cosine", _ivfrbt_ctes(), "rbt_cand",
        "ann_ivfrabitq_topk", "ann_ivfrabitq_recall",
    ),
)

register_ann_pipelines(VECTORDB_PIPELINES, VECTORDB_QUERIES, VECTORDB_ORACLES)


def q_rabitq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RaBitQ code table in driver-hashable long form (vec_id,
    word, wcode, inv_micro): D bits packed 32/word by the shared
    ``bq.bq_encode`` over the sign array, plus the per-vector scalar
    floor-quantized to micro-units (floor BEFORE the BIGINT cast —
    Spark truncates, DuckDB rounds). D/8 + 8 bytes per vector in the
    stored replay form (16 B at D=64: the DOUBLE scalar is kept for
    hash-exactness; `reports/RABITQ.md`'s 12 B is the conceptual
    D-bits + float32 at-rest figure)."""
    from .operators import bq as _BQE

    rc = RBT.rabitq_corpus(load_table(spark, sf_dir, "embeddings"))
    enc = _BQE.bq_encode(rc, "s", "vec_id").join(
        rc.select("vec_id", F.floor(F.col("inv") * 1e6).cast("bigint").alias("inv_micro")),
        F.col("id") == F.col("vec_id"),
    )
    return enc.select(
        "vec_id",
        F.posexplode("words").alias("word", "wcode"),
        "inv_micro",
    ).select("vec_id", "word", "wcode", "inv_micro")


SQL_RABITQ_CODES = f"""
WITH rbt_y AS MATERIALIZED (
  SELECT vec_id, {_sql_rbt_rot_list("embedding")} AS y FROM embeddings
),
{_sql_bq_words("rbt_y", "vec_id", "y", "rbt_cw")},
rbt_inv AS (
  SELECT vec_id,
    CAST(floor((sqrt(list_sum(list_transform(y, v -> v * v)))
      / greatest(list_sum(list_transform(y, v -> abs(v))), 1e-12)) * 1000000) AS BIGINT) AS inv_micro
  FROM rbt_y
)
SELECT w.id AS vec_id, CAST(w.w AS INT) AS word, w.wcode, i.inv_micro
FROM rbt_cw w JOIN rbt_inv i ON i.vec_id = w.id
"""

VECTORDB_QUERIES["rabitq_codes"] = q_rabitq_codes
VECTORDB_ORACLES["rabitq_codes"] = SQL_RABITQ_CODES


# ---------------------------------------------------------------------------
# Selectivity-routed filtered ANN (r09 verdict #7, ACORN-style)
# ---------------------------------------------------------------------------

#: the registered LOW-selectivity predicate (≈2% of the corpus at
#: every SF — inside the pre-filter regime at ROUTE_SELECTIVITY=5%);
#: class sizes checked per SF (14/9/45 at sf0.001/0.01/0.1), the r08
#: rule.
_SQL_ROUTED_FILTER = "label IN (2, 6) AND vec_id % 8 = 1"


def _routed_filter_col() -> Column:
    return F.col("label").isin(2, 6) & (F.col("vec_id") % 8 == 1)


def q_ann_filtered_routed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selectivity-routed filtered top-K (ACORN-style strategy
    choice): the router reads the survivor fraction and picks
    pre-filter + exact rank here (≈2% selectivity — the post-filtered
    IVF route would both scan more useful-candidate bytes and break
    recall: 0.0688 on this predicate at sf0.1 vs the router's exact
    1.0; reports/FILTER_ROUTING.md). The oracle replays the chosen
    route's semantics — exact rank over survivors."""
    out, route = V.routed_filtered_topk(
        queries_view(spark, sf_dir),
        load_table(spark, sf_dir, "embeddings"),
        ANN_K,
        _routed_filter_col(),
    )
    # fixture selectivity sits in the pre-filter regime at every SF;
    # a silent regime flip would make the oracle compare the wrong
    # route — fail loud instead (tests assert both routes directly)
    if route != "prefilter":
        raise AssertionError(f"expected prefilter route, got {route}")
    return out.select(
        "query_id", "rank", "neighbor_id", F.round("score", 6).alias("score")
    )


SQL_ANN_FILTERED_ROUTED_TOPK = f"""
WITH q AS ({SQL_Q_CTE})
SELECT query_id, rank, neighbor_id, round(score, 6) AS score FROM (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    {sql_cos("q.qe", "e.embedding")} AS score,
    CAST(row_number() OVER (PARTITION BY q.query_id
      ORDER BY {sql_cos("q.qe", "e.embedding")} DESC, e.vec_id) AS INT) AS rank
  FROM q CROSS JOIN embeddings e WHERE e.{_SQL_ROUTED_FILTER}
) WHERE rank <= {ANN_K}
"""

VECTORDB_QUERIES["ann_filtered_routed_topk"] = q_ann_filtered_routed_topk
VECTORDB_ORACLES["ann_filtered_routed_topk"] = SQL_ANN_FILTERED_ROUTED_TOPK


#: deterministic drift-skew fixture for the rebalance row: ids ≡ 1
#: (mod 3) re-arrive as NEW vectors (id + 10M) pulled halfway toward
#: the anchor vector (vec_id 0) — the classic ingest drift that piles
#: into a frozen quantizer's cells (one cell reaches ~8× the average
#: at every SF). Midpoints are computed in DOUBLE (exact for float32
#: inputs), so the Spark and DuckDB replays are bit-identical.
DRIFT_MOD, DRIFT_REM, DRIFT_ID_OFFSET = 3, 1, 10_000_000


def _drifted_corpus(corpus: DataFrame) -> DataFrame:
    anchor = corpus.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("avec")
    )
    base = corpus.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    delta = (
        corpus.where(F.col("vec_id") % DRIFT_MOD == DRIFT_REM)
        .crossJoin(F.broadcast(anchor))
        .select(
            (F.col("vec_id") + DRIFT_ID_OFFSET).alias("vec_id"),
            F.zip_with(
                "embedding",
                "avec",
                lambda x, y: (x.cast("double") + y.cast("double")) / 2.0,
            ).alias("embedding"),
        )
    )
    return base.unionByName(delta)


def q_ivf_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cell, subcell, pop): the IVF cell populations after splitting
    over-populated cells under the FROZEN base quantizer (VERDICT r11
    #7 — the maintenance act the ``ivf_cell_stats`` skew measurement
    calls for). The corpus is the deterministic drift-skew fixture
    (one cell at ~8× average population); the hot cell re-clusters
    into ~pop/IVF_STRIDE subcells via the grouped within-cell k-means
    (``operators/mutate.py: ivf_rebalance``). Unsplit cells report
    ``subcell = -1``. Probe-cost recovery is measured in
    ``tools/experiment_ivf_rebalance.py``."""
    from .operators.simsearch import ivf_centroids

    corpus = load_table(spark, sf_dir, "embeddings")
    reb = MUT.ivf_rebalance(
        _drifted_corpus(corpus), centroids=ivf_centroids(corpus)
    )
    return reb.groupBy("cell", "subcell").agg(
        F.count(F.lit(1)).cast("long").alias("pop")
    )


def _sql_ivf_rebalance() -> str:
    from .operators.kmeans import KMEANS_ITERS, kmeans_sql_ctes
    from .operators.mutate import IVF_SPLIT_FACTOR
    from .operators.simsearch import IVF_STRIDE

    rb_km_ctes, rb_km_final = kmeans_sql_ctes(
        "rbkm_pts", "rbkm", IVF_STRIDE, iters=KMEANS_ITERS
    )
    return f"""
WITH {SQL_IVF_CTES},
rb_delta AS (
  SELECT vec_id + {DRIFT_ID_OFFSET} AS vec_id,
         list_transform(list_zip(embedding,
             (SELECT embedding FROM embeddings WHERE vec_id = 0)),
           p -> (CAST(p[1] AS DOUBLE) + CAST(p[2] AS DOUBLE)) / 2.0) AS embedding
  FROM embeddings WHERE vec_id % {DRIFT_MOD} = {DRIFT_REM}),
rb_corpus AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
  FROM embeddings
  UNION ALL SELECT vec_id, embedding FROM rb_delta),
rb_assigned AS (
  SELECT vec_id, embedding, centroid_id AS cell FROM (
    SELECT f.vec_id, f.embedding, c.centroid_id,
      row_number() OVER (PARTITION BY f.vec_id
        ORDER BY {sql_dist2("f.embedding", "c.cvec")} ASC, c.centroid_id ASC) AS r
    FROM rb_corpus f CROSS JOIN cents c
  ) WHERE r = 1),
rb_pops AS (SELECT cell, count(*) AS pop FROM rb_assigned GROUP BY cell),
rb_hot AS (SELECT cell FROM rb_pops WHERE pop > {IVF_SPLIT_FACTOR * IVF_STRIDE}),
rb_ranked AS (
  SELECT a.cell, a.vec_id, a.embedding,
    CAST(row_number() OVER (PARTITION BY a.cell ORDER BY a.vec_id) - 1 AS BIGINT)
      AS pid
  FROM rb_assigned a JOIN rb_hot USING (cell)),
rbkm_pts AS (SELECT cell AS grp, pid, embedding AS pvec FROM rb_ranked),
{rb_km_ctes},
rb_sub AS (SELECT grp, cid, cvec FROM {rb_km_final}),
rb_reassigned AS (
  SELECT vec_id, cell, CAST(cid AS INT) AS subcell FROM (
    SELECT r.vec_id, r.cell, s.cid,
      row_number() OVER (PARTITION BY r.vec_id
        ORDER BY {sql_dist2("r.embedding", "s.cvec")} ASC, s.cid ASC) AS rn
    FROM rb_ranked r JOIN rb_sub s ON s.grp = r.cell
  ) WHERE rn = 1),
rb_all AS (
  SELECT vec_id, cell, CAST(-1 AS INT) AS subcell FROM rb_assigned
  WHERE cell NOT IN (SELECT cell FROM rb_hot)
  UNION ALL
  SELECT vec_id, cell, subcell FROM rb_reassigned)
SELECT cell, subcell, CAST(count(*) AS BIGINT) AS pop
FROM rb_all GROUP BY cell, subcell
"""


VECTORDB_QUERIES["ivf_rebalance"] = q_ivf_rebalance
VECTORDB_ORACLES["ivf_rebalance"] = _sql_ivf_rebalance()
