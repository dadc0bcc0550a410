"""ANN similarity-search query suite (SURVEY §7-M5): IVF, LSH, graph,
PQ-family and SPANN candidate generation with exact re-scoring, plus
Recall@K of each against the brute-force oracle. The DuckDB twins
replay the identical pipelines — same sampled centroids, same literal
hyperplanes — so every query is hash-exact, not statistically close.

Every plain top-K / Recall@K / ranking-metrics query is one
``AnnPipeline`` row (``ANN_PIPELINES`` here, ``VECTORDB_PIPELINES`` in
``registry_vectordb``) registered by ``register_ann_pipelines``: one
Spark body and one oracle template per shape. The stored-index serve
paths are rows of ``registry.STORED_INDEXES``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from functools import partial
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import opq as O
from .operators import pq as P
from .operators import simsearch as S
from .operators import spann as SP
from .operators.kmeans import kmeans_sql_ctes
from .operators.metrics import _dcg_discount_micro, ranking_metrics
from .operators.opq import OPQ_SCALE as _OPQ_SCALE
from .operators.topk import exact_topk_fixture_cached
from .operators.vamana import vamana_edges
from .plans.duck_oracle import sql_cos, sql_dist2, sql_dot
from .sources.fixtures import (
    FIXTURE_EMBED_DIM,
    QUERY_STRIDE,
    load_table,
    queries_view,
)

ANN_K = 20

#: the oracle SQL is literal text over the D=64 fixture tables; the
#: operator layer derives subdim from the data (operators/pq.pq_subdim)
_PQ_SUBDIM = FIXTURE_EMBED_DIM // P.PQ_M

SQL_Q_CTE = (
    f"SELECT vec_id AS query_id, embedding AS qe FROM embeddings "
    f"WHERE vec_id % {QUERY_STRIDE} = 0"
)


# ---------------------------------------------------------------------------
# Shared top-K / Recall@K templates and the ANN pipeline table
# ---------------------------------------------------------------------------

#: ranking direction per metric: cosine similarity high-first, squared
#: L2 distance low-first
_ORDER = {"cosine": "DESC", "l2": "ASC"}


def _sql_exact_score(metric: str) -> str:
    """Full-precision score of corpus row ``e`` for query row ``q``."""
    return (sql_cos if metric == "cosine" else sql_dist2)("q.qe", "e.embedding")


def _sql_topk(ctes: str, cand: str, metric: str) -> str:
    """Top-ANN_K per query of the candidate CTE ``cand`` (query_id,
    neighbor_id, score) at the end of the CTE chain ``ctes``."""
    return f"""
WITH {ctes}
SELECT query_id, rank, neighbor_id, round(score, 6) AS score FROM (
  SELECT query_id, neighbor_id, score,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score {_ORDER[metric]}, neighbor_id) AS INT) AS rank
  FROM {cand}
) WHERE rank <= {ANN_K}
"""


def _sql_hit_rate(k: int = ANN_K) -> str:
    """``hits`` / ``per_q`` CTEs: each query's |ann ∩ exact| / k over
    the (query_id, neighbor_id) CTEs ``ann`` and ``exact``."""
    return f"""
hits AS (
  SELECT exact.query_id, count(*) AS n_hit
  FROM exact JOIN ann USING (query_id, neighbor_id) GROUP BY exact.query_id
),
per_q AS (
  SELECT q2.query_id, CAST(coalesce(h.n_hit, 0) AS DOUBLE) / {k} AS recall
  FROM (SELECT DISTINCT query_id FROM exact) q2 LEFT JOIN hits h USING (query_id)
)"""


#: the Recall@K row over ``per_q`` (the ``operators/simsearch.ann_recall`` shape)
SQL_RECALL_ROW = "SELECT round(avg(recall), 6) AS recall_at_k, count(*) AS n_queries FROM per_q"


def _sql_exact(metric: str) -> str:
    """``exact`` CTE: the brute-force top-ANN_K (query_id, neighbor_id)
    per query in ``metric``."""
    return f"""exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
      row_number() OVER (PARTITION BY q.query_id
        ORDER BY {_sql_exact_score(metric)} {_ORDER[metric]}, e.vec_id) AS rank
    FROM q CROSS JOIN embeddings e
  ) WHERE rank <= {ANN_K}
)"""


def _sql_recall(ctes: str, cand: str, metric: str) -> str:
    """Recall@ANN_K of ``cand``'s top-K against the brute-force top-K
    in the same metric."""
    return f"""
WITH {ctes},
ann AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id ORDER BY score {_ORDER[metric]}, neighbor_id) AS rank
    FROM {cand}
  ) WHERE rank <= {ANN_K}
),
{_sql_exact(metric)},{_sql_hit_rate()}
{SQL_RECALL_ROW}
"""


def _sql_ranking_metrics(ctes: str, cand: str, metric: str) -> str:
    """MRR@ANN_K and nDCG@ANN_K of ``cand``'s top-K against the
    brute-force top-K in the same metric (``operators/metrics.
    ranking_metrics``: micro-unit discounts, BIGINT sums)."""
    disc = _dcg_discount_micro(ANN_K)
    idcg = sum(disc)
    disc_list = "[" + ", ".join(str(d) for d in disc) + "]"
    return f"""
WITH {ctes},
ann AS (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id ORDER BY score {_ORDER[metric]}, neighbor_id) AS rank
    FROM {cand}
  ) WHERE rank <= {ANN_K}
),
{_sql_exact(metric)},
rel AS (
  SELECT ann.query_id, ann.rank FROM ann JOIN exact USING (query_id, neighbor_id)
),
per_q AS (
  SELECT query_id,
    CAST(sum({disc_list}[rank]) AS BIGINT) AS dcg_micro,
    min(rank) AS first_rel
  FROM rel GROUP BY query_id
),
scored AS (
  SELECT q2.query_id,
    coalesce(CAST(floor((p.dcg_micro * 1000000) / {idcg}) AS BIGINT), 0) AS ndcg_micro,
    coalesce(CAST(floor(1000000 / p.first_rel) AS BIGINT), 0) AS rr_micro
  FROM (SELECT DISTINCT query_id FROM exact) q2
  LEFT JOIN per_q p USING (query_id)
)
SELECT
  round(CAST(sum(rr_micro) AS DOUBLE) / (count(*) * 1000000.0), 6) AS mrr,
  round(CAST(sum(ndcg_micro) AS DOUBLE) / (count(*) * 1000000.0), 6) AS ndcg_at_k,
  count(*) AS n_queries
FROM scored
"""


def sql_rerank(
    src: str, r: int, metric: str, coarse: str | None = None, prefix: str = "rerank"
) -> str:
    """The R·K re-rank CTEs: ``{prefix}_ids`` keeps each query's top
    ``r``·ANN_K rows of ``src`` by its coarse ``score`` (ordered
    ``coarse``, default the metric's direction); ``{prefix}_cand``
    re-scores them at full precision in ``metric``."""
    return f"""
{prefix}_ids AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id
        ORDER BY score {coarse or _ORDER[metric]}, neighbor_id) AS r
    FROM {src}
  ) WHERE r <= {r * ANN_K}
),
{prefix}_cand AS (
  SELECT c.query_id, c.neighbor_id, {_sql_exact_score(metric)} AS score
  FROM {prefix}_ids c
  JOIN embeddings e ON e.vec_id = c.neighbor_id
  JOIN q ON q.query_id = c.query_id
)"""


AnnFn = Callable[[SparkSession, str], DataFrame]


class AnnPipeline(NamedTuple):
    """One ANN pipeline: ``ann(spark, sf_dir)`` returns (query_id, rank,
    neighbor_id, score) ranked by ``metric``; its DuckDB twin is the
    CTE chain ``ctes`` ending in the candidate CTE ``cand`` (query_id,
    neighbor_id, score). ``topk`` / ``recall`` / ``ranking`` name the
    registered queries."""

    ann: AnnFn
    metric: str
    ctes: str
    cand: str
    topk: str | None = None
    recall: str | None = None
    ranking: str | None = None


def over_fixture(op: Callable[..., DataFrame]) -> AnnFn:
    """``op(queries, corpus, ANN_K)`` over the fixture queries and corpus."""
    return lambda spark, sf_dir: op(
        queries_view(spark, sf_dir), load_table(spark, sf_dir, "embeddings"), ANN_K
    )


def _ann_topk(ann: AnnFn, spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann(spark, sf_dir).select(
        "query_id", "rank", "neighbor_id", F.round("score", 6).alias("score")
    )


def _ann_recall(ann: AnnFn, metric: str, spark: SparkSession, sf_dir: str) -> DataFrame:
    found = ann(spark, sf_dir)
    exact = exact_topk_fixture_cached(spark, sf_dir, ANN_K, metric)
    return S.ann_recall(found, exact, ANN_K)


def _ann_ranking(ann: AnnFn, metric: str, spark: SparkSession, sf_dir: str) -> DataFrame:
    ranked = ann(spark, sf_dir).select("query_id", "rank", "neighbor_id")
    exact = exact_topk_fixture_cached(spark, sf_dir, ANN_K, metric)
    return ranking_metrics(ranked, exact, ANN_K)


def register_ann_pipelines(
    rows: Iterable[AnnPipeline],
    queries: dict[str, AnnFn],
    oracles: dict[str, str],
) -> None:
    """Register each row's top-K, Recall@K and ranking-metrics queries
    with their oracles."""
    for row in rows:
        if row.topk:
            queries[row.topk] = partial(_ann_topk, row.ann)
            oracles[row.topk] = _sql_topk(row.ctes, row.cand, row.metric)
        if row.recall:
            queries[row.recall] = partial(_ann_recall, row.ann, row.metric)
            oracles[row.recall] = _sql_recall(row.ctes, row.cand, row.metric)
        if row.ranking:
            queries[row.ranking] = partial(_ann_ranking, row.ann, row.metric)
            oracles[row.ranking] = _sql_ranking_metrics(row.ctes, row.cand, row.metric)


# ---------------------------------------------------------------------------
# IVF
# ---------------------------------------------------------------------------

#: coarse-quantizer replay: same stride seeds, same unrolled Lloyd
#: iterations as operators/kmeans.py (kmeans_sql_ctes); at the
#: default IVF_KMEANS_ITERS = 0 this degenerates to the seed CTE.
#: Kept module-level: registry_dedup / the ivf_cell_sizes oracle
#: compose these pieces directly.
_IVF_KM_CTES, _IVF_KM_FINAL = kmeans_sql_ctes(
    "ivfkm_pts", "ivfkm", S.IVF_STRIDE, iters=S.IVF_KMEANS_ITERS
)

def sql_ivf_body(
    emb: str = "embeddings",
    qsrc: str = "q",
    iters: int = S.IVF_KMEANS_ITERS,
    km_prefix: str = "ivfkm",
) -> str:
    """The IVF pipeline CTE chain over a parameterized corpus CTE
    ``emb`` (vec_id, embedding) and query CTE ``qsrc`` (query_id, qe)
    — one body serves plain IVF, the permuted-space compositions
    (IVF-OPQ), and the TRAINED-quantizer IVFADC (``iters`` unrolls
    that many Lloyd rounds in the replay, the operators/kmeans.py
    contract; at the default IVF_KMEANS_ITERS = 0 this degenerates to
    the seed CTE). ``cents``/``assigned``/``probes`` names are fixed;
    a statement never contains two instances."""
    km_ctes, km_final = kmeans_sql_ctes(
        f"{km_prefix}_pts", km_prefix, S.IVF_STRIDE, iters=iters
    )
    return f"""
{km_prefix}_pts AS (SELECT 0 AS grp, vec_id AS pid, embedding AS pvec FROM {emb}),
{km_ctes},
cents AS (SELECT cid AS centroid_id, cvec FROM {km_final}),
assigned AS (
  SELECT vec_id, embedding, centroid_id AS cell FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY {sql_dist2("e.embedding", "c.cvec")} ASC, c.centroid_id ASC) AS r
    FROM {emb} e CROSS JOIN cents c
  ) WHERE r = 1
),
probes AS (
  SELECT query_id, qe, centroid_id AS cell FROM (
    SELECT q.query_id, q.qe, c.centroid_id,
      row_number() OVER (PARTITION BY q.query_id
        ORDER BY {sql_dist2("q.qe", "c.cvec")} ASC, c.centroid_id ASC) AS r
    FROM {qsrc} AS q CROSS JOIN cents c
  ) WHERE r <= {S.IVF_NPROBE}
),
ivf_cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, {sql_cos("p.qe", "a.embedding")} AS score
  FROM probes p JOIN assigned a ON a.cell = p.cell
)
"""


SQL_IVF_BODY = sql_ivf_body()

SQL_IVF_CTES = f"""
q AS ({SQL_Q_CTE}),
{SQL_IVF_BODY}
"""

# ---------------------------------------------------------------------------
# Hyperplane LSH
# ---------------------------------------------------------------------------

def _sql_plane_lit(plane: tuple[float, ...]) -> str:
    return "[" + ", ".join(repr(v) for v in plane) + "]"


def _sql_band_key(vec: str, band: int) -> str:
    terms = []
    for j in range(S.LSH_ROWS):
        plane = S.lsh_planes(FIXTURE_EMBED_DIM)[band * S.LSH_ROWS + j]
        d = sql_dot(vec, _sql_plane_lit(plane))
        terms.append(f"(CASE WHEN {d} >= 0 THEN {1 << j} ELSE 0 END)")
    return " + ".join(terms)


def _sql_bands(src: str, id_expr: str, vec: str) -> str:
    rows = []
    for band in range(S.LSH_BANDS):
        rows.append(
            f"SELECT {id_expr} AS id, {vec} AS vec, {band} AS band, "
            f"{_sql_band_key(vec, band)} AS bkey FROM {src}"
        )
    return "\nUNION ALL\n".join(rows)


SQL_LSH_CTES = f"""
q AS ({SQL_Q_CTE}),
qb AS ({_sql_bands("q", "query_id", "qe")}),
cb AS ({_sql_bands("embeddings", "vec_id", "embedding")}),
lsh_cand AS (
  SELECT query_id, neighbor_id, {sql_cos("qvec", "cvec")} AS score FROM (
    SELECT DISTINCT qb.id AS query_id, cb.id AS neighbor_id,
           qb.vec AS qvec, cb.vec AS cvec
    FROM qb JOIN cb ON qb.band = cb.band AND qb.bkey = cb.bkey
  )
)
"""

# ---------------------------------------------------------------------------
# Product quantization (operators/pq.py)
# ---------------------------------------------------------------------------

def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ sketch in long scalar form (vec_id, m, code)."""
    return P.pq_codes(load_table(spark, sf_dir, "embeddings"))


#: codebook/codes/reconstruction — the SQL replay of operators/pq.py
#: (same trained per-subspace k-means, same argmin tie-break, same
#: m-ordered concatenation, same strict DOUBLE folds).
_PQ_KM_CTES, _PQ_KM_FINAL = kmeans_sql_ctes("pqkm_pts", "pqkm", P.PQ_STRIDE)

def sql_pq_body(emb: str = "embeddings", qsrc: str = "q") -> str:
    """The PQ pipeline CTE chain over a parameterized corpus CTE
    ``emb`` (vec_id, embedding) and query CTE ``qsrc`` (query_id, qe)
    — one body serves plain PQ (over ``embeddings``) and OPQ (over the
    permuted CTEs). Internal CTE names are fixed; a statement never
    contains two instances."""
    return f"""
ms AS (SELECT unnest(range(0, {P.PQ_M})) AS m),
pqkm_pts AS (
  SELECT m AS grp, vec_id AS pid,
         list_slice(embedding, m * {_PQ_SUBDIM} + 1, m * {_PQ_SUBDIM} + {_PQ_SUBDIM}) AS pvec
  FROM {emb} CROSS JOIN ms
),
{_PQ_KM_CTES},
pq_cb AS (SELECT grp AS m, cid, cvec FROM {_PQ_KM_FINAL}),
pq_sub AS (
  SELECT vec_id, m,
         list_slice(embedding, m * {_PQ_SUBDIM} + 1, m * {_PQ_SUBDIM} + {_PQ_SUBDIM}) AS subv
  FROM {emb} CROSS JOIN ms
),
pq_code AS (
  SELECT vec_id, m, cid AS code FROM (
    SELECT s.vec_id, s.m, c.cid,
      row_number() OVER (PARTITION BY s.vec_id, s.m
        ORDER BY {sql_dist2("s.subv", "c.cvec")} ASC, c.cid ASC) AS r
    FROM pq_sub s JOIN pq_cb c USING (m)
  ) WHERE r = 1
),
pq_recon AS (
  SELECT pq_code.vec_id, flatten(list(c.cvec ORDER BY pq_code.m)) AS recon
  FROM pq_code JOIN pq_cb c ON c.m = pq_code.m AND c.cid = pq_code.code
  GROUP BY pq_code.vec_id
),
pq_cand AS (
  SELECT q.query_id, r.vec_id AS neighbor_id,
         {sql_dist2("q.qe", "r.recon")} AS score
  FROM pq_recon r CROSS JOIN {qsrc} AS q
)
"""


SQL_PQ_BODY = sql_pq_body()

SQL_PQ_CTES = f"""
q AS ({SQL_Q_CTE}),
{SQL_PQ_BODY}
"""

SQL_PQ_CODES = f"""
WITH {SQL_PQ_CTES}
SELECT vec_id, CAST(m AS INT) AS m, code FROM pq_code
"""

#: the ``*_refined_topk`` tail of the PQ and OPQ rows: PQ_REFINE_R·K
#: ADC candidates re-scored at full precision
_SQL_PQ_REFINE = f"""
refine_cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id ORDER BY score ASC, neighbor_id) AS rank
    FROM pq_cand
  ) WHERE rank <= {P.PQ_REFINE_R * ANN_K}
),
refine_exact AS (
  SELECT c.query_id, c.neighbor_id, {sql_dist2("q.qe", "e.embedding")} AS score
  FROM refine_cand c
  JOIN embeddings e ON e.vec_id = c.neighbor_id
  JOIN q ON q.query_id = c.query_id
)"""

# ---------------------------------------------------------------------------
# IVF + PQ (the production composition: cell pruning × code pricing ×
# exact refinement — operators/pq.ivfpq_topk)
# ---------------------------------------------------------------------------

SQL_IVFPQ_CTES = f"""
q AS ({SQL_Q_CTE}),
{SQL_IVF_BODY},
{SQL_PQ_BODY},
ivfpq_adc AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {sql_dist2("p.qe", "r.recon")} AS score
  FROM probes p
  JOIN assigned a ON a.cell = p.cell
  JOIN pq_recon r ON r.vec_id = a.vec_id
),
ivfpq_ids AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id ORDER BY score ASC, neighbor_id) AS rank
    FROM ivfpq_adc
  ) WHERE rank <= {P.PQ_REFINE_R * ANN_K}
),
ivfpq_cand AS (
  SELECT c.query_id, c.neighbor_id, {sql_dist2("q.qe", "e.embedding")} AS score
  FROM ivfpq_ids c
  JOIN embeddings e ON e.vec_id = c.neighbor_id
  JOIN q ON q.query_id = c.query_id
)
"""


def q_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained PQ codebook itself as a first-class checked
    artifact — (m, cid, pos, c) long scalar form. Hash-matching this
    against the unrolled-Lloyd SQL replay pins every moving part of
    the trainer (stride seeding, struct-min assignment, fixed-point
    means, empty-cluster carryover) independently of any downstream
    consumer."""
    cb = P.pq_codebook(load_table(spark, sf_dir, "embeddings"))
    # fixed-point projection (floor, like embedding_dim_stats) rather
    # than round(…, 6): raw float32 seed coordinates can land exactly
    # on a decimal rounding tie, where the engines' round() disagree
    return cb.select(
        F.col("m").cast("int").alias("m"),
        "cid",
        F.posexplode("cvec").alias("pos", "__c"),
    ).select(
        "m",
        "cid",
        "pos",
        F.floor(F.col("__c").cast("double") * F.lit(1e6))
        .cast("bigint")
        .alias("c_micro"),
    )


SQL_PQ_CODEBOOK = f"""
WITH ms AS (SELECT unnest(range(0, {P.PQ_M})) AS m),
pqkm_pts AS (
  SELECT m AS grp, vec_id AS pid,
         list_slice(embedding, m * {_PQ_SUBDIM} + 1, m * {_PQ_SUBDIM} + {_PQ_SUBDIM}) AS pvec
  FROM embeddings CROSS JOIN ms
),
{_PQ_KM_CTES}
SELECT CAST(grp AS INT) AS m, cid,
       CAST(generate_subscripts(cvec, 1) - 1 AS INT) AS pos,
       CAST(floor(CAST(unnest(cvec) AS DOUBLE) * 1000000) AS BIGINT) AS c_micro
FROM {_PQ_KM_FINAL}
"""


def q_ivf_cell_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-size histogram of the IVF coarse partition — the skew
    diagnostic an operator runs before choosing ``cell`` as the
    storage partition key (a hot cell = a hot partition at 100 TB)."""
    corpus = load_table(spark, sf_dir, "embeddings")
    assigned = S.ivf_assign(corpus, S.ivf_centroids(corpus))
    return (
        assigned.groupBy(F.col("cell").alias("cell"))
        .agg(F.count("*").alias("n_vectors"))
    )


SQL_IVF_CELL_SIZES = f"""
WITH q AS ({SQL_Q_CTE}),
{SQL_IVF_BODY}
SELECT cell, count(*) AS n_vectors FROM assigned GROUP BY cell
"""


KNN_GRAPH_K = 5


def q_ann_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate KNN graph over the whole corpus (per-node top-K
    among LSH-banded candidates, self excluded) — the ANN-graph
    construction shape; oracle replays the identical banding."""
    out = S.knn_graph(load_table(spark, sf_dir, "embeddings"), KNN_GRAPH_K)
    return out.select(
        "node_id", "rank", "neighbor_id", F.round("score", 6).alias("score")
    )


#: the banded KNN-graph pair space of ``operators/simsearch.knn_graph``:
#: every distinct pair sharing an LSH band bucket, self excluded, scored
#: by exact cosine. Shared by the KNN-graph oracles and every graph
#: walk's edge CTEs (:func:`_sql_graph_edges`).
_SQL_GRAPH_PAIRS = f"""cb AS ({_sql_bands("embeddings", "vec_id", "embedding")}),
gscored AS (
  SELECT node_id, neighbor_id, {sql_cos("qvec", "cvec")} AS score FROM (
    SELECT DISTINCT a.id AS node_id, b.id AS neighbor_id,
           a.vec AS qvec, b.vec AS cvec
    FROM cb a JOIN cb b
      ON a.band = b.band AND a.bkey = b.bkey AND a.id != b.id
  )
)"""


def _sql_graph_ranked(k: int) -> str:
    """(node_id, neighbor_id, score, rank) of each node's top-``k``
    banded pairs (ties → smaller neighbor_id)."""
    return f"""SELECT * FROM (
  SELECT node_id, neighbor_id, score,
    CAST(row_number() OVER (PARTITION BY node_id
      ORDER BY score DESC, neighbor_id) AS INT) AS rank
  FROM gscored
) WHERE rank <= {k}"""


SQL_ANN_KNN_GRAPH = f"""
WITH {_SQL_GRAPH_PAIRS}
SELECT node_id, rank, neighbor_id, round(score, 6) AS score
FROM ({_sql_graph_ranked(KNN_GRAPH_K)})
"""


def q_ann_knn_graph_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@K of the banded KNN graph against the brute-force graph
    (node-averaged, same metric shape as the other ann_*_recall)."""
    corpus = load_table(spark, sf_dir, "embeddings")
    ann = S.knn_graph(corpus, KNN_GRAPH_K).select(
        F.col("node_id").alias("query_id"), "rank", "neighbor_id", "score"
    )
    exact = S.knn_graph_exact(corpus, KNN_GRAPH_K).select(
        F.col("node_id").alias("query_id"), "rank", "neighbor_id", "score"
    )
    return S.ann_recall(ann, exact, KNN_GRAPH_K)


SQL_ANN_KNN_GRAPH_RECALL = f"""
WITH {_SQL_GRAPH_PAIRS},
ann AS (
  SELECT node_id AS query_id, neighbor_id FROM ({_sql_graph_ranked(KNN_GRAPH_K)})
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      row_number() OVER (PARTITION BY a.vec_id
        ORDER BY {sql_cos("a.embedding", "b.embedding")} DESC, b.vec_id) AS rank
    FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
  ) WHERE rank <= {KNN_GRAPH_K}
),{_sql_hit_rate(KNN_GRAPH_K)}
{SQL_RECALL_ROW}
"""


SIMSEARCH_QUERIES: dict[str, AnnFn] = {
    "pq_codes": q_pq_codes,
    "pq_codebook": q_pq_codebook,
    "ivf_cell_sizes": q_ivf_cell_sizes,
    "ann_knn_graph": q_ann_knn_graph,
    "ann_knn_graph_recall": q_ann_knn_graph_recall,
}

SIMSEARCH_ORACLES: dict[str, str] = {
    "pq_codes": SQL_PQ_CODES,
    "pq_codebook": SQL_PQ_CODEBOOK,
    "ivf_cell_sizes": SQL_IVF_CELL_SIZES,
    "ann_knn_graph": SQL_ANN_KNN_GRAPH,
    "ann_knn_graph_recall": SQL_ANN_KNN_GRAPH_RECALL,
}


# ---------------------------------------------------------------------------
# Graph-based ANN: beam search over the banded KNN graph (NSW shape)
# ---------------------------------------------------------------------------

#: graph degree for the SEARCH graph: richer than the registered
#: 5-NN construction artifact. r05 sweep (tools/sweep_graph_beam.py):
#: degree is the dominant recall lever on the isotropic fixture —
#: 0.609@20 at degree 8 vs 0.711 at 16 (fixed beam/rounds); the
#: registered point (16/beam 8/4 rounds/stride 50) measures 0.7125
#: at 306 visited/query. One constant, shared with the walk
#: operators and every oracle (operators/simsearch.GRAPH_DEGREE).
GRAPH_BEAM_K = S.GRAPH_DEGREE


def _sql_graph_edges(vamana: bool = False) -> tuple[str, str]:
    """``(ctes, edge CTE name)``: the walked graph — each node's
    top-``GRAPH_BEAM_K`` banded pairs, symmetrized into ``edges``
    (``symmetric_knn_edges``); ``vamana`` appends the α-prune chain and
    names its ``vedges`` (``vamana_edges``)."""
    parts = [
        _SQL_GRAPH_PAIRS,
        f"graph AS ({_sql_graph_ranked(GRAPH_BEAM_K)})",
        """edges AS MATERIALIZED (
  SELECT node_id AS src, neighbor_id AS dst FROM graph
  UNION
  SELECT neighbor_id AS src, node_id AS dst FROM graph
)""",
    ]
    if not vamana:
        return ",\n".join(parts), "edges"
    return ",\n".join([*parts, *_sql_vamana_ctes()]), "vedges"


def _sql_beam_rounds(
    edges: str,
    seed: str | None = None,
    table: str = "embeddings",
    col: str = "embedding",
    qcol: str = "qe",
    score: Callable[[str, str], str] = sql_cos,
    prefix: str = "",
) -> tuple[str, str]:
    """``(ctes, last CTE name)``: the rounds of
    ``operators/simsearch.beam_candidates`` over the ``edges`` CTE. The
    entry CTE ``{prefix}c0`` is ``seed`` (a SELECT of query_id, vec_id,
    score) or the stride seeds of ``table``; each round takes the
    top-``BEAM_WIDTH`` frontier, expands it, scores the new ids by
    ``score(q.{qcol}, c.{col})`` and dedups on the id pair. Every
    round's visited set is MATERIALIZED — the next round references it
    three times, which DuckDB's default inlining re-evaluates
    exponentially (the semantic-dedup lesson)."""
    c = f"{prefix}c"
    seed = seed or f"""SELECT q.query_id, s.vec_id, {score(f"q.{qcol}", f"s.{col}")} AS score
  FROM q CROSS JOIN
    (SELECT vec_id, {col} FROM {table}
     WHERE vec_id % {S.BEAM_ENTRY_STRIDE} = 0) s"""
    parts = [f"{c}0 AS MATERIALIZED (\n  {seed}\n)"]
    for i in range(1, S.BEAM_ROUNDS + 1):
        front, expand, scored = f"{prefix}f{i}", f"{prefix}n{i}", f"{prefix}s{i}"
        parts.append(f"""{front} AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id
        ORDER BY score DESC, vec_id ASC) AS r
    FROM {c}{i - 1}
  ) WHERE r <= {S.BEAM_WIDTH}
)""")
        parts.append(f"""{expand} AS (
  SELECT DISTINCT f.query_id, e.dst AS vec_id
  FROM {front} f JOIN {edges} e ON e.src = f.vec_id
)""")
        parts.append(f"""{scored} AS (
  SELECT n.query_id, n.vec_id, {score(f"q.{qcol}", f"c.{col}")} AS score
  FROM {expand} n
  JOIN {table} c ON c.vec_id = n.vec_id
  JOIN q ON q.query_id = n.query_id
)""")
        parts.append(f"""{c}{i} AS MATERIALIZED (
  SELECT query_id, vec_id, max(score) AS score FROM (
    SELECT * FROM {c}{i - 1} UNION ALL SELECT * FROM {scored}
  ) GROUP BY query_id, vec_id
)""")
    return ",\n".join(parts), f"{c}{S.BEAM_ROUNDS}"


def _sql_graph_beam_ctes(
    q_cte: str = SQL_Q_CTE,
    pre_ctes: tuple[str, ...] = (),
    seed: str | None = None,
    vamana: bool = False,
) -> tuple[str, str]:
    """CTE chain replaying ``graph_beam_search``; returns
    ``(ctes, final_candidate_cte)`` where the final CTE has columns
    (query_id, neighbor_id, score). ``q_cte`` is the walker set — the
    fixture queries by default, the incoming upsert batch for the
    delta-insert oracles. ``pre_ctes`` follow ``q`` (e.g. the IVF body
    for centroid seeding), ``seed`` replaces the stride entries, and
    ``vamana`` walks the α-pruned graph."""
    edge_ctes, edges = _sql_graph_edges(vamana)
    rounds, last = _sql_beam_rounds(edges, seed)
    parts = [
        f"q AS ({q_cte})",
        *pre_ctes,
        edge_ctes,
        rounds,
        f"beam_cand AS (SELECT query_id, vec_id AS neighbor_id, score FROM {last})",
    ]
    return ",\n".join(parts), "beam_cand"


_GRAPH_BEAM_CTES, _GRAPH_BEAM_FINAL = _sql_graph_beam_ctes()

def q_ann_graph_delta_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst): incremental graph-index maintenance — the mutation
    fixture's upsert batch (vec_id % 11 = 5, REVERSED embeddings: new
    content under existing ids) beam-searches the existing graph and
    links symmetrically to its ``GRAPH_BEAM_K`` nearest residents
    (``operators/simsearch.graph_delta_edges``). The index never
    rebuilds; insert cost per vector = one query walk. The oracle
    replays the same walk with the upsert batch as the ``q`` CTE."""
    from .operators.mutate import fixture_mutation

    corpus = load_table(spark, sf_dir, "embeddings")
    upserts, _ = fixture_mutation(corpus)
    edges = S.symmetric_knn_edges(corpus, GRAPH_BEAM_K)
    return S.graph_delta_edges(upserts, corpus, edges)


_DELTA_Q_CTE = (
    "SELECT vec_id AS query_id, list_reverse(embedding) AS qe "
    "FROM embeddings WHERE vec_id % 11 = 5"
)
_DELTA_BEAM_CTES, _DELTA_BEAM_FINAL = _sql_graph_beam_ctes(_DELTA_Q_CTE)

SQL_ANN_GRAPH_DELTA_EDGES = f"""
WITH {_DELTA_BEAM_CTES},
nn AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id
        ORDER BY score DESC, neighbor_id) AS r
    FROM {_DELTA_BEAM_FINAL}
    WHERE neighbor_id != query_id
  ) WHERE r <= {GRAPH_BEAM_K}
)
SELECT DISTINCT src, dst FROM (
  SELECT query_id AS src, neighbor_id AS dst FROM nn
  UNION ALL
  SELECT neighbor_id AS src, query_id AS dst FROM nn
)
"""

SIMSEARCH_QUERIES["ann_graph_delta_edges"] = q_ann_graph_delta_edges
SIMSEARCH_ORACLES["ann_graph_delta_edges"] = SQL_ANN_GRAPH_DELTA_EDGES


#: ingest increment for the continuous-maintenance queries: every
#: 10th vector (residue 3) plays the newly-arriving batch
INGEST_MOD = 10
INGEST_RESIDUE = 3


def q_ivf_ingest_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous index maintenance: route an arriving batch of
    vectors to their IVF cells with the STATELESS assignment
    projection (``simsearch.assign_cells_stateless`` — quantizer as a
    literal, no join, no aggregation, no state), the exact plan a
    Structured Streaming micro-batch runs in append mode
    (``tests/test_streaming.py`` proves the readStream equivalence).
    The batch twin of appending to the cell-partitioned store."""
    corpus = load_table(spark, sf_dir, "embeddings")
    cents = S.ivf_centroids(corpus)
    rows = [(r.centroid_id, r.cvec) for r in cents.collect()]
    batch = corpus.where(F.col("vec_id") % INGEST_MOD == INGEST_RESIDUE)
    out = S.assign_cells_stateless(batch, rows)
    return out.select(F.col("id").alias("vec_id"), "cell")


SQL_IVF_INGEST_ASSIGN = f"""
WITH ivfkm_pts AS (SELECT 0 AS grp, vec_id AS pid, embedding AS pvec FROM embeddings),
{_IVF_KM_CTES},
cents AS (SELECT cid AS centroid_id, cvec FROM {_IVF_KM_FINAL}),
b AS (SELECT vec_id, embedding FROM embeddings
      WHERE vec_id % {INGEST_MOD} = {INGEST_RESIDUE})
SELECT vec_id, cell FROM (
  SELECT b.vec_id, c.centroid_id AS cell,
    row_number() OVER (PARTITION BY b.vec_id
      ORDER BY {sql_dist2("b.embedding", "c.cvec")} ASC, c.centroid_id ASC) AS r
  FROM b CROSS JOIN cents c
) WHERE r = 1
"""

SIMSEARCH_QUERIES["ivf_ingest_assign"] = q_ivf_ingest_assign
SIMSEARCH_ORACLES["ivf_ingest_assign"] = SQL_IVF_INGEST_ASSIGN


# ---------------------------------------------------------------------------
# OPQ — PQ behind a variance-balanced dimension permutation
# (operators/opq.py; VERDICT r07 #2: PQ recall is quantization-limited
# and the public fix is an orthogonal transform before subspace split)
# ---------------------------------------------------------------------------

#: The permutation replay: integer-exact variance keys (n·Σq² − (Σq)²
#: over q = floor(x·OPQ_SCALE)), rank DESC with dim tie-break,
#: closed-form snake dealing. The engines only SUM in BIGINT; the key
#: multiply happens out-of-engine (Python bigints on the Spark side,
#: HUGEINT here — DuckDB integer sums promote to HUGEINT, and we
#: deliberately do NOT cast back down, r08 ADVICE overflow fix).
SQL_OPQ_PERM_CTES = f"""
opq_long AS (
  SELECT vec_id,
         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
         unnest(embedding) AS x
  FROM embeddings
),
opq_var AS (
  SELECT dim, count(*) * sum(qx * qx) - sum(qx) * sum(qx) AS vkey
  FROM (SELECT dim, CAST(floor(CAST(x AS DOUBLE) * {_OPQ_SCALE}) AS BIGINT) AS qx
        FROM opq_long)
  GROUP BY dim
),
opq_perm AS (
  SELECT dim,
    CAST(CASE WHEN ((rk // {P.PQ_M}) % 2) = 0 THEN rk % {P.PQ_M}
              ELSE {P.PQ_M - 1} - (rk % {P.PQ_M}) END
         * {_PQ_SUBDIM} + (rk // {P.PQ_M}) AS INT) AS newpos
  FROM (SELECT dim, row_number() OVER (ORDER BY vkey DESC, dim ASC) - 1 AS rk
        FROM opq_var)
),
opq_emb AS (
  SELECT l.vec_id, list(l.x ORDER BY p.newpos) AS embedding
  FROM opq_long l JOIN opq_perm p USING (dim)
  GROUP BY l.vec_id
),
opq_q AS (
  SELECT s.query_id, list(s.x ORDER BY p.newpos) AS qe
  FROM (
    SELECT query_id,
           CAST(generate_subscripts(qe, 1) - 1 AS INT) AS dim,
           unnest(qe) AS x
    FROM q
  ) s JOIN opq_perm p USING (dim)
  GROUP BY s.query_id
)
"""

SQL_OPQ_CTES = f"""
q AS ({SQL_Q_CTE}),
{SQL_OPQ_PERM_CTES},
{sql_pq_body(emb="opq_emb", qsrc="opq_q")}
"""

# ---------------------------------------------------------------------------
# Multi-probe LSH (operators/simsearch.lsh_multiprobe_topk; VERDICT r07
# #3 — probe the T nearest buckets by flipped-bit margin: the standard
# recall lever that costs no extra stored tables)
# ---------------------------------------------------------------------------

def _sql_band_dots(src: str, id_expr: str, vec: str) -> str:
    """(id, vec, band, j, dot): every projection unrolled with literal
    planes — the margin table behind the probe ranking."""
    rows = []
    for band in range(S.LSH_BANDS):
        for j in range(S.LSH_ROWS):
            plane = S.lsh_planes(FIXTURE_EMBED_DIM)[band * S.LSH_ROWS + j]
            d = sql_dot(vec, _sql_plane_lit(plane))
            rows.append(
                f"SELECT {id_expr} AS id, {vec} AS vec, {band} AS band, "
                f"{j} AS j, {d} AS dot FROM {src}"
            )
    return "\nUNION ALL\n".join(rows)


SQL_LSH_MP_CTES = f"""
q AS ({SQL_Q_CTE}),
qb AS ({_sql_bands("q", "query_id", "qe")}),
cb AS ({_sql_bands("embeddings", "vec_id", "embedding")}),
q_dots AS ({_sql_band_dots("q", "query_id", "qe")}),
q_flip AS (
  SELECT id, band, j FROM (
    SELECT id, band, j,
      row_number() OVER (PARTITION BY id, band ORDER BY abs(dot) ASC, j ASC) AS r
    FROM q_dots
  ) WHERE r <= {S.LSH_MULTIPROBE_T}
),
qmb AS (
  SELECT id, vec, band, bkey FROM qb
  UNION ALL
  SELECT qb.id, qb.vec, qb.band, xor(qb.bkey, 1 << f.j) AS bkey
  FROM q_flip f JOIN qb ON qb.id = f.id AND qb.band = f.band
),
lsh_mp_cand AS (
  SELECT query_id, neighbor_id, {sql_cos("qvec", "cvec")} AS score FROM (
    SELECT DISTINCT qmb.id AS query_id, cb.id AS neighbor_id,
           qmb.vec AS qvec, cb.vec AS cvec
    FROM qmb JOIN cb ON qmb.band = cb.band AND qmb.bkey = cb.bkey
  )
)
"""

# ---------------------------------------------------------------------------
# Centroid-seeded graph beam search (VERDICT r07 #4 — HNSW's
# hierarchical-entry lever: start the walk from the query's nearest
# IVF cells' medoids instead of blind stride seeds)
# ---------------------------------------------------------------------------

#: SQL_IVF_BODY supplies cents/assigned/probes (probe depth
#: IVF_NPROBE == BEAM_ENTRY_CELLS — one constant, one replay); its
#: trailing ivf_cand CTE is unreferenced and never evaluated. ``med``
#: holds each cell's BEAM_ENTRY_PER_CELL medoids; the walk enters at
#: the medoids of the query's probed cells.
_GRAPH_CENTROID_MED = f"""med AS (
  SELECT cell, vec_id, embedding FROM (
    SELECT a.cell, a.vec_id, a.embedding,
      row_number() OVER (PARTITION BY a.cell
        ORDER BY {sql_dist2("a.embedding", "c.cvec")} ASC, a.vec_id ASC) AS r
    FROM assigned a JOIN cents c ON c.centroid_id = a.cell
  ) WHERE r <= {S.BEAM_ENTRY_PER_CELL}
)"""
_GRAPH_CENT_CTES, _GRAPH_CENT_FINAL = _sql_graph_beam_ctes(
    pre_ctes=(SQL_IVF_BODY, _GRAPH_CENTROID_MED),
    seed=f"""SELECT p.query_id, m.vec_id, {sql_cos("p.qe", "m.embedding")} AS score
  FROM probes p JOIN med m ON m.cell = p.cell""",
)

# ---------------------------------------------------------------------------
# IVF-OPQ: the production composition behind the trained transform
# (cells and exact distances are permutation-invariant; only the ADC
# codes change — balanced subspace energy)
# ---------------------------------------------------------------------------

def sql_ivfpq_cand(emb: str = "embeddings", qsrc: str = "q") -> str:
    """The IVF-PQ candidate tail (ADC over probed cells → r·K ids →
    exact re-rank) over parameterized corpus/query CTEs — consumes the
    ``probes``/``assigned`` CTEs of ``sql_ivf_body`` and the
    ``pq_recon`` of ``sql_pq_body`` instantiated over the SAME pair."""
    return f"""
ivfpq_adc AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {sql_dist2("p.qe", "r.recon")} AS score
  FROM probes p
  JOIN assigned a ON a.cell = p.cell
  JOIN pq_recon r ON r.vec_id = a.vec_id
),
ivfpq_ids AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id ORDER BY score ASC, neighbor_id) AS rank
    FROM ivfpq_adc
  ) WHERE rank <= {P.PQ_REFINE_R * ANN_K}
),
ivfpq_cand AS (
  SELECT c.query_id, c.neighbor_id, {sql_dist2("q.qe", "e.embedding")} AS score
  FROM ivfpq_ids c
  JOIN {emb} e ON e.vec_id = c.neighbor_id
  JOIN {qsrc} AS q ON q.query_id = c.query_id
)
"""


SQL_IVFOPQ_CTES = f"""
q AS ({SQL_Q_CTE}),
{SQL_OPQ_PERM_CTES},
{sql_ivf_body(emb="opq_emb", qsrc="opq_q")},
{sql_pq_body(emb="opq_emb", qsrc="opq_q")},
{sql_ivfpq_cand(emb="opq_emb", qsrc="opq_q")}
"""

# ---------------------------------------------------------------------------
# Residual IVF-PQ — IVFADC proper (operators/pq.ivfpq_res_topk; r08
# verdict #2): PQ trained and scored on per-cell residuals
# x − centroid(cell), the production FAISS layout. The oracle composes
# the existing parameterized bodies: sql_ivf_body gives cents/assigned/
# probes; the residual corpus is one zip_with CTE; sql_pq_body over it
# trains/encodes/reconstructs; the ADC joins probes to residual-space
# query vectors.
# ---------------------------------------------------------------------------

#: the residual corpus: assigned vectors minus their cell centroid —
#: per-coordinate double subtraction, identical shape to the Spark
#: zip_with (operators/pq.ivf_residuals)
_SQL_RES_EMB = f"""
res_emb AS MATERIALIZED (
  SELECT a.vec_id, a.cell,
         list_transform(list_zip(a.embedding, c.cvec),
                        t -> CAST(t[1] AS DOUBLE) - CAST(t[2] AS DOUBLE)) AS embedding
  FROM assigned a JOIN cents c ON c.centroid_id = a.cell
)
"""

#: the trained coarse quantizer (IVFADC_KMEANS_ITERS Lloyd rounds,
#: distinct km prefix — the plain body's ivfkm CTEs use iters=0)
SQL_IVFPQ_RES_CTES = f"""
q AS ({SQL_Q_CTE}),
{sql_ivf_body(iters=P.IVFADC_KMEANS_ITERS, km_prefix="adckm")},
{_SQL_RES_EMB},
{sql_pq_body(emb="res_emb", qsrc="q")},
ivfres_q AS (
  SELECT p.query_id, p.cell,
         list_transform(list_zip(p.qe, c.cvec),
                        t -> CAST(t[1] AS DOUBLE) - CAST(t[2] AS DOUBLE)) AS qres
  FROM probes p JOIN cents c ON c.centroid_id = p.cell
),
ivfres_adc AS (
  SELECT qr.query_id, a.vec_id AS neighbor_id,
         {sql_dist2("qr.qres", "r.recon")} AS score
  FROM ivfres_q qr
  JOIN res_emb a ON a.cell = qr.cell
  JOIN pq_recon r ON r.vec_id = a.vec_id
),
ivfres_ids AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id ORDER BY score ASC, neighbor_id) AS rank
    FROM ivfres_adc
  ) WHERE rank <= {P.PQ_REFINE_R * ANN_K}
),
ivfres_cand AS (
  SELECT c.query_id, c.neighbor_id, {sql_dist2("q.qe", "e.embedding")} AS score
  FROM ivfres_ids c
  JOIN embeddings e ON e.vec_id = c.neighbor_id
  JOIN q ON q.query_id = c.query_id
)
"""

# ---------------------------------------------------------------------------
# Learned-rotation OPQ (r08 verdict #4): the Ge et al. alternation is
# trained OFFLINE (tools/train_opq_rotation.py) and frozen as a
# literal orthogonal matrix; the serve path is one matmul expression
# (the lsh_planes idiom) feeding the parameterized PQ body — fully
# oracle-able. reports/OPQ_ROTATION.csv holds the 3-fixture ADC
# comparison (identity / snake permutation / learned rotation).
# ---------------------------------------------------------------------------

def _sql_rot_list(vec: str) -> str:
    """R·x as a DuckDB list literal-of-dots — one strict in-order fold
    per output coordinate against the frozen matrix row, the same fold
    shape as the Spark ``rotate_expr``."""
    from .operators.opq_rotation_matrix import OPQ_ROTATION

    return (
        "["
        + ", ".join(sql_dot(vec, _sql_plane_lit(row)) for row in OPQ_ROTATION)
        + "]"
    )


SQL_OPQ_ROT_CTES = f"""
q AS ({SQL_Q_CTE}),
rot_emb AS MATERIALIZED (
  SELECT vec_id, {_sql_rot_list("embedding")} AS embedding FROM embeddings
),
rot_q AS MATERIALIZED (
  SELECT query_id, {_sql_rot_list("qe")} AS qe FROM q
),
{sql_pq_body(emb="rot_emb", qsrc="rot_q")}
"""

# ---------------------------------------------------------------------------
# Budget-adaptive IVF probing (r09): probe ranked cells until a
# per-query CANDIDATE BUDGET is reached instead of a fixed nprobe —
# the skew-robust strategy a 1000-executor scan wants (uniform
# per-query cost, no straggler from one giant cell). Same quantizer,
# same partition-pruned cell equi-join as plain IVF.
# ---------------------------------------------------------------------------

#: adaptive probe replay: rank all cells per query, running-sum the
#: BROADCAST-SIZED cell populations (window over n_cells rows, never
#: over data), admit cells while the population BEFORE them is under
#: budget — identical tie-breaks to ivf_adaptive_probes
SQL_IVF_ADAPTIVE_CTES = f"""
q AS ({SQL_Q_CTE}),
{SQL_IVF_BODY},
cell_sizes AS (SELECT cell, count(*) AS csz FROM assigned GROUP BY cell),
aranked AS (
  SELECT q.query_id, q.qe, c.centroid_id AS cell,
    row_number() OVER (PARTITION BY q.query_id
      ORDER BY {sql_dist2("q.qe", "c.cvec")} ASC, c.centroid_id ASC) AS r
  FROM q CROSS JOIN cents c
),
acum AS (
  SELECT a.query_id, a.qe, a.cell,
    coalesce(sum(s.csz) OVER (PARTITION BY a.query_id ORDER BY a.r
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
  FROM aranked a JOIN cell_sizes s ON s.cell = a.cell
),
aprobes AS (SELECT query_id, qe, cell FROM acum WHERE prev < {S.IVF_ADAPTIVE_BUDGET}),
ivfa_cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {sql_cos("p.qe", "a.embedding")} AS score
  FROM aprobes p JOIN assigned a ON a.cell = p.cell
)
"""

# ---------------------------------------------------------------------------
# Vamana/DiskANN-style α-pruned graph (Subramanya et al. NeurIPS 2019)
# ---------------------------------------------------------------------------

def _sql_vamana_ctes() -> tuple[str, ...]:
    """The α-prune chain over the banded ``edges`` CTE, ending in the
    symmetric ``vedges``. Constants are shared literally with
    ``operators/vamana.py``: L=VAMANA_L candidates,
    α²=VAMANA_ALPHA2 in d²=2−2·cos space, elem = bit·2²⁵ + occ,
    acc = cnt·2³⁰ + kept_mask — the whole prune is integer arithmetic
    over bit-identical cosine comparisons, so the DuckDB fold
    reproduces the Spark fold exactly."""
    from .operators.vamana import VAMANA_ALPHA2, VAMANA_DEGREE, VAMANA_L, _CNT, _ENC

    return (
        f"""vcand AS MATERIALIZED (
  SELECT e1.src AS node_id, e2.dst AS cand_id
  FROM edges e1 JOIN edges e2 ON e2.src = e1.dst
  WHERE e2.dst != e1.src
  UNION
  SELECT src AS node_id, dst AS cand_id FROM edges
)""",
        f"""vpool AS MATERIALIZED (
  SELECT node_id, cand_id, score,
         CAST(r - 1 AS BIGINT) AS j,
         (CAST(1 AS BIGINT) << CAST(r - 1 AS INT)) AS bit
  FROM (
    SELECT node_id, cand_id, score,
      row_number() OVER (PARTITION BY node_id
        ORDER BY score DESC, cand_id) AS r
    FROM (
      SELECT v.node_id, v.cand_id,
             {sql_cos("a.embedding", "b.embedding")} AS score
      FROM vcand v
      JOIN embeddings a ON a.vec_id = v.node_id
      JOIN embeddings b ON b.vec_id = v.cand_id
    )
  ) WHERE r <= {VAMANA_L}
)""",
        f"""vocc AS MATERIALIZED (
  SELECT i.node_id, j.j, CAST(sum(i.bit) AS BIGINT) AS occ
  FROM vpool i
  JOIN vpool j ON j.node_id = i.node_id AND i.j < j.j
  JOIN embeddings iv ON iv.vec_id = i.cand_id
  JOIN embeddings jv ON jv.vec_id = j.cand_id
  WHERE CAST({VAMANA_ALPHA2} AS DOUBLE)
          * (2.0 - 2.0 * ({sql_cos("iv.embedding", "jv.embedding")}))
        <= (2.0 - 2.0 * j.score)
  GROUP BY i.node_id, j.j
)""",
        f"""vmask AS MATERIALIZED (
  SELECT node_id,
    list_reduce(
      list_prepend(CAST(0 AS BIGINT), list(elem ORDER BY j)),
      (acc, e) -> CASE WHEN (acc // {_CNT}) < {VAMANA_DEGREE}
                        AND ((acc % {_CNT}) & (e % {_ENC})) = 0
                   THEN acc + {_CNT} + (e // {_ENC}) ELSE acc END
    ) AS acc
  FROM (
    SELECT p.node_id, p.j,
           p.bit * {_ENC} + coalesce(o.occ, CAST(0 AS BIGINT)) AS elem
    FROM vpool p LEFT JOIN vocc o ON o.node_id = p.node_id AND o.j = p.j
  ) GROUP BY node_id
)""",
        f"""vkept AS (
  SELECT p.node_id AS src, p.cand_id AS dst
  FROM vpool p JOIN vmask m ON m.node_id = p.node_id
  WHERE ((m.acc % {_CNT}) & p.bit) != 0
)""",
        """vedges AS MATERIALIZED (
  SELECT src, dst FROM vkept
  UNION
  SELECT dst AS src, src AS dst FROM vkept
)""",
    )


_VAMANA_BEAM_CTES, _VAMANA_BEAM_FINAL = _sql_graph_beam_ctes(vamana=True)


def q_ann_vamana_delta_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst): incremental Vamana maintenance — the COMPLETE
    DiskANN insert (Alg. 2): the mutation fixture's upsert batch
    (vec_id % 11 = 5, REVERSED embeddings) greedy-searches the
    existing α-pruned graph and RobustPrunes its candidate pool; then
    every resident receiving a reverse edge merges it and re-prunes
    on degree overflow (``operators/vamana.vamana_delta_edges``).
    Output = the replacement adjacency of every touched src, each
    out-degree ≤ VAMANA_DEGREE. The oracle replays the walk over the
    replayed vamana build with the upsert batch as the ``q`` CTE, the
    same integer prune fold, then the resident pass over post-batch
    effective vectors (r11; Subramanya et al. 2019 step 3)."""
    from .operators.mutate import fixture_mutation
    from .operators.vamana import vamana_delta_edges

    corpus = load_table(spark, sf_dir, "embeddings")
    upserts, _ = fixture_mutation(corpus)
    edges = vamana_edges(corpus)
    return vamana_delta_edges(upserts, corpus, edges)


def _sql_vamana_delta() -> str:
    from .operators.vamana import VAMANA_ALPHA2, VAMANA_DEGREE, VAMANA_L, _CNT, _ENC

    ctes, final = _sql_graph_beam_ctes(_DELTA_Q_CTE, vamana=True)
    # the unrolled resident-prune fold: one row per node with the
    # VAMANA_L encoded elems as COLUMNS (order-independent conditional
    # MAX pivot), then one MATERIALIZED pure-projection level per rank
    # position — acc_k = step(acc_{k-1}, e_k). Plain scalar integer
    # CASE per level: bit-for-bit deterministic however many times
    # DuckDB evaluates or shares the CTE scans.
    pivot_cols = ",\n         ".join(
        f"max(CASE WHEN j = {k} THEN elem END) AS e{k}" for k in range(VAMANA_L)
    )
    step_levels = []
    prev = "CAST(0 AS BIGINT)"
    src = "rpiv"
    for k in range(VAMANA_L):
        carry = ", ".join(f"e{m}" for m in range(k + 1, VAMANA_L)) or None
        cols = f"node_id{', ' + carry if carry else ''}"
        step_levels.append(
            f"""racc{k} AS MATERIALIZED (
  SELECT {cols},
         CASE WHEN e{k} IS NULL THEN {prev}
              WHEN ({prev} // {_CNT}) < {VAMANA_DEGREE}
               AND (({prev} % {_CNT}) & (e{k} % {_ENC})) = 0
              THEN {prev} + {_CNT} + (e{k} // {_ENC})
              ELSE {prev} END AS acc
  FROM {src}
)"""
        )
        prev = "acc"
        src = f"racc{k}"
    unrolled = ",\n".join(step_levels)
    return f"""
WITH {ctes},
dpool AS MATERIALIZED (
  SELECT query_id AS node_id, neighbor_id AS cand_id, score,
         CAST(r - 1 AS BIGINT) AS j,
         (CAST(1 AS BIGINT) << CAST(r - 1 AS INT)) AS bit
  FROM (
    SELECT query_id, neighbor_id, score,
      row_number() OVER (PARTITION BY query_id
        ORDER BY score DESC, neighbor_id) AS r
    FROM {final} WHERE neighbor_id != query_id
  ) WHERE r <= {VAMANA_L}
),
docc AS MATERIALIZED (
  SELECT i.node_id, j.j, CAST(sum(i.bit) AS BIGINT) AS occ
  FROM dpool i
  JOIN dpool j ON j.node_id = i.node_id AND i.j < j.j
  JOIN embeddings iv ON iv.vec_id = i.cand_id
  JOIN embeddings jv ON jv.vec_id = j.cand_id
  WHERE CAST({VAMANA_ALPHA2} AS DOUBLE)
          * (2.0 - 2.0 * ({sql_cos("iv.embedding", "jv.embedding")}))
        <= (2.0 - 2.0 * j.score)
  GROUP BY i.node_id, j.j
),
dmask AS MATERIALIZED (
  SELECT node_id,
    list_reduce(
      list_prepend(CAST(0 AS BIGINT), list(elem ORDER BY j)),
      (acc, e) -> CASE WHEN (acc // {_CNT}) < {VAMANA_DEGREE}
                        AND ((acc % {_CNT}) & (e % {_ENC})) = 0
                   THEN acc + {_CNT} + (e // {_ENC}) ELSE acc END
    ) AS acc
  FROM (
    SELECT p.node_id, p.j,
           p.bit * {_ENC} + coalesce(o.occ, CAST(0 AS BIGINT)) AS elem
    FROM dpool p LEFT JOIN docc o ON o.node_id = p.node_id AND o.j = p.j
  ) GROUP BY node_id
),
dkept AS MATERIALIZED (
  SELECT p.node_id AS src, p.cand_id AS dst
  FROM dpool p JOIN dmask m ON m.node_id = p.node_id
  WHERE ((m.acc % {_CNT}) & p.bit) != 0
),
-- Resident-side maintenance (DiskANN Alg. 2 step 3). Evaluation
-- discipline (r11): every step is ORDER- AND EVALUATION-COUNT-
-- INDEPENDENT — plain joins, integer sums, a complete-tie-break
-- window, a conditional-MAX pivot, and an UNROLLED scalar CASE chain
-- for the sequential prune (racc0..racc{{L-1}}). A third list_reduce
-- fold over a list(... ORDER BY ...) aggregate (the v-/d-chain
-- idiom) is UNSTABLE in DuckDB 1.0.0 at this query depth: identical
-- SQL returned different kept sets run-to-run and at threads=1,
-- always as if some occ bits were dropped, while every intermediate
-- probed correct (verified exhaustively in r11 against a pure-Python
-- replica); WITH RECURSIVE corrupts the unrelated v-chain outright
-- (vkept 8000 → 1983 from the keyword alone). Effective vectors
-- (batch members carry the reversed upsert embedding) are inlined
-- per join side.
rrev AS (SELECT dst AS node_id, src AS cand_id FROM dkept),
raff AS (SELECT DISTINCT node_id FROM rrev),
-- current adjacency of affected residents: the freshly pruned list
-- for batch members, the stored edge rows otherwise
rcur AS (
  SELECT v.src AS node_id, v.dst AS cand_id
  FROM vedges v JOIN raff a ON a.node_id = v.src
  WHERE v.src % 11 != 5
  UNION
  SELECT k.src AS node_id, k.dst AS cand_id
  FROM dkept k JOIN raff a ON a.node_id = k.src
),
rmerged AS MATERIALIZED (
  SELECT DISTINCT node_id, cand_id FROM (
    SELECT node_id, cand_id FROM rcur
    UNION ALL
    SELECT node_id, cand_id FROM rrev
  )
),
rscored AS MATERIALIZED (
  SELECT m.node_id, m.cand_id,
         ({sql_cos("nv.embedding", "cv.embedding")}) AS score
  FROM rmerged m
  JOIN (SELECT vec_id, CASE WHEN vec_id % 11 = 5 THEN list_reverse(embedding)
                            ELSE embedding END AS embedding
        FROM embeddings) nv ON nv.vec_id = m.node_id
  JOIN (SELECT vec_id, CASE WHEN vec_id % 11 = 5 THEN list_reverse(embedding)
                            ELSE embedding END AS embedding
        FROM embeddings) cv ON cv.vec_id = m.cand_id
),
rdeg AS MATERIALIZED (
  SELECT node_id, count(*) AS deg FROM rscored GROUP BY node_id
),
rwithin AS (
  SELECT s.node_id AS src, s.cand_id AS dst
  FROM rscored s JOIN rdeg d ON d.node_id = s.node_id AND d.deg <= {VAMANA_DEGREE}
),
rpool AS MATERIALIZED (
  SELECT node_id, cand_id, score, CAST(r - 1 AS BIGINT) AS j,
         (CAST(1 AS BIGINT) << CAST(r - 1 AS INT)) AS bit
  FROM (
    SELECT s.node_id, s.cand_id, s.score,
      row_number() OVER (PARTITION BY s.node_id
        ORDER BY s.score DESC, s.cand_id) AS r
    FROM rscored s JOIN rdeg d ON d.node_id = s.node_id AND d.deg > {VAMANA_DEGREE}
  ) WHERE r <= {VAMANA_L}
),
rocc AS MATERIALIZED (
  SELECT i.node_id, j.j, CAST(sum(i.bit) AS BIGINT) AS occ
  FROM rpool i
  JOIN rpool j ON j.node_id = i.node_id AND i.j < j.j
  JOIN (SELECT vec_id, CASE WHEN vec_id % 11 = 5 THEN list_reverse(embedding)
                            ELSE embedding END AS embedding
        FROM embeddings) iv ON iv.vec_id = i.cand_id
  JOIN (SELECT vec_id, CASE WHEN vec_id % 11 = 5 THEN list_reverse(embedding)
                            ELSE embedding END AS embedding
        FROM embeddings) jv ON jv.vec_id = j.cand_id
  WHERE CAST({VAMANA_ALPHA2} AS DOUBLE)
          * (2.0 - 2.0 * ({sql_cos("iv.embedding", "jv.embedding")}))
        <= (2.0 - 2.0 * j.score)
  GROUP BY i.node_id, j.j
),
relems AS MATERIALIZED (
  SELECT p.node_id, p.j,
         p.bit * {_ENC} + coalesce(o.occ, CAST(0 AS BIGINT)) AS elem
  FROM rpool p LEFT JOIN rocc o ON o.node_id = p.node_id AND o.j = p.j
),
rpiv AS MATERIALIZED (
  SELECT node_id,
         {pivot_cols}
  FROM relems GROUP BY node_id
),
{unrolled},
rkept AS (
  SELECT p.node_id AS src, p.cand_id AS dst
  FROM rpool p
  JOIN racc{VAMANA_L - 1} f ON f.node_id = p.node_id
  WHERE ((f.acc % {_CNT}) & p.bit) != 0
)
SELECT src, dst FROM (
  SELECT k.src, k.dst FROM dkept k
  WHERE k.src NOT IN (SELECT node_id FROM raff)
  UNION ALL SELECT src, dst FROM rwithin
  UNION ALL SELECT src, dst FROM rkept
)
"""


SIMSEARCH_QUERIES["ann_vamana_delta_edges"] = q_ann_vamana_delta_edges
SIMSEARCH_ORACLES["ann_vamana_delta_edges"] = _sql_vamana_delta()


# ---------------------------------------------------------------------------
# Index observability (r11): the catalog-health reads a production
# vector store serves from index metadata — cell-balance for IVF
# (skewed cells break the probe-cost model) and degree/connectivity
# for the graph family (the walk's fan-out budget). At 100 TB these
# are partition-statistics reads; here they are exact aggregates over
# the same memoized artifacts the serve paths use.
# ---------------------------------------------------------------------------


def q_ivf_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n_cells, n_empty_cells, min_pop, max_pop, avg_pop,
    skew): population balance of the IVF cells. ``skew`` =
    max_pop·n_cells/N — 1.0 is perfectly balanced; the probe-cost
    model (nprobe·N/cells rows/query) degrades linearly in it.
    Shares the memoized quantizer with every IVF query."""
    corpus = load_table(spark, sf_dir, "embeddings")
    cents = S.ivf_centroids(corpus)
    pops = (
        S.ivf_assign(corpus, cents)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("pop"))
    )
    stats = pops.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.min("pop").cast("long").alias("min_pop"),
        F.max("pop").cast("long").alias("max_pop"),
        F.round(F.sum("pop").cast("double") / F.count(F.lit(1)), 6).alias("avg_pop"),
        F.round(
            F.max("pop").cast("double") * F.count(F.lit(1)) / F.sum("pop"), 6
        ).alias("skew"),
    )
    n_cent = cents.agg(F.count(F.lit(1)).cast("long").alias("n_centroids"))
    return (
        stats.join(F.broadcast(n_cent))
        .select(
            "n_cells",
            (F.col("n_centroids") - F.col("n_cells")).alias("n_empty_cells"),
            "min_pop",
            "max_pop",
            "avg_pop",
            "skew",
        )
    )


def _sql_ivf_cell_stats() -> str:
    km_ctes, km_final = kmeans_sql_ctes(
        "ckm_pts", "ckm", S.IVF_STRIDE, iters=S.IVF_KMEANS_ITERS
    )
    return f"""
WITH ckm_pts AS (SELECT 0 AS grp, vec_id AS pid, embedding AS pvec FROM embeddings),
{km_ctes},
cents AS (SELECT cid AS centroid_id, cvec FROM {km_final}),
assigned AS (
  SELECT vec_id, centroid_id AS cell FROM (
    SELECT e.vec_id, c.centroid_id,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY {sql_dist2("e.embedding", "c.cvec")} ASC, c.centroid_id ASC) AS r
    FROM embeddings e CROSS JOIN cents c
  ) WHERE r = 1
),
pops AS (SELECT cell, CAST(count(*) AS BIGINT) AS pop FROM assigned GROUP BY cell)
SELECT CAST(count(*) AS BIGINT) AS n_cells,
       (SELECT CAST(count(*) AS BIGINT) FROM cents) - CAST(count(*) AS BIGINT)
         AS n_empty_cells,
       CAST(min(pop) AS BIGINT) AS min_pop,
       CAST(max(pop) AS BIGINT) AS max_pop,
       round(CAST(sum(pop) AS DOUBLE) / count(*), 6) AS avg_pop,
       round(CAST(max(pop) AS DOUBLE) * count(*) / sum(pop), 6) AS skew
FROM pops
"""


SIMSEARCH_QUERIES["ivf_cell_stats"] = q_ivf_cell_stats
SIMSEARCH_ORACLES["ivf_cell_stats"] = _sql_ivf_cell_stats()


def q_vamana_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n_nodes, n_isolated, min_deg, max_deg, avg_deg,
    n_over_budget): out-degree profile of the stored α-pruned graph —
    the walk's per-round fan-out budget. ``n_over_budget`` counts
    nodes past VAMANA_DEGREE (the symmetric closure admits them; the
    r11 insert path re-prunes them as ingest touches them —
    ``reports/VAMANA.md`` bounded-build section quantifies the
    end-state). Shares the memoized edge set with every vamana
    query."""
    from .operators.vamana import VAMANA_DEGREE

    corpus = load_table(spark, sf_dir, "embeddings")
    edges = vamana_edges(corpus)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    stats = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.min("deg").cast("long").alias("min_deg"),
        F.max("deg").cast("long").alias("max_deg"),
        F.round(F.sum("deg").cast("double") / F.count(F.lit(1)), 6).alias("avg_deg"),
        F.sum((F.col("deg") > VAMANA_DEGREE).cast("long")).cast("long").alias(
            "n_over_budget"
        ),
    )
    n_corpus = corpus.agg(F.count(F.lit(1)).cast("long").alias("n_corpus"))
    return (
        stats.join(F.broadcast(n_corpus))
        .select(
            "n_nodes",
            (F.col("n_corpus") - F.col("n_nodes")).alias("n_isolated"),
            "min_deg",
            "max_deg",
            "avg_deg",
            "n_over_budget",
        )
    )


def _sql_vamana_degree_stats() -> str:
    from .operators.vamana import VAMANA_DEGREE

    edge_ctes, edges = _sql_graph_edges(vamana=True)
    return f"""
WITH {edge_ctes},
vdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM {edges} GROUP BY src)
SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM embeddings)
         - CAST(count(*) AS BIGINT) AS n_isolated,
       CAST(min(deg) AS BIGINT) AS min_deg,
       CAST(max(deg) AS BIGINT) AS max_deg,
       round(CAST(sum(deg) AS DOUBLE) / count(*), 6) AS avg_deg,
       CAST(sum(CASE WHEN deg > {VAMANA_DEGREE} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_over_budget
FROM vdeg
"""


SIMSEARCH_QUERIES["vamana_degree_stats"] = q_vamana_degree_stats
SIMSEARCH_ORACLES["vamana_degree_stats"] = _sql_vamana_degree_stats()


def q_vamana_reachability_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n_entries, n_reachable, n_corpus, coverage): the
    walk-horizon coverage of the stored α-pruned graph — the fraction
    of the corpus within ``BEAM_ROUNDS`` hops of the stride entry
    set, i.e. the hard ceiling on what ANY beam walk (any beam width)
    can ever visit. Coverage < 1 means recall is capped by the graph,
    not the walk parameters — the connectivity health check a
    production graph index monitors (BFS core + the entry-repair
    lever: :func:`operators.simsearch.walk_reachability`)."""
    corpus = load_table(spark, sf_dir, "embeddings")
    edges = vamana_edges(corpus)
    entries = corpus.where(
        F.col("vec_id") % S.BEAM_ENTRY_STRIDE == 0
    ).select(F.col("vec_id").alias("node"))
    visited = S.walk_reachability(entries, edges, S.BEAM_ROUNDS)
    reach = visited.agg(F.count(F.lit(1)).cast("long").alias("n_reachable"))
    ent = entries.agg(F.count(F.lit(1)).cast("long").alias("n_entries"))
    corp = corpus.agg(F.count(F.lit(1)).cast("long").alias("n_corpus"))
    return (
        ent.join(F.broadcast(reach))
        .join(F.broadcast(corp))
        .select(
            "n_entries",
            "n_reachable",
            "n_corpus",
            F.round(
                F.col("n_reachable").cast("double") / F.col("n_corpus"), 6
            ).alias("coverage"),
        )
    )


def _sql_vamana_reachability_stats() -> str:
    edge_ctes, edges = _sql_graph_edges(vamana=True)
    rounds = [
        f"rb0 AS (SELECT vec_id AS node FROM embeddings "
        f"WHERE vec_id % {S.BEAM_ENTRY_STRIDE} = 0)"
    ]
    for r in range(1, S.BEAM_ROUNDS + 1):
        rounds.append(
            f"""rb{r} AS MATERIALIZED (
  SELECT node FROM rb{r - 1}
  UNION
  SELECT e.dst AS node FROM rb{r - 1} v JOIN {edges} e ON e.src = v.node
)"""
        )
    chain = ",\n".join(rounds)
    last = f"rb{S.BEAM_ROUNDS}"
    return f"""
WITH {edge_ctes},
{chain}
SELECT (SELECT CAST(count(*) AS BIGINT) FROM rb0) AS n_entries,
       CAST(count(*) AS BIGINT) AS n_reachable,
       (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_corpus,
       round(CAST(count(*) AS DOUBLE)
             / (SELECT count(*) FROM embeddings), 6) AS coverage
FROM {last}
"""


SIMSEARCH_QUERIES["vamana_reachability_stats"] = q_vamana_reachability_stats
SIMSEARCH_ORACLES["vamana_reachability_stats"] = _sql_vamana_reachability_stats()


# ---------------------------------------------------------------------------
# SPANN: closure multi-assignment postings + query-aware probe pruning
# (operators/spann.py — Chen et al. NeurIPS 2021, public method)
# ---------------------------------------------------------------------------

def _sql_spann_ctes() -> str:
    """Replays the full SPANN pipeline: the shared coarse-quantizer
    training (kmeans_sql_ctes, same stride seeds / Lloyd unroll), the
    closure assignment (d2 <= dmin * (1+eps)^2, closest-first, capped)
    on BOTH sides, and the groupBy-max candidate dedup. The squared
    closure factors are the same Python double literals the Spark side
    folds in, so the boundary comparisons are bit-identical."""
    km_ctes, km_final = kmeans_sql_ctes(
        "spkm_pts", "spkm", S.IVF_STRIDE, iters=S.IVF_KMEANS_ITERS
    )
    f_assign = repr(SP._factor2(SP.SPANN_EPS))
    f_probe = repr(SP._factor2(SP.SPANN_QEPS))
    d2_post = sql_dist2("e.embedding", "c.cvec")
    d2_probe = sql_dist2("q.qe", "c.cvec")
    return f"""
q AS ({SQL_Q_CTE}),
spkm_pts AS (SELECT 0 AS grp, vec_id AS pid, embedding AS pvec FROM embeddings),
{km_ctes},
spcents AS (SELECT cid AS centroid_id, cvec FROM {km_final}),
spposted AS (
  SELECT vec_id, embedding, centroid_id AS cell FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
      {d2_post} AS d2,
      min({d2_post}) OVER (PARTITION BY e.vec_id) AS dmin,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY {d2_post} ASC, c.centroid_id ASC) AS r
    FROM embeddings e CROSS JOIN spcents c
  ) WHERE d2 <= dmin * {f_assign} AND r <= {SP.SPANN_MAX_REPLICAS}
),
spprobes AS (
  SELECT query_id, qe, centroid_id AS cell FROM (
    SELECT q.query_id, q.qe, c.centroid_id,
      {d2_probe} AS d2,
      min({d2_probe}) OVER (PARTITION BY q.query_id) AS dmin,
      row_number() OVER (PARTITION BY q.query_id
        ORDER BY {d2_probe} ASC, c.centroid_id ASC) AS r
    FROM q CROSS JOIN spcents c
  ) WHERE d2 <= dmin * {f_probe} AND r <= {SP.SPANN_NPROBE_MAX}
),
spann_cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         max({sql_cos("p.qe", "a.embedding")}) AS score
  FROM spprobes p JOIN spposted a ON a.cell = p.cell
  GROUP BY p.query_id, a.vec_id
)
"""


SQL_SPANN_CTES = _sql_spann_ctes()


def q_spann_posting_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n_postings, n_vectors, avg_replicas, max_replicas,
    n_cells_used, max_posting, posting_skew): the storage side of the
    SPANN trade — how much the closure assignment inflates the index
    (read-path savings are the recall rows' job). ``posting_skew`` =
    max_posting·cells/total, the probe-cost analogue of
    ``ivf_cell_stats.skew`` over the REPLICATED postings. Shares the
    memoized quantizer with the whole IVF family."""
    corpus = load_table(spark, sf_dir, "embeddings")
    cents = S.ivf_centroids(corpus)
    posted = SP.spann_postings(corpus, cents)
    totals = posted.agg(
        F.count(F.lit(1)).cast("long").alias("n_postings"),
        F.countDistinct("vec_id").cast("long").alias("n_vectors"),
    )
    per_vec = (
        posted.groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("reps"))
        .agg(F.max("reps").cast("long").alias("max_replicas"))
    )
    per_cell = (
        posted.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("pop"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells_used"),
            F.max("pop").cast("long").alias("max_posting"),
        )
    )
    return (
        totals.join(F.broadcast(per_vec))
        .join(F.broadcast(per_cell))
        .select(
            "n_postings",
            "n_vectors",
            F.round(
                F.col("n_postings").cast("double") / F.col("n_vectors"), 6
            ).alias("avg_replicas"),
            "max_replicas",
            "n_cells_used",
            "max_posting",
            F.round(
                F.col("max_posting").cast("double")
                * F.col("n_cells_used")
                / F.col("n_postings"),
                6,
            ).alias("posting_skew"),
        )
    )


def _sql_spann_posting_stats() -> str:
    return f"""
WITH {SQL_SPANN_CTES},
totals AS (
  SELECT CAST(count(*) AS BIGINT) AS n_postings,
         CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vectors
  FROM spposted
),
per_vec AS (
  SELECT CAST(max(reps) AS BIGINT) AS max_replicas FROM (
    SELECT vec_id, count(*) AS reps FROM spposted GROUP BY vec_id
  )
),
per_cell AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cells_used,
         CAST(max(pop) AS BIGINT) AS max_posting FROM (
    SELECT cell, count(*) AS pop FROM spposted GROUP BY cell
  )
)
SELECT n_postings, n_vectors,
       round(CAST(n_postings AS DOUBLE) / n_vectors, 6) AS avg_replicas,
       max_replicas, n_cells_used, max_posting,
       round(CAST(max_posting AS DOUBLE) * n_cells_used / n_postings, 6)
         AS posting_skew
FROM totals CROSS JOIN per_vec CROSS JOIN per_cell
"""


SIMSEARCH_QUERIES["spann_posting_stats"] = q_spann_posting_stats
SIMSEARCH_ORACLES["spann_posting_stats"] = _sql_spann_posting_stats()




# ---------------------------------------------------------------------------
# The ANN pipeline table: every plain ann_<family>_topk / _recall pair
# ---------------------------------------------------------------------------


def _vamana_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam walk over the α-pruned graph, edges memoized per corpus."""
    corpus = load_table(spark, sf_dir, "embeddings")
    edges = vamana_edges(corpus)
    return S.graph_topk_from_index(queries_view(spark, sf_dir), corpus, edges, ANN_K)


ANN_PIPELINES = (
    AnnPipeline(
        over_fixture(S.ivf_topk), "cosine", SQL_IVF_CTES, "ivf_cand",
        "ann_ivf_topk", "ann_ivf_recall", "ann_ivf_ranking_metrics",
    ),
    AnnPipeline(
        over_fixture(S.lsh_topk), "cosine", SQL_LSH_CTES, "lsh_cand",
        "ann_lsh_topk", "ann_lsh_recall", "ann_lsh_ranking_metrics",
    ),
    AnnPipeline(
        over_fixture(P.pq_topk), "l2", SQL_PQ_CTES, "pq_cand",
        "ann_pq_topk", "ann_pq_recall",
    ),
    AnnPipeline(
        over_fixture(P.pq_refined_topk), "l2", f"{SQL_PQ_CTES},{_SQL_PQ_REFINE}",
        "refine_exact", "ann_pq_refined_topk",
    ),
    AnnPipeline(
        over_fixture(P.ivfpq_topk), "l2", SQL_IVFPQ_CTES, "ivfpq_cand",
        "ann_ivfpq_topk", "ann_ivfpq_recall",
    ),
    AnnPipeline(
        over_fixture(S.graph_beam_search), "cosine", _GRAPH_BEAM_CTES, _GRAPH_BEAM_FINAL,
        "ann_graph_topk", "ann_graph_recall",
    ),
    AnnPipeline(
        over_fixture(O.opq_topk), "l2", SQL_OPQ_CTES, "pq_cand",
        "ann_opq_topk", "ann_opq_recall",
    ),
    AnnPipeline(
        over_fixture(O.opq_refined_topk), "l2", f"{SQL_OPQ_CTES},{_SQL_PQ_REFINE}",
        "refine_exact", "ann_opq_refined_topk",
    ),
    AnnPipeline(
        over_fixture(S.lsh_multiprobe_topk), "cosine", SQL_LSH_MP_CTES, "lsh_mp_cand",
        "ann_lsh_multiprobe_topk", "ann_lsh_multiprobe_recall",
    ),
    AnnPipeline(
        over_fixture(S.graph_centroid_topk), "cosine", _GRAPH_CENT_CTES, _GRAPH_CENT_FINAL,
        "ann_graph_centroid_topk", "ann_graph_centroid_recall",
    ),
    AnnPipeline(
        over_fixture(O.ivfopq_topk), "l2", SQL_IVFOPQ_CTES, "ivfpq_cand",
        "ann_ivfopq_topk", "ann_ivfopq_recall",
    ),
    AnnPipeline(
        over_fixture(P.ivfpq_res_topk), "l2", SQL_IVFPQ_RES_CTES, "ivfres_cand",
        "ann_ivfpq_res_topk", "ann_ivfpq_res_recall",
    ),
    AnnPipeline(
        over_fixture(O.opq_rot_topk), "l2", SQL_OPQ_ROT_CTES, "pq_cand",
        "ann_opq_rot_topk", "ann_opq_rot_recall",
    ),
    AnnPipeline(
        over_fixture(S.ivf_adaptive_topk), "cosine", SQL_IVF_ADAPTIVE_CTES, "ivfa_cand",
        "ann_ivf_adaptive_topk", "ann_ivf_adaptive_recall",
    ),
    #: construction recall@5 0.81 vs the banded build's 0.44 lifts walk
    #: recall@20 to 0.945 vs 0.83 (sf0.01); sf0.1: 0.80 vs ann_graph's
    #: 0.7125 at 287 vs 306 visited per query (reports/VAMANA.md)
    AnnPipeline(
        _vamana_ann, "cosine", _VAMANA_BEAM_CTES, _VAMANA_BEAM_FINAL,
        "ann_vamana_topk", "ann_vamana_recall",
    ),
    #: recall 0.925 at the scanned-row budget of IVF nprobe=2, where IVF
    #: reaches 0.79 (reports/SPANN.md)
    AnnPipeline(
        over_fixture(SP.spann_topk), "cosine", SQL_SPANN_CTES, "spann_cand",
        "ann_spann_topk", "ann_spann_recall",
    ),
)

register_ann_pipelines(ANN_PIPELINES, SIMSEARCH_QUERIES, SIMSEARCH_ORACLES)

