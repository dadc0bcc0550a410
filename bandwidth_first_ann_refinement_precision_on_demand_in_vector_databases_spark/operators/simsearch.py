"""Approximate nearest-neighbor search over embedding columns
(SURVEY §7-M5; north-star LLM-pipeline ops).

The reference is *refinement-only* — it assumes candidates exist and
bounds the precision of their re-scoring (README.md:11 "orthogonal to
index choice"). This module supplies the candidate-generation side a
full pipeline needs, Spark-first, with the brute-force exact top-K
(``operators.topk``) as the recall oracle:

* **IVF** (inverted-file) — a coarse quantizer partitions the corpus
  into cells; queries probe the ``nprobe`` nearest cells and score
  exhaustively inside them. The quantizer is a deterministic
  DataFrame-native k-means (``operators/kmeans.py``: stride-sampled
  init, fixed Lloyd iterations, bit-exact in the DuckDB twin) — at
  100 TB the cell assignment is the *partition key* of the stored
  corpus (scan prunes to probed cells; the classic IVF bandwidth
  win), and the trained build is one declarative plan, memoized and
  persisted per session because every query-side consumer shares it.
* **Hyperplane LSH** — 16 fixed random hyperplanes give each vector a
  16-bit sign signature; 4 bands × 4 bits bucket the corpus; a query
  retrieves every vector sharing ≥1 band key and re-scores exactly.
  Same banding trick as MinHash dedup, but in cosine space.

Both return the exact-top-K schema ``(query_id, rank, neighbor_id,
score)``; ``ann_recall`` measures Recall@K against the brute-force
path (reference metric, ``ANNCode.py:651-660``).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import ensure_parallelism, memo
from ..functions.vector import cosine, dist2
from .kmeans import KMEANS_ITERS, kmeans_centroids
from .topk import topk_per_query

#: IVF: one centroid per ``stride`` corpus vectors; probe depth.
IVF_STRIDE = 25
IVF_NPROBE = 3
#: Lloyd iterations for the coarse quantizer. 0 (= the stride-sampled
#: quantizer) is the measured Pareto choice on the isotropic Gaussian
#: fixture: at an equal probe budget (74-75 candidates/query of
#: N=2000, sf0.1) recall@20 declines monotonically with training
#: (0.774 → 0.734 → 0.708 → 0.700 over 0..3 iterations) because
#: k-means minimizes quantization distortion, not cell-recall, and
#: the fixture has no cluster structure to recover. The PQ codebook
#: (operators/pq.py) trains by default — there the distortion
#: objective IS the ADC accuracy objective and recall rises 0.336 →
#: 0.396. See reports/KMEANS_EXPERIMENT.md; clustered corpora should
#: raise this.
IVF_KMEANS_ITERS = 0

#: LSH: fixed hyperplanes (normal deviates, seed 43), rounded to 6
#: decimals so the same literals embed in the DuckDB oracle SQL.
LSH_PLANES_N = 16
LSH_BANDS = 4
LSH_ROWS = 4  # bits per band
_PLANE_SEED = 43

_planes_memo: dict[int, tuple[tuple[float, ...], ...]] = {}


def lsh_planes(dim: int) -> tuple[tuple[float, ...], ...]:
    """The 16 hyperplanes for a given embedding dimensionality.
    Deterministic per ``dim`` (seed 43) so the same literals embed in
    the DuckDB oracle SQL; memoized because plane generation is pure.
    Nothing bakes a fixture dimensionality in — callers derive ``dim``
    from the data via :func:`embedding_dim`."""
    if dim not in _planes_memo:
        rng = np.random.default_rng(_PLANE_SEED)
        _planes_memo[dim] = tuple(
            tuple(round(float(x), 6) for x in row)
            for row in rng.standard_normal((LSH_PLANES_N, dim))
        )
    return _planes_memo[dim]


def embedding_dim(df: DataFrame, vec_col: str = "embedding") -> int:
    """Vector dimensionality derived from the data — ArrayType schemas
    carry no length, so the index layer peeks at ``size(vec_col)`` of
    one row at plan-build time (a limit-1 job: the plan-build analog
    of the loaders' header read, ``sources/loaders.py``). Per-row
    dimension *enforcement* stays in the operators' runtime guards
    (``kmeans``/``pq`` raise on a mismatched row).

    Memoized per (session, DataFrame, column) — the peek is a Spark
    JOB, and a registry run re-derives the dim of the same memoized
    fixture frame dozens of times (every LSH/graph/refine-metrics
    consumer). Released with the other memos by
    ``session.clear_caches``. Callers should pass fixture/prepared
    (session-memoized) frames; per-call derived frames create
    never-hit entries, which the memo's per-kind bound drops oldest
    first instead of retaining every plan a sweep ever peeked
    (r12 ADVICE #4)."""

    def peek() -> int:
        row = df.select(F.size(F.col(vec_col)).alias("d")).limit(1).first()
        if row is None or row["d"] is None or int(row["d"]) <= 0:
            raise ValueError(f"cannot derive embedding dim from column {vec_col!r}")
        return int(row["d"])

    return memo(df.sparkSession, "embedding_dim", (df, vec_col), peek)


def ivf_centroids(
    corpus: DataFrame, stride: int = IVF_STRIDE, iters: int = IVF_KMEANS_ITERS
) -> DataFrame:
    """Coarse quantizer: deterministic k-means seeded by every
    ``stride``-th vector (``operators/kmeans.py`` — stride init, fixed
    Lloyd iterations, exact fixed-point means; the DuckDB oracle
    replays the identical training). The default ``iters`` follows
    the measured fixture Pareto point (see ``IVF_KMEANS_ITERS``);
    ``iters=0`` is exactly the sampled quantizer.

    Memoized per (session, corpus, stride, iters) — every consumer
    (assignment, probes, IVF-PQ) shares one build, exactly as a
    production IVF index is trained once and served many times;
    released by ``session.clear_caches``."""

    def build() -> DataFrame:
        pts = corpus.select(
            F.lit(0).alias("grp"),
            F.col("vec_id").alias("pid"),
            F.col("embedding").alias("pvec"),
        )
        dim = embedding_dim(corpus) if iters > 0 else None
        return kmeans_centroids(pts, stride, iters, dim=dim).select(
            F.col("cid").alias("centroid_id"), F.col("cvec")
        )

    return memo(corpus.sparkSession, "ivf_centroids", (corpus, stride, iters), build)


def ivf_assign(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    """Cell assignment: nearest centroid per corpus vector (squared
    L2, ties → smaller centroid_id). Centroids broadcast; the corpus
    streams once — this is the offline index build, and ``cell`` is
    the storage partition key at scale.

    Memoized + persisted per (session, corpus, centroids) — r12: the
    assignment is the stored cell table of a production index (built
    once, served by every probe), yet 19 call sites were each
    re-running the N-row argmin pass; with the quantizer already
    memoized, every IVF-family consumer now shares one materialized
    assignment. Released by ``session.clear_caches``. Streaming
    ingest keeps its stateless literal-quantizer twin
    (``assign_cells_stateless``) — per-batch frames never enter this
    memo."""
    return memo(
        corpus.sparkSession,
        "ivf_assign",
        (corpus, centroids),
        lambda: _ivf_assign_plan(corpus, centroids).persist(),
    )


def _ivf_assign_plan(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    scored = ensure_parallelism(corpus).crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "embedding",
        "centroid_id",
        dist2("embedding", "cvec").alias("__d2"),
    )
    # argmin as a struct-min aggregate: map-side partial combine
    # shrinks the shuffle to one row per vector (a window sort would
    # move every (vector × centroid) row); tie-break on centroid_id
    # comes free from the struct ordering. first(embedding) is
    # deterministic — constant within each vec_id group.
    return (
        scored.groupBy("vec_id")
        .agg(
            F.min(F.struct("__d2", "centroid_id")).alias("__m"),
            F.first("embedding").alias("embedding"),
        )
        .select("vec_id", "embedding", F.col("__m.centroid_id").alias("cell"))
    )


def ivf_probes(
    queries: DataFrame, centroids: DataFrame, nprobe: int = IVF_NPROBE
) -> DataFrame:
    """(query_id, qvec, cell): the ``nprobe`` nearest cells per query
    (squared L2 to the centroid, ties → smaller centroid_id). The
    probe set is broadcast-sized — q·nprobe rows."""
    probes = queries.crossJoin(F.broadcast(centroids)).select(
        "query_id",
        F.col("embedding").alias("qvec"),
        "centroid_id",
        dist2("embedding", "cvec").alias("__d2"),
    )
    wp = Window.partitionBy("query_id").orderBy(F.col("__d2").asc(), F.col("centroid_id").asc())
    return (
        probes.withColumn("__r", F.row_number().over(wp))
        .where(F.col("__r") <= nprobe)
        .select("query_id", "qvec", F.col("centroid_id").alias("cell"))
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    stride: int = IVF_STRIDE,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """IVF-style ANN top-K (cosine): probe the ``nprobe`` nearest
    cells per query, score exhaustively inside them. At scale the
    ``cell`` equi-join is a partition-pruned scan of ~nprobe/n_cells
    of the corpus — the bandwidth saving that motivates IVF."""
    # the quantizer feeds two broadcasts (assignment + probe scoring);
    # the trained build is memoized + persisted inside ivf_centroids —
    # the always-materialized coarse quantizer of a production index
    cents = ivf_centroids(corpus, stride)
    assigned = ivf_assign(corpus, cents)
    probed = ivf_probes(queries, cents, nprobe)
    cand = F.broadcast(probed).join(assigned, "cell").select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine("qvec", "embedding").alias("score"),
    )
    return topk_per_query(cand, k, ascending=False)


#: candidate budget for adaptive probing — matched to the fixed
#: operating point's AVERAGE work (nprobe=3 × mean cell ≈ 75 at
#: stride 25) so the two strategies are comparable; under cell skew
#: the fixed strategy's worst query scans nprobe×max_cell while the
#: adaptive one stays ≈ budget + one cell.
IVF_ADAPTIVE_BUDGET = 75


def ivf_adaptive_probes(
    queries: DataFrame,
    centroids: DataFrame,
    assigned: DataFrame,
    budget: int = IVF_ADAPTIVE_BUDGET,
) -> DataFrame:
    """(query_id, qvec, cell): the SHORTEST prefix of distance-ranked
    cells whose cumulative population reaches ``budget`` — per-query
    work is bounded by data volume, not cell count. Fixed ``nprobe``
    under a skewed quantizer scans nprobe×max_cell for an unlucky
    query; the budget form caps every query at ≈ budget + one cell
    (the last admitted cell may overshoot), which is the property a
    1000-executor scan wants: uniform per-query cost → no straggler
    tasks. A cell is admitted iff the population BEFORE it is still
    under budget, so every query probes ≥ 1 cell. Both windows are
    per-query over n_cells rows (broadcast-sized), never over data."""
    sizes = assigned.groupBy("cell").agg(F.count("*").alias("__csz"))
    ranked = queries.crossJoin(F.broadcast(centroids)).select(
        "query_id",
        F.col("embedding").alias("qvec"),
        "centroid_id",
        dist2("embedding", "cvec").alias("__d2"),
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("__d2").asc(), F.col("centroid_id").asc()
    )
    ranked = ranked.withColumn("__r", F.row_number().over(wp))
    wcum = (
        Window.partitionBy("query_id")
        .orderBy("__r")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ranked.join(F.broadcast(sizes), ranked.centroid_id == sizes.cell)
        .withColumn("__prev", F.coalesce(F.sum("__csz").over(wcum), F.lit(0)))
        .where(F.col("__prev") < budget)
        .select("query_id", "qvec", "cell")
    )


def ivf_adaptive_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    stride: int = IVF_STRIDE,
    budget: int = IVF_ADAPTIVE_BUDGET,
) -> DataFrame:
    """IVF ANN top-K (cosine) under a per-query CANDIDATE BUDGET
    instead of a fixed probe count (``ivf_adaptive_probes``): probe
    ranked cells until ``budget`` candidates are admitted, score
    exhaustively inside them. Same partition-pruned cell equi-join as
    ``ivf_topk``; the probe set adapts to quantizer skew."""
    cents = ivf_centroids(corpus, stride)
    assigned = ivf_assign(corpus, cents)
    probed = ivf_adaptive_probes(queries, cents, assigned, budget)
    cand = F.broadcast(probed).join(assigned, "cell").select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine("qvec", "embedding").alias("score"),
    )
    return topk_per_query(cand, k, ascending=False)


def _planes_array_sql(dim: int) -> str:
    """The 16×``dim`` hyperplane matrix as one SQL array-of-arrays
    literal. Building this as a string parsed JVM-side replaces ~1k
    py4j ``F.lit`` round trips (~2.8s of driver-side plan construction
    per frame, measured) with a single ``F.expr`` call."""
    rows = ", ".join(
        "array(" + ", ".join(repr(v) + "D" for v in row) + ")"
        for row in lsh_planes(dim)
    )
    return f"array({rows})"


def _lsh_dots_sql(vec_col: str, dim: int) -> str:
    """All 16 hyperplane projections of ``vec_col`` as one array —
    the shared primitive behind signature keys and probe margins."""
    return (
        f"transform({_planes_array_sql(dim)}, p -> "
        f"aggregate(zip_with({vec_col}, p, (x, pp) -> cast(x AS double) * pp), "
        f"cast(0.0 AS double), (acc, v) -> acc + v))"
    )


#: bit j of band b = sign of projection b*ROWS+j (element_at is
#: 1-indexed); keys stay identical to the unrolled form the DuckDB
#: oracle replays.
_LSH_KEY_SQL = " + ".join(
    f"if(element_at(__dots, band * {LSH_ROWS} + {j + 1}) >= 0, {1 << j}, 0)"
    for j in range(LSH_ROWS)
)


def _lsh_banded_dots(df: DataFrame, vec_col: str, id_alias: str, dim: int) -> DataFrame:
    """(id, vec, band, bkey, __dots): per-band signature keys with the
    raw projections retained (multi-probe needs the margins)."""
    return (
        df.select(
            F.col(id_alias).alias("id"),
            F.col(vec_col).alias("vec"),
            F.expr(_lsh_dots_sql(vec_col, dim)).alias("__dots"),
        )
        .select(
            "id",
            "vec",
            F.explode(F.sequence(F.lit(0), F.lit(LSH_BANDS - 1))).alias("band"),
            "__dots",
        )
        .select("id", "vec", "band", F.expr(_LSH_KEY_SQL).alias("bkey"), "__dots")
    )


def lsh_signature_bands(
    df: DataFrame, vec_col: str, id_alias: str, dim: int | None = None
) -> DataFrame:
    """(id, band, bkey): sign-of-projection bits against the fixed
    hyperplanes, packed per band into an integer key. Pure Column
    expressions — one corpus pass, no Python in the data path, and
    one ``F.expr`` on the driver (the fold is written once and looped
    JVM-side instead of unrolled 16× through py4j). ``dim`` defaults
    to the data's own dimensionality (:func:`embedding_dim`); pass it
    explicitly to skip the peek when the caller already knows it."""
    if dim is None:
        dim = embedding_dim(df, vec_col)
    return _lsh_banded_dots(df, vec_col, id_alias, dim).drop("__dots")


def lsh_corpus_bands(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_alias: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Memoized + persisted corpus-side :func:`lsh_signature_bands` —
    the stored LSH bucket table of a production deployment (written
    once, probed by every query). r12: ten registered LSH queries
    (plain/multiprobe × topk/recall/cushion/ranking) each re-ran the
    16-projection corpus pass; they now share one materialized band
    frame per (session, corpus, column, dim). The query-side band
    frames stay un-memoized — they are q-row cheap and their source
    frames are rebuilt per call. Released by ``session.clear_caches``."""
    if dim is None:
        dim = embedding_dim(corpus, vec_col)
    return memo(
        corpus.sparkSession,
        "lsh_corpus_bands",
        (corpus, vec_col, id_alias, dim),
        lambda: lsh_signature_bands(corpus, vec_col, id_alias, dim=dim).persist(),
    )


#: extra buckets probed per band (flipped lowest-margin bits) —
#: multi-probe LSH (Lv et al., VLDB 2007). T=2 probes 3 buckets/band.
LSH_MULTIPROBE_T = 2


def lsh_multiprobe_bands(
    df: DataFrame,
    vec_col: str,
    id_alias: str,
    t: int = LSH_MULTIPROBE_T,
    dim: int | None = None,
) -> DataFrame:
    """(id, vec, band, bkey): the query-side probe set — each band's
    own bucket plus the ``t`` neighboring buckets reached by flipping
    the lowest-|margin| signature bits (the bits most likely to have
    landed on the wrong side of their hyperplane for a true neighbor).
    The standard recall lever that costs NO extra stored tables: the
    corpus keeps exactly one bucket per band; only the probe fan-out
    grows, from 1 to t+1 buckets per band.

    The margin rank is a row_number window over (id, band) — Q·bands
    partitions, never a global sort; ties on |dot| break on bit index
    so both engines rank identically (the dots themselves are the
    bit-exact strict folds the signatures already use)."""
    from pyspark.sql import Window

    if dim is None:
        dim = embedding_dim(df, vec_col)
    base = _lsh_banded_dots(df, vec_col, id_alias, dim)
    bits = base.select(
        "id",
        "vec",
        "band",
        "bkey",
        F.explode(F.sequence(F.lit(0), F.lit(LSH_ROWS - 1))).alias("j"),
        "__dots",
    ).select(
        "id",
        "vec",
        "band",
        "bkey",
        "j",
        F.expr(f"element_at(__dots, band * {LSH_ROWS} + j + 1)").alias("dot"),
    )
    w = Window.partitionBy("id", "band").orderBy(
        F.abs(F.col("dot")).asc(), F.col("j").asc()
    )
    flips = (
        bits.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= t)
        .select("id", "vec", "band", F.expr("bkey ^ shiftleft(1, j)").alias("bkey"))
    )
    return base.select("id", "vec", "band", "bkey").unionByName(flips)


def lsh_multiprobe_topk(
    queries: DataFrame, corpus: DataFrame, k: int, t: int = LSH_MULTIPROBE_T
) -> DataFrame:
    """Multi-probe LSH top-K (cosine): same stored signatures as
    ``lsh_topk``, (t+1)× the probe keys on the query side. Candidates
    remain a band/bucket equi-join — never all-pairs — and the extra
    probes only widen the small side of the shuffle."""
    dim = embedding_dim(corpus)
    qb = lsh_multiprobe_bands(queries, "embedding", "query_id", t=t, dim=dim)
    cb = lsh_corpus_bands(corpus, dim=dim)
    cand_ids = (
        qb.alias("q")
        .join(cb.alias("c"), ["band", "bkey"])
        .select(F.col("q.id").alias("query_id"), F.col("c.id").alias("neighbor_id"))
        .distinct()
    )
    qv = F.broadcast(queries.select("query_id", F.col("embedding").alias("qvec")))
    cv = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")
    )
    cand = (
        cand_ids.join(qv, "query_id")
        .join(cv, "neighbor_id")
        .select("query_id", "neighbor_id", cosine("qvec", "cvec").alias("score"))
    )
    return topk_per_query(cand, k, ascending=False)


def lsh_topk(queries: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """LSH-bucketed ANN top-K (cosine): candidates = corpus vectors
    sharing ≥1 of 4 signature bands with the query, re-scored exactly.
    The band equi-join shuffles on (band, bkey) — 2⁴ buckets per band
    — instead of the q×N cross product; recall is governed by the
    band/row trade-off exactly as in MinHash LSH."""
    dim = embedding_dim(corpus)
    qb = lsh_signature_bands(queries, "embedding", "query_id", dim=dim)
    cb = lsh_corpus_bands(corpus, dim=dim)
    # dedupe on the id pair only — running distinct over rows that
    # carry both embedding arrays shuffles ~16× more bytes for the
    # same result; vectors re-attach after the pair set is small
    cand_ids = (
        qb.alias("q")
        .join(cb.alias("c"), ["band", "bkey"])
        .select(F.col("q.id").alias("query_id"), F.col("c.id").alias("neighbor_id"))
        .distinct()
    )
    qv = F.broadcast(queries.select("query_id", F.col("embedding").alias("qvec")))
    cv = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec"))
    cand = (
        cand_ids.join(qv, "query_id")
        .join(cv, "neighbor_id")
        .select("query_id", "neighbor_id", cosine("qvec", "cvec").alias("score"))
    )
    return topk_per_query(cand, k, ascending=False)


def knn_graph(corpus: DataFrame, k: int) -> DataFrame:
    """(node_id, rank, neighbor_id, score): approximate KNN graph —
    per-node top-``k`` cosine neighbors among hyperplane-LSH banded
    candidates, self excluded. The graph-construction shape behind
    graph ANN indexes and clustering at 100 TB: the band self-join
    replaces the N² pair space with bucket-local candidates, the pair
    set is deduped on bare ids (vectors re-attach afterwards via
    shuffle joins — at N = corpus size there is no broadcastable
    side), and the per-node rank is ``topk_per_query``."""
    # both self-join sides read the band frame: the memoized persisted
    # corpus band table (one build per session — shared with every LSH
    # serve query) keeps the 16 hyperplane projections to one pass
    cb = lsh_corpus_bands(corpus)
    cand_ids = (
        cb.alias("a")
        .join(cb.alias("b"), ["band", "bkey"])
        .where(F.col("a.id") != F.col("b.id"))
        .select(F.col("a.id").alias("query_id"), F.col("b.id").alias("neighbor_id"))
        .distinct()
    )
    sv = corpus.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    dv = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec"))
    scored = (
        cand_ids.join(sv, "query_id")
        .join(dv, "neighbor_id")
        .select("query_id", "neighbor_id", cosine("qvec", "cvec").alias("score"))
    )
    out = topk_per_query(scored, k, ascending=False)
    return out.select(
        F.col("query_id").alias("node_id"), "rank", "neighbor_id", "score"
    )


def knn_graph_exact(corpus: DataFrame, k: int) -> DataFrame:
    """Brute-force KNN graph (cosine, self excluded) — the ground
    truth `knn_graph` is measured against, exactly as `exact_topk` is
    the ground truth for the query-set ANN families. The corpus plays
    its own query side (broadcast — ground-truth tooling, same
    declared role as the other exact baselines)."""
    q = F.broadcast(
        corpus.select(F.col("vec_id").alias("node_id"), F.col("embedding").alias("qvec"))
    )
    c = ensure_parallelism(
        corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec"))
    )
    scored = (
        c.crossJoin(q)
        .where(F.col("node_id") != F.col("neighbor_id"))
        .select(
            F.col("node_id").alias("query_id"),
            "neighbor_id",
            cosine("qvec", "cvec").alias("score"),
        )
    )
    out = topk_per_query(scored, k, ascending=False)
    return out.select(F.col("query_id").alias("node_id"), "rank", "neighbor_id", "score")


def ann_recall_from_groundtruth(ann: DataFrame, gt: DataFrame, k: int) -> DataFrame:
    """Recall@K against an external ground-truth table ``(query_id,
    neighbor_ids array)`` — the shape ``sources.loaders.load_ivecs``
    produces from benchmark ``.ivecs`` files. Explodes the lists to
    the pair form and reuses ``ann_recall``; neighbor ids cast to the
    ANN side's LONG."""
    pairs = gt.select(
        "query_id",
        F.explode(F.slice("neighbor_ids", 1, k)).alias("neighbor_id"),
    ).select("query_id", F.col("neighbor_id").cast("long").alias("neighbor_id"))
    return ann_recall(ann, pairs, k)


def ann_recall(ann: DataFrame, exact: DataFrame, k: int) -> DataFrame:
    """Recall@K of an ANN result against the exact top-K (reference
    metric shape, ``ANNCode.py:651-660``): per-query overlap / K,
    averaged. Inner join on (query_id, neighbor_id) — no collect."""
    # `exact` is a full top-K pipeline consumed twice (hit join +
    # query universe); persist its q×k rows rather than run it twice
    exact = exact.persist()
    hits = ann.select("query_id", "neighbor_id").join(
        exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    )
    per_q = (
        exact.select("query_id")
        .distinct()
        .join(hits.groupBy("query_id").agg(F.count("*").alias("n_hit")), "query_id", "left")
        .select("query_id", (F.coalesce("n_hit", F.lit(0)) / F.lit(k)).alias("recall"))
    )
    return per_q.agg(F.round(F.avg("recall"), 6).alias("recall_at_k"), F.count("*").alias("n_queries"))


#: graph beam search: entry seeds every ``BEAM_ENTRY_STRIDE``-th
#: vector (same deterministic stride idiom as the k-means init), beam
#: width per query per round, fixed round budget (the SQL twin
#: unrolls the rounds, exactly like the k-means / label-propagation
#: replays).
#:
#: Operating point swept at sf0.1 (tools/sweep_graph_beam.py,
#: reports/sweep_graph_beam.csv): degree is the dominant recall lever
#: on the isotropic fixture (0.609 → 0.711 for 8 → 16 at fixed
#: beam/rounds); halving the entry seeds (stride 25 → 50) pays for a
#: fourth round inside the same visited budget. The registered point
#: (degree 16, beam 8, 4 rounds, stride 50) measures recall@20
#: 0.7125 at 306 visited/query — vs r04's 0.609 at 214 — within the
#: 1.5× visited-budget bar the r04 verdict set.
BEAM_ENTRY_STRIDE = 50
BEAM_WIDTH = 8
BEAM_ROUNDS = 4
#: degree of the symmetrized search graph (ONE constant shared by the
#: walk operators, the registry, and every oracle twin — the Spark
#: walk and the SQL replay must never disagree on it)
GRAPH_DEGREE = 16


def symmetric_knn_edges(
    corpus: DataFrame, graph_k: int, cache_key: str | None = None
) -> DataFrame:
    """Symmetrized (src, dst) edge set of the banded KNN graph — the
    offline graph-index artifact. Memoized + persisted per (session,
    corpus, graph_k): every search query over the same corpus shares
    one build, exactly as the IVF centroids and PQ codebook are
    trained once and served many times; released by
    ``session.clear_caches``. The memo key is the corpus DataFrame
    itself; ``cache_key`` lets callers key by a stable name instead."""

    def build() -> DataFrame:
        g = knn_graph(corpus, graph_k)
        return (
            g.select(
                F.col("node_id").alias("src"), F.col("neighbor_id").alias("dst")
            )
            .unionByName(
                g.select(
                    F.col("neighbor_id").alias("src"), F.col("node_id").alias("dst")
                )
            )
            .distinct()
            .persist()
        )

    key = (cache_key if cache_key is not None else corpus, graph_k)
    return memo(corpus.sparkSession, "knn_graph_edges", key, build)


#: centroid-seeded beam entries (HNSW's hierarchical-entry lever,
#: r07 verdict #4): the query's BEAM_ENTRY_CELLS nearest IVF cells ×
#: BEAM_ENTRY_PER_CELL central members each — 12 geometry-aware
#: entries/query instead of N/stride blind stride seeds. Reuses the
#: already-trained coarse quantizer; zero new structures.
BEAM_ENTRY_CELLS = IVF_NPROBE
BEAM_ENTRY_PER_CELL = 4


def cell_medoids(
    corpus: DataFrame, per_cell: int = BEAM_ENTRY_PER_CELL
) -> DataFrame:
    """(cell, vec_id, cvec): the ``per_cell`` members of each IVF cell
    nearest their centroid (squared L2, ties → smaller vec_id) — the
    cells' natural entry representatives. An offline index artifact
    like the centroids themselves: built once per session, broadcast-
    sized (n_cells · per_cell rows). The rank window partitions by
    cell — n_cells hash partitions, never a global sort."""

    def build() -> DataFrame:
        cents = ivf_centroids(corpus)
        assigned = ivf_assign(corpus, cents)
        scored = assigned.join(
            F.broadcast(cents), assigned.cell == cents.centroid_id
        ).select("cell", "vec_id", "embedding", dist2("embedding", "cvec").alias("__d2"))
        w = Window.partitionBy("cell").orderBy(
            F.col("__d2").asc(), F.col("vec_id").asc()
        )
        return (
            scored.withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") <= per_cell)
            .select("cell", "vec_id", F.col("embedding").alias("cvec"))
        )

    return memo(corpus.sparkSession, "cell_medoids", (corpus, per_cell), build)


def centroid_seeded_entries(
    queries: DataFrame,
    corpus: DataFrame,
    n_cells: int = BEAM_ENTRY_CELLS,
    per_cell: int = BEAM_ENTRY_PER_CELL,
) -> DataFrame:
    """(query_id, vec_id, score): beam entry points seeded from the
    query's nearest IVF cells' medoids, scored exactly — each query
    starts its walk from n_cells·per_cell graph nodes already near it,
    instead of scoring N/stride arbitrary stride seeds."""
    cents = ivf_centroids(corpus)
    probed = ivf_probes(queries, cents, n_cells)
    med = cell_medoids(corpus, per_cell)
    return (
        F.broadcast(probed)
        .join(med, "cell")
        .select("query_id", "vec_id", cosine("qvec", "cvec").alias("score"))
    )


def walk_reachability(
    entries: DataFrame,
    edges: DataFrame,
    rounds: int = BEAM_ROUNDS,
) -> DataFrame:
    """(node): every node within ``rounds`` hops of ``entries`` (one
    ``node`` column) over the directed ``(src, dst)`` edge frame —
    the hard ceiling on what ANY beam walk with this entry set and
    round budget can ever visit, regardless of beam width. BFS =
    ``rounds`` unrolled rounds of (visited ⋈ edges) ∪ visited, joins
    and distincts only (the CC/label-propagation idiom); each round's
    frame is bounded by the graph's node set and checkpointed against
    lineage doubling.

    The repair lever when coverage < 1 is the ENTRY SET, not the
    walk: a component none of whose nodes hits the stride predicate
    is invisible to every query at any beam width, and densifying or
    offsetting the stride (or adding per-cell medoid entries,
    :func:`centroid_seeded_entries`) restores coverage without
    touching the stored graph — property-tested with a planted
    disconnected component in ``tests/test_simsearch.py``."""
    # lazy checkpoints: the plan is truncated at the call exactly as
    # with eager=True, but only the RESULT-STAGE materialization job
    # is deferred to the final action (under AQE the shuffle query
    # stages below the checkpoint still execute at call time — r12
    # ADVICE #2). The measured win stands: the eager form paid an
    # extra ~0.3-1s result-stage job per round.
    visited = entries.select("node").localCheckpoint(eager=False)
    for _ in range(rounds):
        nxt = (
            visited.join(edges, visited["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
        )
        visited = (
            visited.unionByName(nxt).distinct().localCheckpoint(eager=False)
        )
    return visited


def graph_centroid_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    graph_k: int = GRAPH_DEGREE,
    beam: int = BEAM_WIDTH,
    rounds: int = BEAM_ROUNDS,
) -> DataFrame:
    """Beam search with centroid-seeded entries — same graph, same
    walk, geometry-aware starting set (see ``centroid_seeded_entries``).
    Visited/query drops to entries + expansions only."""
    edges = symmetric_knn_edges(corpus, graph_k)
    entries = centroid_seeded_entries(queries, corpus)
    cand = beam_candidates(
        queries, corpus, edges, beam, rounds, entries=entries
    )
    return topk_per_query(
        cand.select("query_id", F.col("vec_id").alias("neighbor_id"), "score"),
        k,
        ascending=False,
    )


def graph_beam_search(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    graph_k: int = GRAPH_DEGREE,
    beam: int = BEAM_WIDTH,
    rounds: int = BEAM_ROUNDS,
    entry_stride: int = BEAM_ENTRY_STRIDE,
) -> DataFrame:
    """Graph-based ANN (the NSW/HNSW-family search shape, declarative):
    walk the approximate KNN graph from fixed entry points, expanding
    the current best ``beam`` candidates' neighbors each round and
    re-scoring exactly, for ``rounds`` rounds; final answer = exact
    top-``k`` of everything visited.

    Spark realization — no iteration state, no driver loop over rows:

    * graph = ``knn_graph`` (banded construction), symmetrized —
      undirected expansion doubles reach at no extra scoring cost;
      built once and persisted (an offline index artifact at scale,
      like the IVF cells and PQ codes).
    * entry points = every ``entry_stride``-th vector, scored exactly
      (the deterministic seed idiom the quantizers use — no RNG).
    * each round: top-``beam`` of the candidate set (row_number,
      ties → smaller vec_id) ⋈ edges → new ids → re-attach vectors →
      exact cosine. The per-round frontier is q·beam rows and the
      expansion q·beam·2·graph_k — broadcast-sized; the only
      corpus-sized shuffle is the id→vector re-attach join.
    * the candidate set is deduped on (query_id, vec_id): scores for
      the same pair are bit-identical across rounds (same fold over
      the same floats), so DISTINCT is exact; per-round
      localCheckpoint cuts the lineage like the label-propagation
      loop.

    Recall depends on graph quality (see ``ann_knn_graph_recall``);
    the refinement stage downstream is unchanged — this is another
    candidate generator feeding the same precision-on-demand pipeline
    (``ANNCode.py:560-575`` shape).
    """
    edges = symmetric_knn_edges(corpus, graph_k)
    cand = beam_candidates(queries, corpus, edges, beam, rounds, entry_stride)
    out = topk_per_query(
        cand.select("query_id", F.col("vec_id").alias("neighbor_id"), "score"),
        k,
        ascending=False,
    )
    return out


def graph_topk_from_index(
    queries: DataFrame,
    corpus: DataFrame,
    edges: DataFrame,
    k: int,
    beam: int = BEAM_WIDTH,
    rounds: int = BEAM_ROUNDS,
    entry_stride: int = BEAM_ENTRY_STRIDE,
) -> DataFrame:
    """Beam-search top-K served from a STORED edge table
    (``sources/layout.write_graph_index`` / ``read_graph_index``) —
    the online half of the offline-build/online-serve split: the
    banded graph construction (the dominant cost of
    ``graph_beam_search``) never appears in this plan; the scan side
    is two thin id columns. Result is identical to
    ``graph_beam_search`` over the corpus the index was built from."""
    cand = beam_candidates(queries, corpus, edges, beam, rounds, entry_stride)
    return topk_per_query(
        cand.select("query_id", F.col("vec_id").alias("neighbor_id"), "score"),
        k,
        ascending=False,
    )


def beam_candidates(
    queries: DataFrame,
    corpus: DataFrame,
    edges: DataFrame,
    beam: int = BEAM_WIDTH,
    rounds: int = BEAM_ROUNDS,
    entry_stride: int = BEAM_ENTRY_STRIDE,
    entries: DataFrame | None = None,
    vec: str = "embedding",
    score: Callable[[str, str], Column] = cosine,
) -> DataFrame:
    """The visited set ``(query_id, vec_id, score)`` of the beam walk
    over an explicit ``(src, dst)`` edge frame — the serve-path core:
    the edge set can come from :func:`symmetric_knn_edges` (in-session
    build) or a stored index table (``sources/layout.read_graph_index``),
    and the walk itself never touches how the graph was built.
    ``entries`` overrides the stride seeds with an explicit scored
    entry frame (query_id, vec_id, score) —
    :func:`centroid_seeded_entries` is the trained variant.

    The walk ranks ``score(query.vec, corpus.vec)``: exact cosine over
    ``embedding`` by default; the cushioned graph sources
    (``refine.CANDIDATE_SOURCES``) walk the reduced page instead —
    ``dot`` over ``redv`` against the unit query."""
    qv = F.broadcast(queries.select("query_id", F.col(vec).alias("qvec")))
    # lazy checkpoints throughout the walk (see walk_reachability):
    # identical plan truncation; only the result-stage job is
    # deferred (AQE still runs the shuffle stages at call time).
    if entries is not None:
        cand = entries.localCheckpoint(eager=False)
    else:
        seeds = corpus.where(F.col("vec_id") % entry_stride == 0).select(
            "vec_id", F.col(vec).alias("cvec")
        )
        cand = (
            qv.crossJoin(F.broadcast(seeds))
            .select("query_id", "vec_id", score("qvec", "cvec").alias("score"))
        ).localCheckpoint(eager=False)
    cv = corpus.select("vec_id", F.col(vec).alias("cvec"))
    for _ in range(rounds):
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("vec_id").asc()
        )
        frontier = (
            cand.withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") <= beam)
            .select("query_id", "vec_id")
        )
        new_ids = (
            frontier.join(edges, frontier.vec_id == edges.src)
            .select("query_id", F.col("dst").alias("vec_id"))
            .distinct()
        )
        scored = (
            new_ids.join(cv, "vec_id")
            .join(qv, "query_id")
            .select("query_id", "vec_id", score("qvec", "cvec").alias("score"))
        )
        # dedup on the id pair alone (max(score) — scores for a pair
        # are bit-identical across rounds, so max is the value
        # itself). A distinct() over the float column would rely on
        # that bit-identity forever (round-4 advisor note).
        cand = (
            cand.unionByName(scored)
            .groupBy("query_id", "vec_id")
            .agg(F.max("score").alias("score"))
            .localCheckpoint(eager=False)
        )
    return cand


def assign_cells_stateless(
    df: DataFrame,
    centroid_rows: list,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *keep_cols, cell): nearest-centroid assignment as a PURE PROJECTION —
    the quantizer rides along as a literal array (it is broadcast-
    sized by construction: N/stride rows), so the plan has no join,
    no aggregation, and NO STATE. That makes it legal in a streaming
    append-mode micro-batch as-is — the continuous index-maintenance
    path: new vectors stream in, each is routed to its cell and
    appended to the cell-partitioned store
    (``sources/layout.write_cell_partitioned`` is the batch twin).

    Tie-break matches ``ivf_assign``: centroids fold in ascending cid
    order with strict less-than, so equal distances keep the smaller
    cid. The fold body is the same strict left-to-right ``dist2``
    shape every oracle replays.

    ``centroid_rows``: [(cid, [float, ...]), ...] — the collected
    quantizer (the one legitimate driver-side artifact, exactly like
    the LSH plane literals)."""
    cents = sorted((int(c), list(map(float, v))) for c, v in centroid_rows)
    lits = ", ".join(
        "named_struct('cid', CAST(%d AS BIGINT), 'cvec', array(%s))"
        % (cid, ", ".join(repr(x) + "D" for x in vec))
        for cid, vec in cents
    )
    d2 = (
        f"aggregate(zip_with({vec_col}, c.cvec, (x, y) -> "
        f"CAST(x AS DOUBLE) - CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), "
        f"(acc, v) -> acc + v * v)"
    )
    assign = (
        f"aggregate(array({lits}), "
        f"named_struct('d', CAST('Infinity' AS DOUBLE), 'cid', CAST(-1 AS BIGINT)), "
        f"(acc, c) -> IF({d2} < acc.d, named_struct('d', {d2}, 'cid', c.cid), acc)"
        f").cid"
    )
    return df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in keep_cols],
        F.expr(assign).alias("cell"),
    )


def graph_delta_edges(
    delta: DataFrame,
    corpus: DataFrame,
    edges: DataFrame,
    graph_k: int = GRAPH_DEGREE,
    beam: int = BEAM_WIDTH,
    rounds: int = BEAM_ROUNDS,
    entry_stride: int = BEAM_ENTRY_STRIDE,
) -> DataFrame:
    """Incremental graph-index maintenance (the NSW/HNSW insert,
    Malkov & Yashunin 2016 §4 — public method): each incoming vector
    beam-searches the EXISTING graph for its ``graph_k`` nearest
    resident nodes and links to them symmetrically. The index never
    rebuilds — the walk is the same ``beam_candidates`` serve-path
    core, so insertion cost per vector equals one query, and the
    emitted ``(src, dst)`` rows simply append to the stored edge
    table (``sources/layout.write_graph_index`` shape).

    Self-links are excluded: an upsert reuses its id, and the new
    edges must point at OTHER residents, not the node's own stale
    version."""
    q = delta.select(F.col("vec_id").alias("query_id"), "embedding")
    cand = beam_candidates(q, corpus, edges, beam, rounds, entry_stride)
    cand = cand.where(F.col("vec_id") != F.col("query_id"))
    nn = topk_per_query(
        cand.select("query_id", F.col("vec_id").alias("neighbor_id"), "score"),
        graph_k,
        ascending=False,
    ).select("query_id", "neighbor_id")
    fwd = nn.select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    bwd = nn.select(
        F.col("neighbor_id").alias("src"), F.col("query_id").alias("dst")
    )
    return fwd.unionByName(bwd).distinct()
