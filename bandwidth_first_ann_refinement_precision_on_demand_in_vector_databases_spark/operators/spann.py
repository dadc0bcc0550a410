"""SPANN-style memory–disk partitioned ANN: closure multi-assignment
postings + query-aware dynamic probe pruning (Chen et al., "SPANN:
Highly-efficient Billion-scale Approximate Nearest Neighbor Search",
NeurIPS 2021 — public method).

The reference engine (ANNCode.py) refines a given candidate set; its
candidate generators are the IVF/LSH/graph families already in
``operators/simsearch.py``. SPANN is the remaining major public
partitioned-index family: instead of assigning every vector to exactly
one cell and compensating at query time with a large ``nprobe``, it

1. **replicates boundary vectors** into every cell whose centroid is
   within ``(1+eps)`` of the nearest one (closure assignment, paper
   §4.2), capped at ``max_replicas`` postings per vector, and
2. **prunes probes query-awarely** (paper §4.3): a query searches only
   cells whose centroid distance is within ``(1+qeps)`` of its nearest
   centroid, capped at ``nprobe_max`` — most queries touch ONE cell,
   boundary queries a couple.

Bandwidth framing (the repo's theme): replication moves the boundary
cost from the READ path (every query re-scans nprobe cells forever) to
the WRITE path (each boundary vector is stored ~avg_replicas times,
once). For read-heavy serving that trade wins; ``tools/sweep_spann.py``
measures it against plain IVF on the same fixtures.

Scale shape — the part worth copying: closure assignment is a PURE MAP
pass. The trained quantizer (broadcast-sized by construction, N/stride
centroids) is folded into a single one-row array column via a broadcast
nested-loop join, and each corpus row computes its distance profile,
threshold, and posting set with JVM higher-order functions — no
shuffle, no N×C intermediate, no window over the corpus. ``ivf_assign``
by contrast pays one N-row shuffle for its argmin; here even that is
gone, and the posting store lands cell-partitioned for partition-pruned
probes (``sources/layout.write_cell_partitioned`` is the storage twin).
At 100 TB the assignment is embarrassingly parallel and the per-query
scan cost is ~avg_posting·probes rows, with probes ≈ 1 for interior
queries.

DuckDB twins replay the same quantizer (kmeans_sql_ctes), the same
closure filter (min-over-partition window + ``d2 <= dmin * factor``)
and the same probe rule, so ``ann_spann_topk`` / ``ann_spann_recall`` /
``spann_posting_stats`` are hash-exact, not statistically close.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vector import cosine, dist2
from ..session import ensure_parallelism, memo
from .simsearch import IVF_STRIDE, ivf_centroids
from .topk import topk_per_query

#: closure-assignment slack: a vector is posted to every cell whose
#: centroid L2 distance is within (1+eps) of its nearest centroid's
#: (squared form: d2 <= (1+eps)^2 * d2_min). The operating point is
#: the measured fixture Pareto knee (tools/sweep_spann.py,
#: reports/SPANN.md): at the same scanned-row budget as IVF nprobe=2
#: it lifts recall 0.79 → 0.925, and beats IVF nprobe=3 with ~28%
#: fewer scanned rows, for 1.94× posting storage.
SPANN_EPS = 0.15
#: hard cap on postings per vector — bounds index size at ≤ cap×N
#: rows no matter how degenerate a local centroid neighborhood is.
SPANN_MAX_REPLICAS = 2
#: query-side dynamic-pruning slack (paper §4.3): probe cells within
#: (1+qeps) of the nearest centroid distance …
SPANN_QEPS = 0.15
#: … capped at this many probes per query.
SPANN_NPROBE_MAX = 2


def _factor2(eps: float) -> float:
    """(1+eps)^2 — the squared-distance closure factor. Computed once
    in Python and inlined as the SAME double literal on the Spark and
    DuckDB sides, so the boundary comparison is bit-identical."""
    return float((1.0 + eps) * (1.0 + eps))


def closure_cells(
    df: DataFrame,
    cents: DataFrame,
    eps: float,
    max_assign: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_col, vec_col, cell) with one row per (vector, assigned
    cell): every cell whose centroid d² is within ``(1+eps)²`` of the
    vector's nearest centroid d², closest-first, capped at
    ``max_assign``. The nearest cell is always included (its d² equals
    the min), so ``eps=0, max_assign=1`` degenerates to exactly
    ``ivf_assign``'s cell choice — tie-break included, because the
    struct sort orders by (d2, cid).

    Map-only plan: the centroid frame collapses to a one-row array
    (scalar aggregate), rides a broadcast nested-loop join onto every
    row, and the per-row profile/threshold/selection run as JVM
    higher-order functions inside whole-stage codegen. Serves both
    sides of the index: corpus → postings, queries → probes."""
    carr = cents.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("centroid_id"), F.col("cvec")))
        ).alias("__cents")
    )
    scored = (
        ensure_parallelism(df)
        .crossJoin(F.broadcast(carr))
        .withColumn(
            "__sc",
            F.transform(
                F.col("__cents"),
                lambda c: F.struct(
                    dist2(F.col(vec_col), c["cvec"]).alias("d2"),
                    c["centroid_id"].alias("cid"),
                ),
            ),
        )
        .withColumn(
            "__thresh",
            F.array_min(F.col("__sc"))["d2"] * F.lit(_factor2(eps)),
        )
        .withColumn(
            "__sel",
            F.slice(
                F.array_sort(
                    F.filter(
                        F.col("__sc"), lambda s: s["d2"] <= F.col("__thresh")
                    )
                ),
                1,
                max_assign,
            ),
        )
    )
    return scored.select(
        F.col(id_col), F.col(vec_col), F.explode("__sel").alias("__s")
    ).select(F.col(id_col), F.col(vec_col), F.col("__s.cid").alias("cell"))


def spann_postings(
    corpus: DataFrame,
    cents: DataFrame,
    eps: float = SPANN_EPS,
    max_replicas: int = SPANN_MAX_REPLICAS,
) -> DataFrame:
    """(vec_id, embedding, cell) posting rows with boundary
    replication — the offline index build. ``cell`` is the storage
    partition key; total rows ≤ max_replicas·N.

    Memoized + persisted per (session, corpus, quantizer, eps, cap)
    exactly like ``ivf_centroids`` / ``symmetric_knn_edges``: the
    posting table is THE index artifact, built once and consumed by
    every serve/recall/stats query over the same corpus (r12: the
    stats row alone aggregated it three times, and each topk/recall
    call re-ran the closure pass). Released by
    ``session.clear_caches``."""
    return memo(
        corpus.sparkSession,
        "spann_postings",
        (corpus, cents, eps, max_replicas),
        lambda: closure_cells(corpus, cents, eps, max_replicas).persist(),
    )


def spann_probes(
    queries: DataFrame,
    cents: DataFrame,
    qeps: float = SPANN_QEPS,
    nprobe_max: int = SPANN_NPROBE_MAX,
) -> DataFrame:
    """(query_id, qvec, cell): query-aware dynamic pruning — the
    probe set shrinks to 1 cell for interior queries and widens only
    near boundaries, instead of a fixed nprobe for everyone."""
    return closure_cells(
        queries, cents, qeps, nprobe_max, id_col="query_id"
    ).select("query_id", F.col("embedding").alias("qvec"), "cell")


def spann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    stride: int = IVF_STRIDE,
    eps: float = SPANN_EPS,
    qeps: float = SPANN_QEPS,
    max_replicas: int = SPANN_MAX_REPLICAS,
    nprobe_max: int = SPANN_NPROBE_MAX,
) -> DataFrame:
    """SPANN ANN top-K (cosine): probe the dynamically pruned cell
    set, score exhaustively inside the replicated postings. A vector
    reached through two replicated postings scores bit-identically in
    both, so the dedup is a (query_id, neighbor_id) groupBy-max — the
    ``beam_candidates`` discipline, never a distinct over the float.

    Shares the memoized coarse quantizer with the whole IVF family
    (one training per session, as one production index serves many
    query shapes)."""
    cents = ivf_centroids(corpus, stride)
    posted = spann_postings(corpus, cents, eps, max_replicas)
    probes = spann_probes(queries, cents, qeps, nprobe_max)
    cand = (
        F.broadcast(probes)
        .join(posted, "cell")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine("qvec", "embedding").alias("score"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("score").alias("score"))
    )
    return topk_per_query(cand, k, ascending=False)


def closure_cells_stateless(
    df: DataFrame,
    centroid_rows: list,
    eps: float = SPANN_EPS,
    max_assign: int = SPANN_MAX_REPLICAS,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Streaming twin of :func:`closure_cells` — the SPANN ingest
    router. The quantizer rides along as a SQL literal (the
    ``simsearch.assign_cells_stateless`` idiom) and the posting set is
    computed by a pure projection + generator chain: no join, no
    aggregation, NO STATE — legal in a streaming append-mode
    micro-batch as-is.

    Emits one ``(id, *keep_cols, cell)`` row per posting: closure
    cells (d² within ``(1+eps)²`` of the nearest, closest-first,
    capped at ``max_assign``) for rows with a vector, and the sentinel
    ``cell = -1`` for NULL-vector rows (CDC delete tombstones, which
    have no embedding to route): a delete must mask EVERY replica of
    its id, so replicating it into guessed cells would be wrong — the
    serve path's last-wins view reads the tombstone set wholesale and
    broadcasts it (``streaming/ingest.serve_fresh_topk``), and parking
    tombstones in one sentinel partition keeps that read cheap.

    The closure factor is the same Python double literal the batch
    operator folds in, so a row routed here and a row routed by
    ``closure_cells`` land in identical cells — the batch≡stream
    property the tests prove."""
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
    scored = f"transform(array({lits}), c -> named_struct('d2', {d2}, 'cid', c.cid))"
    keep = [F.col(c) for c in keep_cols]
    return (
        df.select(
            F.col(id_col).alias("id"), *keep, F.expr(scored).alias("__sc")
        )
        .select(
            "id",
            *keep,
            F.expr(
                f"slice(array_sort(filter(__sc, s -> s.d2 <= "
                f"array_min(__sc).d2 * {_factor2(eps)!r}D)), 1, {int(max_assign)})"
            ).alias("__sel"),
        )
        .select("id", *keep, F.explode_outer("__sel").alias("__s"))
        .select(
            "id",
            *keep,
            F.coalesce(F.col("__s.cid"), F.lit(-1).cast("long")).alias("cell"),
        )
    )
