"""Deterministic DataFrame-native Lloyd's k-means — the trained
quantizer behind the IVF coarse cells (``simsearch.ivf_centroids``)
and the PQ codebook (``pq.pq_codebook``). The reference is
refinement-only (README.md:11 "orthogonal to index choice"); this
supplies the index-training side a production ANN deployment needs
without leaving Spark.

Design constraints, in order:

* **Bit-exact replay in DuckDB.** The driver's correctness gate
  hash-compares against a SQL twin, so training must be exactly
  reproducible across engines. Each piece uses an idiom already
  proven bit-exact elsewhere in the repo:

  - init = the same deterministic stride sample the untrained
    quantizer used (``pid % stride = 0``) — a seeded k-means++ would
    need cross-engine RNG, a stride seed does not;
  - assign = argmin over a broadcast centroid set via
    ``min(struct(d2, cid))`` (ties → smaller cid), the struct-min /
    row_number pair already used by ``ivf_assign`` and ``pq_codes``;
  - update = per-dimension mean aggregated as ``sum(floor(x·10⁶))``
    BIGINT — exact and order-independent (float sums are not), the
    ``embedding_dim_stats`` trick — rescaled once per iteration;
  - distances = the strict left-fold ``dist2`` both engines share.

* **Scale.** Assignment broadcasts the centroids and streams the
  corpus (one scan per iteration — Lloyd's floor); the update
  shuffles one row per (group, centroid, dimension) after map-side
  combine, independent of N. Centroid frames are tiny and persisted
  per iteration because each is consumed twice (next assign + the
  empty-cluster carryover join).

* **Empty clusters** keep their previous centroid (left join +
  per-row coalesce), so the centroid id set is stable across
  iterations on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vector import dist2

#: fixed-iteration budget: enough for the sampled init to settle on
#: the fixture corpora (assignment churn is <1% after 3 rounds),
#: cheap enough that the SQL twin replays it unrolled.
KMEANS_ITERS = 3

def kmeans_centroids(
    points: DataFrame, stride: int, iters: int = KMEANS_ITERS, dim: int = None
) -> DataFrame:
    """Train centroids over ``points`` with columns ``(grp, pid,
    pvec)`` — one independent k-means per ``grp`` value (PQ trains 8
    subspaces at once; IVF passes a single group). ``dim`` is the
    point dimensionality. Returns ``(grp, cid, cvec)`` where ``cid``
    is the seeding point's id.

    The mean update aggregates ``dim`` per-coordinate fixed-point
    sums in ONE groupBy (``sum(floor(element_at(pvec, j)·10⁶))`` —
    bit-identical to summing the exploded coordinates, so the SQL
    replay below is unchanged) instead of posexplode + two groupBys:
    one shuffle of one row per (group, centroid) rather than two
    shuffles of dim× that, and — measured on the PQ codebook build —
    one third of the per-iteration stage count, which is what the
    wall clock pays for at fixture scale.

    ``iters=0`` degrades to the stride-sampled quantizer."""
    if iters > 0 and dim is None:
        raise ValueError("dim is required when training (iters > 0)")
    if iters > 0:
        # a point of the wrong dimension would otherwise train silently
        # wrong (zip_with truncates, element_at returns null) — fail loud
        points = points.withColumn(
            "pvec",
            F.when(F.size("pvec") == dim, F.col("pvec")).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(f"kmeans expects dimension {dim}, got "),
                        F.size("pvec").cast("string"),
                    )
                )
            ),
        )
    if iters > 0:
        # every Lloyd round re-references the points frame; without a
        # persist each assignment job re-runs the upstream scan +
        # subvector slicing (PQ: explode to M rows/vector) per
        # iteration — persist once, release via clear_caches (its
        # catalog clear unpersists it). The frame also inherits the
        # fixture's single-file partitioning, which would run every
        # argmin fold single-threaded (measured: the whole build on
        # one core) — spread it first.
        from ..session import ensure_parallelism

        points = ensure_parallelism(points).persist()
    cents = points.where(F.col("pid") % stride == 0).select(
        "grp", F.col("pid").alias("cid"), F.col("pvec").alias("cvec")
    )
    # the per-coordinate aggregate/rescale expressions are built as SQL
    # text parsed JVM-side in one call per column: the Column-object
    # form cost ~6 py4j round trips per coordinate per iteration
    # (~2-3s of driver time per Lloyd round at dim=64, measured — the
    # _planes_array_sql lesson). Identical analyzed expressions.
    sum_exprs = [
        F.expr(
            f"sum(CAST(floor(CAST(element_at(pvec, {j + 1}) AS DOUBLE) * 1000000.0D)"
            f" AS BIGINT)) AS __s{j}"
        )
        for j in range(dim if iters > 0 else 0)
    ]
    mean_expr = F.expr(
        "array("
        + ", ".join(
            f"CAST(__s{j} AS DOUBLE) / n / 1000000.0D"
            for j in range(dim if iters > 0 else 0)
        )
        + ") AS new_cvec"
    )
    for _ in range(iters):
        assigned = (
            points.join(F.broadcast(cents), "grp")
            .select(
                "grp", "pid", "cid", "pvec", dist2("pvec", "cvec").alias("__d2")
            )
            .groupBy("grp", "pid")
            .agg(
                F.min(F.struct("__d2", "cid")).alias("__a"),
                F.first("pvec").alias("pvec"),
            )
            .select("grp", F.col("__a.cid").alias("cid"), "pvec")
        )
        refit = (
            assigned.groupBy("grp", "cid")
            .agg(F.count("*").alias("n"), *sum_exprs)
            .select("grp", "cid", mean_expr)
        )
        nxt = (
            cents.join(F.broadcast(refit), ["grp", "cid"], "left")
            .select(
                "grp", "cid", F.coalesce("new_cvec", "cvec").alias("cvec")
            )
            .persist()  # consumed twice: next assign + carryover join
        )
        # MATERIALIZE each round before planning the next (guide §5 /
        # §3.3 plan-truncation note): left lazy, the final consumer
        # optimizes and broadcasts the fully NESTED iteration chain —
        # measured 104.6s for a 3-round dim=64 build on this box vs
        # 22s with per-round materialization (each round's plan then
        # truncates at the previous round's InMemoryTableScan). The
        # count() is one tiny job over n_centroids rows per round.
        nxt.count()
        cents = nxt
    return cents


# ---------------------------------------------------------------------------
# DuckDB replay: the same training, unrolled
# ---------------------------------------------------------------------------

def kmeans_sql_ctes(
    points_cte: str,
    prefix: str,
    stride: int,
    iters: int = KMEANS_ITERS,
) -> tuple[str, str]:
    """Emit DuckDB CTEs replaying ``kmeans_centroids`` over a points
    CTE named ``points_cte`` with columns ``(grp, pid, pvec)``.
    Returns ``(ctes_sql, final_cte_name)``; the final CTE has columns
    ``(grp, cid, cvec)``. Same stride init, same struct-min argmin
    (row_number ties → smaller cid), same floor-scaled BIGINT means,
    same empty-cluster carryover — the Spark and SQL quantizers are
    the same function."""
    from ..plans.duck_oracle import sql_dist2

    parts = [
        f"{prefix}_c0 AS (SELECT grp, pid AS cid, pvec AS cvec "
        f"FROM {points_cte} WHERE pid % {stride} = 0)"
    ]
    for i in range(1, iters + 1):
        prev, cur = f"{prefix}_c{i - 1}", f"{prefix}_c{i}"
        parts.append(f"""{prefix}_a{i} AS (
  SELECT grp, pid, cid, pvec FROM (
    SELECT p.grp, p.pid, c.cid, p.pvec,
      row_number() OVER (PARTITION BY p.grp, p.pid
        ORDER BY {sql_dist2("p.pvec", "c.cvec")} ASC, c.cid ASC) AS r
    FROM {points_cte} p JOIN {prev} c ON c.grp = p.grp
  ) WHERE r = 1
)""")
        parts.append(f"""{prefix}_m{i} AS (
  SELECT grp, cid, pos,
    (CAST(sum(CAST(floor(x * 1000000) AS BIGINT)) AS DOUBLE) / count(*)) / 1000000 AS c
  FROM (
    SELECT grp, cid, CAST(generate_subscripts(pvec, 1) - 1 AS INT) AS pos,
           CAST(unnest(pvec) AS DOUBLE) AS x
    FROM {prefix}_a{i}
  ) GROUP BY grp, cid, pos
)""")
        parts.append(f"""{cur} AS (
  SELECT prev.grp, prev.cid, coalesce(n.cvec, prev.cvec) AS cvec
  FROM {prev} prev
  LEFT JOIN (SELECT grp, cid, list(c ORDER BY pos) AS cvec
             FROM {prefix}_m{i} GROUP BY grp, cid) n
    ON n.grp = prev.grp AND n.cid = prev.cid
)""")
    return ",\n".join(parts), f"{prefix}_c{iters}"
