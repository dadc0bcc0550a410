"""Relational operators beyond Spark's built-ins (SURVEY §2.3 J4).

The reference has a single join shape (the similarity cross product);
the engine declares the full relational join surface over the TPC-H-ish
fixture tables. Equi/semi/anti/outer joins, aggregations, windows and
set ops are Spark built-ins used directly in ``registry.py``; this
module adds the two join families Spark has no native operator for,
each built scale-first from shuffle-friendly primitives:

* **as-of join** — attach to each left row the most recent right row
  at or before its timestamp (per key). Union-and-window realization:
  one shuffle on (key), no range explosion, no driver loops.
* **range join** — pairs within a bounded time distance. Bucketized
  equi-join realization: quantize time to buckets of the range width,
  join on (key, bucket±1), filter exactly — turns an unbounded
  theta-join into an equi-join Catalyst can hash/sort-merge partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import memo


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    direction: str = "backward",
) -> DataFrame:
    """For each left row, the latest right row with
    ``right_ts <= left_ts`` on the same key (``direction='backward'``;
    ``'forward'`` flips the inequality).

    Physical shape: tag both sides, union, then one window ordered by
    time per key carries the last-seen right values to every left row
    (``last(..., ignorenulls=True)``). One shuffle on ``key``; at 100 TB
    this is a single repartition-by-key + sort, no N×M intermediate.
    DuckDB's native ``ASOF JOIN`` is the oracle twin.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(direction)
    lt = left.select(
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        "*",
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in value_cols],
    )
    rt = right.select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in left.schema.fields],
        *[F.col(c).alias(f"__r_{c}") for c in value_cols],
    )
    both = lt.unionByName(rt)
    asc = direction == "backward"
    # right rows sort before left rows at equal timestamps so an exact
    # tie is matched ("at or before")
    order = [
        F.col("__ts").asc() if asc else F.col("__ts").desc(),
        F.col("__is_left").asc(),
    ]
    w = (
        Window.partitionBy("__k")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = both.select(
        "*",
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"__asof_{c}")
            for c in value_cols
        ],
    )
    out_cols = [f.name for f in left.schema.fields] + [
        F.col(f"__asof_{c}").alias(c) for c in value_cols
    ]
    return carried.where(F.col("__is_left") == 1).select(*out_cols)


def range_join_count(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    max_gap_seconds: int,
) -> DataFrame:
    """Count right rows within ``(left_ts, left_ts + gap]`` per left
    row and key — an interval θ-join bucketized into an equi-join.

    Each side is quantized to ``gap``-wide buckets; a right row can
    only match left rows in its own or the previous bucket, so the
    join condition becomes ``(key, bucket) IN {(key, b), (key, b+1)}``
    — expressed by exploding the left side to two bucket keys. The
    exact interval predicate filters after the equi-join. Shuffle is
    hash(key, bucket): bounded fan-out 2×, no nested-loop.
    """
    gap = F.lit(max_gap_seconds)
    lsec = F.unix_timestamp(F.col(left_ts))
    rsec = F.unix_timestamp(F.col(right_ts))
    # the follower count is a function of (key, left-second) only, so
    # the bucket join runs over DISTINCT (key, second) pairs: duplicate
    # left rows neither multiply the join fan-out nor inflate the count
    # (grouping by the pair over a non-distinct left would credit every
    # duplicate's matches to every other duplicate)
    lt = (
        left.select(F.col(key).alias("__k"), lsec.alias("__lsec"))
        .distinct()
        .select(
            "__k",
            "__lsec",
            F.explode(
                F.array(
                    F.floor(F.col("__lsec") / gap).cast("long"),
                    (F.floor(F.col("__lsec") / gap) + 1).cast("long"),
                )
            ).alias("__bucket"),
        )
    )
    rt = right.select(
        F.col(key).alias("__k"),
        rsec.alias("__rsec"),
        F.floor(rsec / gap).cast("long").alias("__bucket"),
    )
    joined = lt.join(rt, ["__k", "__bucket"]).where(
        (F.col("__rsec") > F.col("__lsec"))
        & (F.col("__rsec") <= F.col("__lsec") + gap)
    )
    grouped = joined.groupBy("__k", "__lsec").agg(
        F.count("*").alias("n_followers")
    )
    left_keyed = left.select(
        "*", F.col(key).alias("__k"), F.unix_timestamp(F.col(left_ts)).alias("__lsec")
    )
    return (
        left_keyed.join(grouped, ["__k", "__lsec"], "left")
        .withColumn("n_followers", F.coalesce("n_followers", F.lit(0)))
        .drop("__k", "__lsec")
    )


def salted_agg_sum_count(
    df: DataFrame, key: str, value_col: str, shards: int = 8
) -> DataFrame:
    """Skew-resistant aggregation: pre-aggregate within
    ``(key, random-ish shard)`` then combine — the classic salting
    pattern for hot keys whose single reducer would straggle at scale.
    The shard id derives from a hash of a stable row attribute (not
    ``rand()``), keeping the result deterministic; sums are DECIMAL so
    the two-phase combine is order-independent and exactly equals the
    direct groupBy (the oracle asserts that identity).
    """
    shard = F.pmod(F.xxhash64(F.col(value_col)), F.lit(shards))
    partial = (
        df.groupBy(F.col(key), shard.alias("__shard"))
        .agg(
            F.sum(F.col(value_col).cast("decimal(18,2)")).alias("__s"),
            F.count("*").alias("__n"),
        )
    )
    return (
        partial.groupBy(key)
        .agg(F.sum("__s").alias("__s2"), F.sum("__n").alias("n_rows"))
        .select(
            key,
            F.col("__s2").cast("double").alias("sum_value"),
            "n_rows",
        )
    )


def _rank_splits_cached(
    df: DataFrame, key_col: str, n_buckets: int, pcts: list[float]
) -> DataFrame:
    """The pinned 1-row percentile-split frame, memoized per (session,
    input frame, key, n_buckets). The eager checkpoint pins ONE split
    array: it feeds TWO plan branches (bucket counts and the final
    rank), and exactness requires both to see identical splits —
    approx-percentile sketch merges are fetch-order sensitive, so two
    independent evaluations (exchange reuse off, an AQE replan) need
    not agree."""
    return memo(
        df.sparkSession,
        "rank_splits",
        (df, key_col, n_buckets),
        lambda: df.agg(
            F.percentile_approx(key_col, pcts, 10_000).alias("__splits")
        ).localCheckpoint(eager=True),
    )


def parallel_global_rank(
    df: DataFrame,
    key_col: str,
    tiebreak_col: str,
    rank_name: str = "rnk",
    n_buckets: int = 32,
) -> DataFrame:
    """Exact dense global rank by (``key_col`` DESC, ``tiebreak_col``
    ASC) with NO single-partition window — the scale-safe replacement
    for ``row_number() OVER (ORDER BY ...)`` (which funnels every row
    through one task; the r05 ``corpus_dsir_select`` defect).

    Decomposition: ``percentile_approx`` split points on ``key_col``
    define range buckets ``bucket(k) = #splits > k``. Monotonicity
    argument making the rank EXACT despite approximate percentiles:
    if bucket(a) < bucket(b) there is a split s with s > key_b and
    s ≤ key_a, hence key_a > key_b strictly — so cross-bucket order
    is total and correct regardless of percentile error, which only
    skews bucket SIZES. Within a bucket, a ``row_number`` window
    partitioned BY bucket ranks in parallel; a B-row broadcast offset
    frame (B×B triangular sum, no SinglePartition exchange anywhere)
    stitches the exact global rank.

    Output: the input columns + ``bucket`` dropped, ``rank_name``
    (INT, 1-based) added. Requires (key, tiebreak) to totally order
    the rows (ties across both columns get nondeterministic ranks,
    same as the window form). NULL keys rank LAST (the window form's
    ``DESC NULLS LAST``): they are routed to the lowest bucket
    explicitly — the split comparisons would otherwise evaluate NULL
    and silently drop them into bucket 0, the top of the order.

    Side effect: construction is EAGER the FIRST time per (session,
    input frame, key, n_buckets) — the split frame runs a
    ``percentile_approx`` job + ``localCheckpoint`` at plan-build
    time (the exactness argument above requires pinning one split
    array before it feeds two branches). The pinned splits are
    session-memoized (the ``_maxsim_pool_cached`` idiom, r07 verdict
    "what's wrong" #2), so repeated plan construction — plan audits,
    ``test_scale_guard``'s registry sweep, a sweep loop re-invoking
    the same query — pays the split job once, not per construction.
    """
    pcts = [i / n_buckets for i in range(1, n_buckets)]
    if pcts:
        stats = _rank_splits_cached(df, key_col, n_buckets, pcts)
        bucketed = df.crossJoin(F.broadcast(stats)).withColumn(
            "__bucket",
            F.when(F.col(key_col).isNull(), F.lit(len(pcts))).otherwise(
                F.size(F.filter("__splits", lambda s: s > F.col(key_col)))
            ),
        ).drop("__splits")
    else:  # n_buckets=1 degenerates to one bucket (the plain window)
        bucketed = df.withColumn("__bucket", F.lit(0))
    bc = bucketed.groupBy("__bucket").agg(F.count("*").alias("__bcnt"))
    offsets = (
        bc.alias("a")
        .crossJoin(F.broadcast(bc.alias("b")))
        .groupBy(F.col("a.__bucket").alias("__bucket"))
        .agg(
            F.sum(
                F.when(
                    F.col("b.__bucket") < F.col("a.__bucket"), F.col("b.__bcnt")
                ).otherwise(F.lit(0))
            ).alias("__boffset")
        )
    )
    w = Window.partitionBy("__bucket").orderBy(
        F.col(key_col).desc(), F.col(tiebreak_col).asc()
    )
    return (
        bucketed.join(F.broadcast(offsets), "__bucket")
        .withColumn(
            rank_name, (F.col("__boffset") + F.row_number().over(w)).cast("int")
        )
        .drop("__bucket", "__boffset")
    )
