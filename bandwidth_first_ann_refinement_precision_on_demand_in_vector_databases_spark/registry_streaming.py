"""Time-window query suite (SURVEY §2.9). The window builders are
mode-agnostic — identical plans serve batch and ``readStream`` input —
so the registry declares the batch form with exact DuckDB oracles
(``time_bucket`` / gaps-and-islands twins), and
``tests/test_streaming.py`` proves the same plans produce the same
results when fed through Structured Streaming with watermarks.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .plans.duck_oracle import sql_cos, sql_dist2
from .session import memo_dir
from .sources.fixtures import QUERY_STRIDE, load_table
from .streaming.windows import (
    click_purchase_join,
    cms_user_counts,
    dedup_events,
    session_windows,
    sliding_counts,
    tumbling_counts,
)


def q_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_counts(load_table(spark, sf_dir, "events"))


SQL_TUMBLING = """
SELECT time_bucket(INTERVAL '10 minutes', ts) AS win_start,
       time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' AS win_end,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2, 3
"""


def q_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_counts(load_table(spark, sf_dir, "events"))


SQL_SLIDING = """
WITH b AS (SELECT event_type, time_bucket(INTERVAL '5 minutes', ts) AS b0 FROM events),
x AS (
  SELECT event_type, b0 AS win_start FROM b
  UNION ALL
  SELECT event_type, b0 - INTERVAL '5 minutes' AS win_start FROM b
)
SELECT win_start, win_start + INTERVAL '10 minutes' AS win_end, event_type,
       count(*) AS n_events
FROM x GROUP BY 1, 2, 3
"""


def q_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_windows(load_table(spark, sf_dir, "events"))


# Spark session_window: an event exactly gap after the previous one
# starts a NEW session (windows are [start, last+gap)), hence >= in
# the island break below.
SQL_SESSION = """
WITH o AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w >= INTERVAL '5 minutes'
         THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id,
       min(ts) AS sess_start,
       max(ts) + INTERVAL '5 minutes' AS sess_end,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM s GROUP BY user_id, sid
"""


def q_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_events(load_table(spark, sf_dir, "events"))


SQL_STREAM_DEDUP = """
SELECT DISTINCT user_id, event_type,
       time_bucket(INTERVAL '1 minute', ts) AS minute_start
FROM events
"""


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return click_purchase_join(load_table(spark, sf_dir, "events"))


SQL_INTERVAL_JOIN = """
SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts,
       p.event_id AS purchase_id, p.ts AS purchase_ts
FROM events c JOIN events p
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '30 minutes'
"""


def q_stream_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the streaming ANN lookup (stream-static scores →
    incremental K-heap): on batch input the heap state is built in one
    "micro-batch", so the result IS the exact cosine top-K — which the
    oracle replays as a plain window rank. ``tests/test_streaming.py``
    proves the same plan converges to this through readStream."""
    from pyspark.sql import functions as F

    from .sources.fixtures import queries_view
    from .streaming.stateful import streaming_ann_topk

    out = streaming_ann_topk(
        queries_view(spark, sf_dir), load_table(spark, sf_dir, "embeddings"), k=10
    )
    return out.select(
        "query_id", "rank", "neighbor_id", F.round("score", 6).alias("score")
    )


SQL_STREAM_ANN_TOPK = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
           WHERE vec_id % {QUERY_STRIDE} = 0)
SELECT query_id, rank, neighbor_id, round(score, 6) AS score FROM (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    {sql_cos("q.qe", "e.embedding")} AS score,
    CAST(row_number() OVER (PARTITION BY q.query_id
      ORDER BY {sql_cos("q.qe", "e.embedding")} DESC, e.vec_id) AS INT) AS rank
  FROM q CROSS JOIN embeddings e
) WHERE rank <= 10
"""


STREAMING_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "stream_tumbling_counts": q_tumbling,
    "stream_sliding_counts": q_sliding,
    "stream_session_windows": q_session,
    "stream_dedup_events": q_dedup,
    "stream_interval_join": q_interval_join,
    "stream_ann_topk": q_stream_ann_topk,
}

STREAMING_ORACLES: dict[str, str] = {
    "stream_tumbling_counts": SQL_TUMBLING,
    "stream_sliding_counts": SQL_SLIDING,
    "stream_session_windows": SQL_SESSION,
    "stream_dedup_events": SQL_STREAM_DEDUP,
    "stream_interval_join": SQL_INTERVAL_JOIN,
    "stream_ann_topk": SQL_STREAM_ANN_TOPK,
}


def q_stream_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the streaming count-min sketch over events (the
    plan is mode-agnostic; ``tests/test_streaming.py`` proves the
    readStream replay produces the identical counter table)."""
    return cms_user_counts(load_table(spark, sf_dir, "events"))


def _sql_stream_cms() -> str:
    from .functions.text import HASH_P
    from .registry_text import CMS_A, CMS_B, CMS_DEPTH, CMS_W, _sql_poly_hash

    union = "\nUNION ALL\n".join(
        f"SELECT {d} AS d, (({CMS_A[d]} * h + {CMS_B[d]}) % {HASH_P}) % {CMS_W} AS bucket FROM uh"
        for d in range(CMS_DEPTH)
    )
    return f"""
WITH uh AS (SELECT {_sql_poly_hash("CAST(user_id AS VARCHAR)")} AS h FROM events),
rows_ AS ({union})
SELECT d, bucket, count(*) AS c FROM rows_ GROUP BY d, bucket
"""


STREAMING_QUERIES["stream_cms_counts"] = q_stream_cms
STREAMING_ORACLES["stream_cms_counts"] = _sql_stream_cms()


def q_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the streaming HyperLogLog register table over
    events (distinct user_ids; the max-aggregate plan is mode-agnostic
    — ``tests/test_streaming.py`` proves the readStream replay
    produces the identical ≤256-row register table). The bounded-state
    streaming substitute for ``countDistinct``."""
    from .streaming.windows import hll_user_registers

    return hll_user_registers(load_table(spark, sf_dir, "events"))


def _sql_stream_hll() -> str:
    from .registry_text import (
        HLL_C1,
        HLL_C2,
        HLL_M,
        HLL_MASK,
        HLL_RHO_MAX,
        _sql_poly_hash,
    )

    return f"""
WITH uh AS (SELECT {_sql_poly_hash("CAST(user_id AS VARCHAR)")} AS v FROM events),
m1 AS (SELECT xor(v & {HLL_MASK}, (v & {HLL_MASK}) >> 16) AS v FROM uh),
m2 AS (SELECT (v * {HLL_C1}) & {HLL_MASK} AS v FROM m1),
m3 AS (SELECT xor(v, v >> 15) AS v FROM m2),
m4 AS (SELECT (v * {HLL_C2}) & {HLL_MASK} AS v FROM m3),
mx AS (SELECT xor(v, v >> 16) AS h FROM m4),
hb AS (SELECT h % {HLL_M} AS bucket, h >> 8 AS rest FROM mx)
SELECT bucket,
  max(CASE WHEN rest = 0 THEN {HLL_RHO_MAX}
           ELSE {HLL_RHO_MAX} - length(bin(rest)) END) AS m
FROM hb GROUP BY bucket
"""


STREAMING_QUERIES["stream_hll_registers"] = q_stream_hll
STREAMING_ORACLES["stream_hll_registers"] = _sql_stream_hll()


def q_hll_merge_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY — the property that makes sketches the
    100 TB substitute for exact counting: registers built over any
    partition of the data and merged by register-max equal the
    single-pass build (max is associative/commutative/idempotent, so
    the sketch is a semigroup partial aggregate — per-day/per-shard
    sketches roll up for free). Builds HLL registers over the even and
    odd user_id halves of events INDEPENDENTLY, merges, and emits the
    merged table beside the whole-stream build: m_merged = m_whole on
    every bucket by construction, and the driver hash proves it."""
    from pyspark.sql import functions as F

    from .streaming.windows import hll_user_registers

    # `!= 0` (not `== 1`) for the odd half: with negative user_ids both
    # Spark and DuckDB return remainder -1, and an `== 1` split would
    # drop those rows from BOTH halves — the halves must PARTITION the
    # stream or the mergeability proof is vacuous.
    ev = load_table(spark, sf_dir, "events")
    left = hll_user_registers(ev.where(F.col("user_id") % 2 == 0))
    right = hll_user_registers(ev.where(F.col("user_id") % 2 != 0))
    merged = (
        left.unionByName(right)
        .groupBy("bucket")
        .agg(F.max("m").alias("m_merged"))
    )
    whole = hll_user_registers(ev).withColumnRenamed("m", "m_whole")
    return merged.join(whole, "bucket").select("bucket", "m_merged", "m_whole")


def _sql_hll_merge_halves() -> str:
    from .registry_text import (
        HLL_C1,
        HLL_C2,
        HLL_M,
        HLL_MASK,
        HLL_RHO_MAX,
        _sql_poly_hash,
    )

    def regs(cte: str, where: str) -> str:
        return f"""
{cte}_uh AS (SELECT {_sql_poly_hash("CAST(user_id AS VARCHAR)")} AS v FROM events {where}),
{cte}_m1 AS (SELECT xor(v & {HLL_MASK}, (v & {HLL_MASK}) >> 16) AS v FROM {cte}_uh),
{cte}_m2 AS (SELECT (v * {HLL_C1}) & {HLL_MASK} AS v FROM {cte}_m1),
{cte}_m3 AS (SELECT xor(v, v >> 15) AS v FROM {cte}_m2),
{cte}_m4 AS (SELECT (v * {HLL_C2}) & {HLL_MASK} AS v FROM {cte}_m3),
{cte}_mx AS (SELECT xor(v, v >> 16) AS h FROM {cte}_m4),
{cte}_hb AS (SELECT h % {HLL_M} AS bucket, h >> 8 AS rest FROM {cte}_mx),
{cte} AS (
  SELECT bucket,
    max(CASE WHEN rest = 0 THEN {HLL_RHO_MAX}
             ELSE {HLL_RHO_MAX} - length(bin(rest)) END) AS m
  FROM {cte}_hb GROUP BY bucket
)"""

    return f"""
WITH
{regs("lh", "WHERE user_id % 2 = 0")},
{regs("rh", "WHERE user_id % 2 <> 0")},
{regs("wh", "")},
mg AS (
  SELECT bucket, max(m) AS m_merged FROM (
    SELECT * FROM lh UNION ALL SELECT * FROM rh
  ) GROUP BY bucket
)
SELECT mg.bucket, mg.m_merged, wh.m AS m_whole
FROM mg JOIN wh ON wh.bucket = mg.bucket
"""


STREAMING_QUERIES["hll_merge_halves"] = q_hll_merge_halves
STREAMING_ORACLES["hll_merge_halves"] = _sql_hll_merge_halves()


def q_cms_merge_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS mergeability — the sum-merge twin of ``hll_merge_halves``:
    count-min counter tables built over disjoint halves of the events
    and MERGED BY ADDITION equal the single-pass build (counter sums
    are the semigroup partial aggregate; per-shard sketches roll up).
    Emits the merged table beside the whole-stream build — equality on
    every (d, bucket) is what the driver hash proves."""
    from pyspark.sql import functions as F

    from .streaming.windows import cms_user_counts

    # `!= 0` for the odd half so negative user_ids (remainder -1 in
    # both engines) land in exactly one half — see q_hll_merge_halves.
    ev = load_table(spark, sf_dir, "events")
    left = cms_user_counts(ev.where(F.col("user_id") % 2 == 0))
    right = cms_user_counts(ev.where(F.col("user_id") % 2 != 0))
    merged = (
        left.unionByName(right)
        .groupBy("d", "bucket")
        .agg(F.sum("c").cast("bigint").alias("c_merged"))
    )
    whole = cms_user_counts(ev).withColumnRenamed("c", "c_whole")
    return merged.join(whole, ["d", "bucket"]).select(
        "d", "bucket", "c_merged", "c_whole"
    )


def _sql_cms_merge_halves() -> str:
    from .functions.text import HASH_P
    from .registry_text import CMS_A, CMS_B, CMS_DEPTH, CMS_W, _sql_poly_hash

    def table(cte: str, where: str) -> str:
        union = "\nUNION ALL\n".join(
            f"SELECT {d} AS d, (({CMS_A[d]} * h + {CMS_B[d]}) % {HASH_P}) % {CMS_W} AS bucket FROM {cte}_uh"
            for d in range(CMS_DEPTH)
        )
        return f"""
{cte}_uh AS (SELECT {_sql_poly_hash("CAST(user_id AS VARCHAR)")} AS h FROM events {where}),
{cte} AS (SELECT d, bucket, count(*) AS c FROM ({union}) GROUP BY d, bucket)"""

    return f"""
WITH
{table("lh", "WHERE user_id % 2 = 0")},
{table("rh", "WHERE user_id % 2 <> 0")},
{table("wh", "")},
mg AS (
  SELECT d, bucket, CAST(sum(c) AS BIGINT) AS c_merged FROM (
    SELECT * FROM lh UNION ALL SELECT * FROM rh
  ) GROUP BY d, bucket
)
SELECT mg.d, mg.bucket, mg.c_merged, wh.c AS c_whole
FROM mg JOIN wh ON wh.d = mg.d AND wh.bucket = mg.bucket
"""


STREAMING_QUERIES["cms_merge_halves"] = q_cms_merge_halves
STREAMING_ORACLES["cms_merge_halves"] = _sql_cms_merge_halves()


def q_ann_stream_fresh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-ingest loop end-to-end (r07 verdict #5): a CDC
    change stream (``streaming/ingest.change_stream_fixture`` — two
    waves of upserts/deletes keyed by a monotone seq) is driven
    through a REAL Structured Streaming foreachBatch query into a
    cell-partitioned parquet delta store (stateless quantizer routing,
    one append per micro-batch), then the top-K is served merge-on-read
    from base ⊎ delta. The ingest runs once per session (a
    ``session.memo_dir`` store); the oracle replays the
    final state in SQL — valid because last-wins keys on the data's
    seq, not on batch boundaries, so the served state is independent
    of how the stream was chopped (the batch≡stream property
    ``tests/test_streaming.py`` proves directly)."""
    from pyspark.sql import functions as F

    from .operators.simsearch import ivf_centroids
    from .registry_simsearch import ANN_K
    from .sources.fixtures import queries_view
    from .streaming.ingest import (
        change_stream_fixture,
        delta_latest,
        serve_fresh_topk,
        start_delta_ingest,
    )

    corpus = load_table(spark, sf_dir, "embeddings")

    def ingest(root: str) -> None:
        src, delta, ckpt = (os.path.join(root, d) for d in ("src", "delta", "ckpt"))
        change_stream_fixture(corpus).repartition(4).write.parquet(src)
        rows = [(r.centroid_id, r.cvec) for r in ivf_centroids(corpus).collect()]
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = start_delta_ingest(stream, rows, delta, ckpt)
        # availableNow self-terminates after draining; a False return
        # means the ingest is still running at the deadline — caching
        # the half-written delta path would serve (and memoize) stale
        # top-K for the rest of the session (r08 ADVICE). Fail loud.
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "stream ingest did not drain within 300s; "
                "delta store is incomplete and will not be served"
            )

    delta = os.path.join(memo_dir(spark, "stream-ingest", sf_dir, ingest), "delta")
    out = serve_fresh_topk(
        queries_view(spark, sf_dir), corpus, delta_latest(spark, delta), ANN_K
    )
    return out.select(
        "query_id", "rank", "neighbor_id", F.round("score", 6).alias("score")
    )


def _sql_ann_stream_fresh_topk() -> str:
    from .registry_simsearch import ANN_K, SQL_Q_CTE
    from .streaming import ingest as I

    return f"""
WITH q AS ({SQL_Q_CTE}),
changes AS (
  SELECT vec_id, list_reverse(embedding) AS embedding, 'upsert' AS op, 1 AS seq
  FROM embeddings WHERE vec_id % {I.CHANGE_UP_MOD} = {I.CHANGE_UP_REM}
  UNION ALL
  SELECT vec_id, NULL, 'delete', 1
  FROM embeddings WHERE vec_id % {I.CHANGE_DEL_MOD} = {I.CHANGE_DEL_REM}
  UNION ALL
  SELECT vec_id, embedding, 'upsert', 2
  FROM embeddings WHERE vec_id % {I.RESTORE_MOD} = {I.RESTORE_REM}
),
latest AS (
  SELECT vec_id, embedding, op FROM (
    SELECT vec_id, embedding, op,
      row_number() OVER (PARTITION BY vec_id ORDER BY seq DESC, op ASC) AS r
    FROM changes
  ) WHERE r = 1
),
live AS (
  SELECT e.vec_id, e.embedding FROM embeddings e
  WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.vec_id = e.vec_id)
  UNION ALL
  SELECT vec_id, embedding FROM latest WHERE op = 'upsert'
)
SELECT query_id, rank, neighbor_id, round(score, 6) AS score FROM (
  SELECT q.query_id, l.vec_id AS neighbor_id,
    {sql_cos("q.qe", "l.embedding")} AS score,
    CAST(row_number() OVER (PARTITION BY q.query_id
      ORDER BY {sql_cos("q.qe", "l.embedding")} DESC, l.vec_id) AS INT) AS rank
  FROM q CROSS JOIN live l
) WHERE rank <= {ANN_K}
"""


STREAMING_QUERIES["ann_stream_fresh_topk"] = q_ann_stream_fresh_topk
STREAMING_ORACLES["ann_stream_fresh_topk"] = _sql_ann_stream_fresh_topk()


def q_hist_merge_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram mergeability — the quantile-stats member of the
    merge-halves family (register-max HLL, counter-sum CMS, and now
    bin-count histograms): fixed-width price histograms built over
    disjoint halves of lineitem and merged BY ADDITION equal the
    single-pass build. Bin-count tables are the mergeable substrate of
    approximate quantiles/distribution monitoring at 100 TB — per-day
    or per-shard histograms roll up for free. Bins are integer floors
    of price/1000 (deterministic both engines); the split keys on
    ``% 2 != 0`` for the odd half (negative-safe, the ADVICE rule)."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.floor(F.col("l_extendedprice").cast("double") / F.lit(1000.0))
        .cast("int")
        .alias("bin"),
    )

    def hist(df):
        return df.groupBy("bin").agg(F.count("*").alias("c"))

    left = hist(li.where(F.col("l_orderkey") % 2 == 0))
    right = hist(li.where(F.col("l_orderkey") % 2 != 0))
    merged = (
        left.unionByName(right)
        .groupBy("bin")
        .agg(F.sum("c").cast("bigint").alias("c_merged"))
    )
    whole = hist(li).withColumnRenamed("c", "c_whole")
    return merged.join(whole, "bin").select("bin", "c_merged", "c_whole")


SQL_HIST_MERGE_HALVES = """
WITH b AS (
  SELECT l_orderkey,
         CAST(floor(CAST(l_extendedprice AS DOUBLE) / 1000.0) AS INT) AS bin
  FROM lineitem
),
lh AS (SELECT bin, count(*) AS c FROM b WHERE l_orderkey % 2 = 0 GROUP BY bin),
rh AS (SELECT bin, count(*) AS c FROM b WHERE l_orderkey % 2 <> 0 GROUP BY bin),
wh AS (SELECT bin, count(*) AS c_whole FROM b GROUP BY bin),
mg AS (
  SELECT bin, CAST(sum(c) AS BIGINT) AS c_merged FROM (
    SELECT * FROM lh UNION ALL SELECT * FROM rh
  ) GROUP BY bin
)
SELECT mg.bin, mg.c_merged, wh.c_whole
FROM mg JOIN wh ON wh.bin = mg.bin
"""

STREAMING_QUERIES["hist_merge_halves"] = q_hist_merge_halves
STREAMING_ORACLES["hist_merge_halves"] = SQL_HIST_MERGE_HALVES


# ---------------------------------------------------------------------------
# Mergeable quantile sketch (operators/quantile.py; r08 verdict #5):
# fixed-universe integer rank statistics — the KLL-alternative that
# stays deterministic and SQL-replayable. Unlike hist_merge_halves,
# the bucketing is universe-fixed (no data min/max), so shard/day
# sketches merge by addition into exactly the single-pass sketch, and
# the registered query extracts the rank quantiles, not just counts.
# ---------------------------------------------------------------------------

def _lineitem_cents(spark: SparkSession, sf_dir: str):
    from pyspark.sql import functions as F

    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.floor(F.col("l_extendedprice").cast("double") * 100)
        .cast("bigint")
        .alias("cents"),
    )


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(phi, q_bucket, q_value_lb): price quantiles (in cents) served
    from the bounded sketch — build is one map-side-combined aggregate
    to ≤ 4096 rows; extraction never touches the data again."""
    from .operators import quantile as Q

    sk = Q.quantile_sketch(_lineitem_cents(spark, sf_dir), "cents")
    return Q.sketch_quantiles(sk)


def q_quantile_merge_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeability proof at the RANK level: quantiles extracted from
    the sum-merged half sketches equal the single-pass sketch's —
    the property that makes per-shard rollup correct at 100 TB. Halves
    split on l_orderkey parity (% 2 != 0 for the odd half —
    negative-safe, the ADVICE rule)."""
    from pyspark.sql import functions as F

    from .operators import quantile as Q

    li = _lineitem_cents(spark, sf_dir)
    left = Q.quantile_sketch(li.where(F.col("l_orderkey") % 2 == 0), "cents")
    right = Q.quantile_sketch(li.where(F.col("l_orderkey") % 2 != 0), "cents")
    merged = Q.merge_sketches(left, right)
    whole = Q.quantile_sketch(li, "cents")
    qm = Q.sketch_quantiles(merged).select(
        "phi", F.col("q_value_lb").alias("q_merged")
    )
    qw = Q.sketch_quantiles(whole).select(
        "phi", F.col("q_value_lb").alias("q_whole")
    )
    return qm.join(qw, "phi").select("phi", "q_merged", "q_whole")


def _sql_quantile_ctes(src_filter: str, prefix: str) -> str:
    """Sketch + cumulative + targets over lineitem cents, with the
    same dyadic shift (24→12 bits) as operators/quantile.py."""
    return f"""
{prefix}_v AS (
  SELECT CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT) AS cents
  FROM lineitem {src_filter}
),
{prefix}_sk AS (
  SELECT CAST(cents >> 12 AS INT) AS bucket, CAST(count(*) AS BIGINT) AS c
  FROM {prefix}_v GROUP BY 1
)"""


def _sql_quantile_extract(sk: str, prefix: str, value_alias: str) -> str:
    return f"""
{prefix}_cum AS (
  SELECT a.bucket AS b, CAST(sum(b2.c) AS BIGINT) AS cum
  FROM {sk} a JOIN {sk} b2 ON b2.bucket <= a.bucket GROUP BY a.bucket
),
{prefix}_t AS (
  SELECT phi, CAST(ceil(phi * CAST(n AS DOUBLE)) AS BIGINT) AS target
  FROM (SELECT CAST(sum(c) AS BIGINT) AS n FROM {sk})
  CROSS JOIN (SELECT unnest([0.25, 0.5, 0.75, 0.95]) AS phi)
),
{prefix}_hit AS (
  SELECT phi, CAST(min(b) AS INT) AS q_bucket
  FROM {prefix}_t t JOIN {prefix}_cum c ON c.cum >= t.target GROUP BY phi
),
{prefix}_q AS (
  SELECT phi, q_bucket,
         CAST(q_bucket AS BIGINT) << 12 AS {value_alias}
  FROM {prefix}_hit
)"""


SQL_QUANTILE_SKETCH = f"""
WITH {_sql_quantile_ctes("", "qs")},
{_sql_quantile_extract("qs_sk", "qs", "q_value_lb")}
SELECT phi, q_bucket, q_value_lb FROM qs_q
"""

SQL_QUANTILE_MERGE_HALVES = f"""
WITH {_sql_quantile_ctes("WHERE l_orderkey % 2 = 0", "ql")},
{_sql_quantile_ctes("WHERE l_orderkey % 2 <> 0", "qr")},
{_sql_quantile_ctes("", "qw")},
qm_sk AS (
  SELECT bucket, CAST(sum(c) AS BIGINT) AS c FROM (
    SELECT * FROM ql_sk UNION ALL SELECT * FROM qr_sk
  ) GROUP BY bucket
),
{_sql_quantile_extract("qm_sk", "qm", "q_merged")},
{_sql_quantile_extract("qw_sk", "qw2", "q_whole")}
SELECT qm_q.phi, qm_q.q_merged, qw2_q.q_whole
FROM qm_q JOIN qw2_q ON qw2_q.phi = qm_q.phi
"""

STREAMING_QUERIES["quantile_sketch"] = q_quantile_sketch
STREAMING_ORACLES["quantile_sketch"] = SQL_QUANTILE_SKETCH
STREAMING_QUERIES["quantile_merge_halves"] = q_quantile_merge_halves
STREAMING_ORACLES["quantile_merge_halves"] = SQL_QUANTILE_MERGE_HALVES


def q_stream_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the streaming quantile sketch over events values
    (the plan is mode-agnostic; ``tests/test_streaming.py`` proves the
    readStream replay produces the identical ≤4096-row bucket table).
    The bounded-state streaming substitute for percentile monitoring."""
    from .streaming.windows import quantile_value_sketch

    return quantile_value_sketch(load_table(spark, sf_dir, "events"))


def _sql_stream_quantile() -> str:
    from .operators.quantile import QUANTILE_SKETCH_BITS
    from .streaming.windows import QUANTILE_EVENT_UNIVERSE_BITS

    shift = QUANTILE_EVENT_UNIVERSE_BITS - QUANTILE_SKETCH_BITS
    return f"""
SELECT CAST(CAST(floor(CAST(value AS DOUBLE) * 100) AS BIGINT) >> {shift} AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS c
FROM events GROUP BY 1
"""


STREAMING_QUERIES["stream_quantile_sketch"] = q_stream_quantile_sketch
STREAMING_ORACLES["stream_quantile_sketch"] = _sql_stream_quantile()


def q_stream_dedup_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MinHash near-dup dedup end-to-end (r09 verdict #4):
    the incoming document class (the ``dedup_incremental`` split,
    doc_id % 5 == 4) is driven as 4 ascending-id micro-batches through
    a REAL foreachBatch query against the existing corpus's sketch
    store (``streaming/neardup.py`` — band join + exact-Jaccard verify
    per batch, sketches appended, never rewritten). The registered
    output is the streamed decision log; the oracle replays the
    one-shot conservative-filter form in plain SQL — valid because
    decisions key on (existing ∪ smaller-id) partners, not on batch
    boundaries, and the micro-batches are id-ordered
    (the batch≡stream property ``tests/test_streaming.py`` proves
    directly)."""
    from pyspark.sql import functions as F

    from .registry_dedup import INC_MOD, INC_REM, MINHASH_TAU, SHINGLE_N
    from .streaming.neardup import (
        init_neardup_store,
        read_decisions,
        start_neardup_ingest,
        write_ordered_stream_source,
    )

    docs = load_table(spark, sf_dir, "documents")

    def ingest(root: str) -> None:
        src, store, ckpt = (os.path.join(root, d) for d in ("src", "store", "ckpt"))
        inc_pred = F.col("doc_id") % INC_MOD == INC_REM
        init_neardup_store(docs.where(~inc_pred), store, n=SHINGLE_N)
        write_ordered_stream_source(
            docs.where(inc_pred).select("doc_id", "text"), src
        )
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = start_neardup_ingest(
            stream, store, ckpt, n=SHINGLE_N, threshold=MINHASH_TAU
        )
        # availableNow self-terminates after draining; fail loud on a
        # timeout instead of caching a half-written decision log (the
        # r08 ingest lesson)
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "near-dup stream ingest did not drain within 300s; "
                "decision log is incomplete and will not be served"
            )

    root = memo_dir(spark, "stream-neardup", sf_dir, ingest)
    return read_decisions(spark, os.path.join(root, "store"))


def _sql_stream_neardup() -> str:
    from .registry_dedup import (
        _SQL_JAC,
        _sql_band_rows,
        INC_MOD,
        INC_REM,
        MINHASH_TAU,
        SQL_MINHASH_CTES,
    )

    return f"""
WITH {SQL_MINHASH_CTES},
bands AS MATERIALIZED ({_sql_band_rows()}),
cand AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b
  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.id < y.id
),
pairs AS (
  SELECT c.id_a, c.id_b, round({_SQL_JAC}, 6) AS jaccard
  FROM cand c JOIN sh a ON a.id = c.id_a JOIN sh b ON b.id = c.id_b
),
dup AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= {MINHASH_TAU}),
near_ids AS (
  SELECT id_b AS doc_id FROM dup WHERE id_b % {INC_MOD} = {INC_REM}
  UNION
  SELECT id_a AS doc_id FROM dup
  WHERE id_a % {INC_MOD} = {INC_REM} AND id_b % {INC_MOD} != {INC_REM}
),
inc AS (SELECT doc_id FROM documents WHERE doc_id % {INC_MOD} = {INC_REM})
SELECT inc.doc_id,
  CAST(n.doc_id IS NOT NULL AS INT) AS is_near_dup,
  CAST(n.doc_id IS NULL AS INT) AS keep
FROM inc LEFT JOIN near_ids n ON n.doc_id = inc.doc_id
"""


STREAMING_QUERIES["stream_dedup_neardup"] = q_stream_dedup_neardup
STREAMING_ORACLES["stream_dedup_neardup"] = _sql_stream_neardup()


# ---------------------------------------------------------------------------
# General-domain float quantiles (r09 verdict #6): the documented
# quantize-to-universe ingestion contract over a RAW SIGNED float
# column — discount delta (net − gross revenue per line item, ≤ 0),
# scale 100 (cents), offset 2^21 to shift the signed domain into the
# universe, universe 22 bits, sketch 12 bits ⇒ value error ≤ 2^10
# cents = $10.24, deterministic. Same merge-by-addition contract as
# the integer sketch; the guard raises on any value outside the
# declared domain instead of silently folding.
# ---------------------------------------------------------------------------

FLOAT_Q_SCALE = 100.0
FLOAT_Q_OFFSET = 1 << 21
FLOAT_Q_UNIVERSE = 22
FLOAT_Q_SHIFT = FLOAT_Q_UNIVERSE - 12  # sketch keeps the 12-bit default


def _lineitem_delta(spark: SparkSession, sf_dir: str):
    """RAW float value under test: per-line revenue delta
    ep·(1−disc) − ep (the explicit net-minus-gross shape — both
    engines must fold the identical expression, not the algebraic
    −ep·disc twin)."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    ep = F.col("l_extendedprice").cast("double")
    disc = F.col("l_discount").cast("double")
    return li.select(
        "l_partkey", (ep * (F.lit(1.0) - disc) - ep).alias("delta")
    )


def q_quantile_float_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(phi, q_bucket, q_value): quantiles of the raw float column in
    ORIGINAL units, served from the bounded sketch via the
    ``float_key`` contract (``operators/quantile.py``)."""
    from .operators import quantile as Q

    sk = Q.float_quantile_sketch(
        _lineitem_delta(spark, sf_dir),
        "delta",
        FLOAT_Q_SCALE,
        FLOAT_Q_OFFSET,
        FLOAT_Q_UNIVERSE,
    )
    return Q.float_sketch_quantiles(
        sk, FLOAT_Q_SCALE, FLOAT_Q_OFFSET, universe_bits=FLOAT_Q_UNIVERSE
    )


def q_quantile_float_merge_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge proof over the raw float column: quantiles from the
    sum-merged half sketches (l_partkey parity; % 2 != 0 for the odd
    half — negative-safe) equal the single-pass sketch's."""
    from pyspark.sql import functions as F

    from .operators import quantile as Q

    li = _lineitem_delta(spark, sf_dir)
    args = ("delta", FLOAT_Q_SCALE, FLOAT_Q_OFFSET, FLOAT_Q_UNIVERSE)
    left = Q.float_quantile_sketch(li.where(F.col("l_partkey") % 2 == 0), *args)
    right = Q.float_quantile_sketch(li.where(F.col("l_partkey") % 2 != 0), *args)
    merged = Q.merge_sketches(left, right)
    whole = Q.float_quantile_sketch(li, *args)
    kw = dict(universe_bits=FLOAT_Q_UNIVERSE)
    qm = Q.float_sketch_quantiles(merged, FLOAT_Q_SCALE, FLOAT_Q_OFFSET, **kw).select(
        "phi", F.col("q_value").alias("q_merged")
    )
    qw = Q.float_sketch_quantiles(whole, FLOAT_Q_SCALE, FLOAT_Q_OFFSET, **kw).select(
        "phi", F.col("q_value").alias("q_whole")
    )
    return qm.join(qw, "phi").select("phi", "q_merged", "q_whole")


def _sql_fq_ctes(src_filter: str, prefix: str) -> str:
    return f"""
{prefix}_v AS (
  SELECT CAST(floor((CAST(l_extendedprice AS DOUBLE) * (1.0 - CAST(l_discount AS DOUBLE))
                     - CAST(l_extendedprice AS DOUBLE)) * 100.0) AS BIGINT)
         + {FLOAT_Q_OFFSET} AS k
  FROM lineitem {src_filter}
),
{prefix}_sk AS (
  SELECT CAST(k >> {FLOAT_Q_SHIFT} AS INT) AS bucket, CAST(count(*) AS BIGINT) AS c
  FROM {prefix}_v GROUP BY 1
)"""


def _sql_fq_extract(sk: str, prefix: str, value_alias: str) -> str:
    return f"""
{prefix}_cum AS (
  SELECT a.bucket AS b, CAST(sum(b2.c) AS BIGINT) AS cum
  FROM {sk} a JOIN {sk} b2 ON b2.bucket <= a.bucket GROUP BY a.bucket
),
{prefix}_t AS (
  SELECT phi, CAST(ceil(phi * CAST(n AS DOUBLE)) AS BIGINT) AS target
  FROM (SELECT CAST(sum(c) AS BIGINT) AS n FROM {sk})
  CROSS JOIN (SELECT unnest([0.25, 0.5, 0.75, 0.95]) AS phi)
),
{prefix}_hit AS (
  SELECT phi, CAST(min(b) AS INT) AS q_bucket
  FROM {prefix}_t t JOIN {prefix}_cum c ON c.cum >= t.target GROUP BY phi
),
{prefix}_q AS (
  SELECT phi, q_bucket,
         round(CAST((CAST(q_bucket AS BIGINT) << {FLOAT_Q_SHIFT}) - {FLOAT_Q_OFFSET} AS DOUBLE)
               / 100.0, 6) AS {value_alias}
  FROM {prefix}_hit
)"""


SQL_QUANTILE_FLOAT_SKETCH = f"""
WITH {_sql_fq_ctes("", "fq")},
{_sql_fq_extract("fq_sk", "fq", "q_value")}
SELECT phi, q_bucket, q_value FROM fq_q
"""

SQL_QUANTILE_FLOAT_MERGE_HALVES = f"""
WITH {_sql_fq_ctes("WHERE l_partkey % 2 = 0", "fl")},
{_sql_fq_ctes("WHERE l_partkey % 2 <> 0", "fr")},
{_sql_fq_ctes("", "fw")},
fm_sk AS (
  SELECT bucket, CAST(sum(c) AS BIGINT) AS c FROM (
    SELECT * FROM fl_sk UNION ALL SELECT * FROM fr_sk
  ) GROUP BY bucket
),
{_sql_fq_extract("fm_sk", "fm", "q_merged")},
{_sql_fq_extract("fw_sk", "fw2", "q_whole")}
SELECT fm_q.phi, fm_q.q_merged, fw2_q.q_whole
FROM fm_q JOIN fw2_q ON fw2_q.phi = fm_q.phi
"""

STREAMING_QUERIES["quantile_float_sketch"] = q_quantile_float_sketch
STREAMING_ORACLES["quantile_float_sketch"] = SQL_QUANTILE_FLOAT_SKETCH
STREAMING_QUERIES["quantile_float_merge_halves"] = q_quantile_float_merge_halves
STREAMING_ORACLES["quantile_float_merge_halves"] = SQL_QUANTILE_FLOAT_MERGE_HALVES


def q_stream_dedup_neardup_reordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup ingest over a SHUFFLED bounded-disorder source
    (VERDICT r11 #3): the same foreachBatch decision pipeline as
    ``stream_dedup_neardup``, fed through the watermark reorder
    buffer (``streaming/neardup.py: process_reordered_batch`` —
    arrivals buffered in an idempotent store, released to the ordered
    contract in ascending ``(wm(b−1), wm(b)]`` ranges, final tail
    flushed). The drained decision log equals the one-shot batch
    form, so the SAME oracle SQL applies — which is exactly the claim
    this row checks."""
    from pyspark.sql import functions as F

    from .registry_dedup import INC_MOD, INC_REM, MINHASH_TAU, SHINGLE_N
    from .streaming.neardup import (
        NEARDUP_LATENESS,
        flush_neardup_buffer,
        init_neardup_store,
        read_decisions,
        start_neardup_ingest_reordered,
        write_disordered_stream_source,
    )

    docs = load_table(spark, sf_dir, "documents")

    def ingest(root: str) -> None:
        src, store, ckpt = (os.path.join(root, d) for d in ("src", "store", "ckpt"))
        inc_pred = F.col("doc_id") % INC_MOD == INC_REM
        init_neardup_store(docs.where(~inc_pred), store, n=SHINGLE_N)
        write_disordered_stream_source(
            docs.where(inc_pred).select("doc_id", "text"), src
        )
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = start_neardup_ingest_reordered(
            stream, store, ckpt, n=SHINGLE_N, threshold=MINHASH_TAU,
            lateness=NEARDUP_LATENESS,
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "reordered near-dup stream ingest did not drain within "
                "300s; decision log is incomplete and will not be served"
            )
        flush_neardup_buffer(
            spark, store, n=SHINGLE_N, threshold=MINHASH_TAU,
            lateness=NEARDUP_LATENESS,
        )

    root = memo_dir(spark, "stream-neardup-reord", sf_dir, ingest)
    return read_decisions(spark, os.path.join(root, "store"))


STREAMING_QUERIES["stream_dedup_neardup_reordered"] = q_stream_dedup_neardup_reordered
STREAMING_ORACLES["stream_dedup_neardup_reordered"] = _sql_stream_neardup()


def q_stream_spann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPANN continuous-ingest routing (r12): the same two-wave CDC
    change stream as ``ann_stream_fresh_topk``, driven through a REAL
    Structured Streaming foreachBatch query — but routed with the
    CLOSURE assignment (``spann.closure_cells_stateless``): upserts
    replicated into every cell within the (1+ε) closure (boundary
    replication at ingest time, so the served SPANN index never goes
    stale on boundaries), deletes parked in the sentinel cell = -1
    tombstone partition. Output is the per-cell shape of the final
    delta store — (cell, n_rows, n_vecs) ordered — which the DuckDB
    twin replays in SQL from the change-set definition; valid because
    routing is a pure per-row projection, so the store's content is
    independent of how the stream was chopped into micro-batches
    (``tests/test_streaming.py`` proves batch≡stream directly)."""
    from pyspark.sql import functions as F

    from .operators.simsearch import ivf_centroids
    from .streaming.ingest import change_stream_fixture, start_spann_delta_ingest

    corpus = load_table(spark, sf_dir, "embeddings")

    def ingest(root: str) -> None:
        src, delta, ckpt = (os.path.join(root, d) for d in ("src", "delta", "ckpt"))
        change_stream_fixture(corpus).repartition(4).write.parquet(src)
        rows = [(r.centroid_id, r.cvec) for r in ivf_centroids(corpus).collect()]
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = start_spann_delta_ingest(stream, rows, delta, ckpt)
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "spann stream ingest did not drain within 300s; "
                "delta store is incomplete and will not be reported"
            )

    root = memo_dir(spark, "spann-ingest", sf_dir, ingest)
    store = spark.read.parquet(os.path.join(root, "delta"))
    return (
        store.groupBy(F.col("cell").cast("long").alias("cell"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("vec_id").cast("long").alias("n_vecs"),
        )
        .orderBy("cell")
    )


def _sql_stream_spann_ingest() -> str:
    from .operators import spann as SP
    from .operators.simsearch import IVF_KMEANS_ITERS, IVF_STRIDE
    from .operators.kmeans import kmeans_sql_ctes
    from .streaming import ingest as I

    km_ctes, km_final = kmeans_sql_ctes(
        "sskm_pts", "sskm", IVF_STRIDE, iters=IVF_KMEANS_ITERS
    )
    d2 = sql_dist2("u.embedding", "c.cvec")
    return f"""
WITH changes AS (
  SELECT vec_id, list_reverse(embedding) AS embedding, 'upsert' AS op, 1 AS seq
  FROM embeddings WHERE vec_id % {I.CHANGE_UP_MOD} = {I.CHANGE_UP_REM}
  UNION ALL
  SELECT vec_id, NULL, 'delete', 1
  FROM embeddings WHERE vec_id % {I.CHANGE_DEL_MOD} = {I.CHANGE_DEL_REM}
  UNION ALL
  SELECT vec_id, embedding, 'upsert', 2
  FROM embeddings WHERE vec_id % {I.RESTORE_MOD} = {I.RESTORE_REM}
),
sskm_pts AS (SELECT 0 AS grp, vec_id AS pid, embedding AS pvec FROM embeddings),
{km_ctes},
sscents AS (SELECT cid AS centroid_id, cvec FROM {km_final}),
posted AS (
  SELECT vec_id, seq, centroid_id AS cell FROM (
    SELECT u.vec_id, u.seq, c.centroid_id,
      {d2} AS d2,
      min({d2}) OVER (PARTITION BY u.vec_id, u.seq) AS dmin,
      row_number() OVER (PARTITION BY u.vec_id, u.seq
        ORDER BY {d2} ASC, c.centroid_id ASC) AS r
    FROM (SELECT * FROM changes WHERE op = 'upsert') u CROSS JOIN sscents c
  ) WHERE d2 <= dmin * {SP._factor2(SP.SPANN_EPS)!r} AND r <= {SP.SPANN_MAX_REPLICAS}
),
allrows AS (
  SELECT vec_id, cell FROM posted
  UNION ALL
  SELECT vec_id, CAST(-1 AS BIGINT) AS cell FROM changes WHERE op = 'delete'
)
SELECT cell, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vecs
FROM allrows GROUP BY cell ORDER BY cell
"""


STREAMING_QUERIES["stream_spann_ingest"] = q_stream_spann_ingest
STREAMING_ORACLES["stream_spann_ingest"] = _sql_stream_spann_ingest()
