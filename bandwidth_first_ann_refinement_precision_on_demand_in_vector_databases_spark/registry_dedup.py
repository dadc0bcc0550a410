"""Deduplication query suite over ``documents``/``embeddings``
(SURVEY §7-M5). Each dedup family — exact, n-gram Jaccard,
MinHash+LSH, SimHash, embedding-cosine — is declared as a
(query, DuckDB-oracle) pair; the oracles replay the *same* pipeline
(including LSH banding, which is probabilistic w.r.t. the naive
semantics but deterministic given the module's fixed hash constants),
so the comparison is exact.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import dedup as D
from .registry_text import SQL_TOKS, _sql_poly_hash
from .sources.fixtures import load_table

JACCARD_TAU = 0.1     # exact n-gram pairs (word-salad fixture → sparse overlap)
MINHASH_TAU = 0.5     # near-dup threshold the LSH s-curve targets
NEARDUP_COS_TAU = 0.35  # fixture max pairwise cosine ≈ 0.513
SHINGLE_N = 3

#: shared CTEs: tokens → distinct word-3-gram shingles per doc.
#: ``src`` must expose (doc_id, text) — the curation pipeline points
#: this at its filtered canonical set instead of raw ``documents``.
def sql_shingle_ctes(src: str = "documents", prefix: str = "") -> str:
    """``prefix`` renames the CTEs (``{p}t``/``{p}sh``) so two shingle
    pipelines can coexist in one query (decontamination shingles the
    corpus and the holdout separately)."""
    # sh is the expensive shingling pass and every downstream oracle
    # references it 2+ times (pair sides, verify joins); DuckDB 1.0
    # re-inlines plain CTEs per reference — AS MATERIALIZED is the
    # r04 semantic-dedup lesson (296s -> 0.5s), a hint, not semantics.
    return f"""
{prefix}t AS (SELECT doc_id AS id, {SQL_TOKS} AS toks FROM {src}),
{prefix}sh AS MATERIALIZED (SELECT id,
  CASE WHEN len(toks) >= {SHINGLE_N}
    THEN list_distinct(list_transform(range(1, len(toks) - {SHINGLE_N - 2}),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
    ELSE CAST([] AS VARCHAR[]) END AS shs
  FROM {prefix}t)
"""


SQL_SHINGLE_CTES = sql_shingle_ctes()

_SQL_JAC = (
    "CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE) / "
    "CAST(len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs)) AS DOUBLE)"
)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(load_table(spark, sf_dir, "documents"))


SQL_DEDUP_EXACT = """
SELECT min(doc_id) AS canonical_id, count(*) AS n_copies
FROM documents GROUP BY lower(text)
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), n=SHINGLE_N, threshold=JACCARD_TAU
    )


SQL_DEDUP_NGRAM = f"""
WITH {SQL_SHINGLE_CTES},
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, round({_SQL_JAC}, 6) AS jaccard
  FROM sh a JOIN sh b ON a.id < b.id
  WHERE len(list_intersect(a.shs, b.shs)) > 0
)
SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= {JACCARD_TAU}
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_signatures(load_table(spark, sf_dir, "documents"), n=SHINGLE_N)


def _sql_minhash_cols() -> str:
    cols = []
    for k in range(D.MINHASH_K):
        a, b = D.MINHASH_A[k], D.MINHASH_B[k]
        cols.append(
            f"list_min(list_transform(hv, h -> ({a} * h + {b}) % {D.HASH_P})) AS mh_{k}"
        )
    return ",\n  ".join(cols)


def sql_minhash_ctes(src: str = "documents") -> str:
    return f"""
{sql_shingle_ctes(src)},
hv AS (SELECT id, list_transform(shs, s -> {_sql_poly_hash('s')}) AS hv FROM sh),
sigs AS MATERIALIZED (SELECT id, {_sql_minhash_cols()} FROM hv)
"""


SQL_MINHASH_CTES = sql_minhash_ctes()

SQL_MINHASH_SIGNATURES = f"WITH {SQL_MINHASH_CTES} SELECT * FROM sigs"


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), n=SHINGLE_N, threshold=MINHASH_TAU
    )


def _sql_band_rows() -> str:
    rows = []
    for band in range(D.MINHASH_BANDS):
        ks = [band * D.MINHASH_ROWS + r for r in range(D.MINHASH_ROWS)]
        bkey = " || ',' || ".join(f"CAST(mh_{k} AS VARCHAR)" for k in ks)
        rows.append(f"SELECT id, {band} AS band, {bkey} AS bkey FROM sigs")
    return "\nUNION ALL\n".join(rows)


SQL_DEDUP_MINHASH = f"""
WITH {SQL_MINHASH_CTES},
bands AS MATERIALIZED ({_sql_band_rows()}),
cand AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b
  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.id < y.id
),
pairs AS (
  SELECT c.id_a, c.id_b, round({_SQL_JAC}, 6) AS jaccard
  FROM cand c JOIN sh a ON a.id = c.id_a JOIN sh b ON b.id = c.id_b
)
SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= {MINHASH_TAU}
"""


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH duplicate pairs
    (min-label propagation run to the FIXPOINT with per-round label
    shortcutting; the oracle unrolls ``CC_ITERS`` plain rounds, which
    reach the same fixpoint on the shallow fixture graph). Production
    dedup keeps one canonical doc per component; this emits the
    component membership that decision needs."""
    pairs = D.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), n=SHINGLE_N, threshold=MINHASH_TAU
    )
    return D.duplicate_components(pairs)


def _sql_cc_rounds(iters: int) -> str:
    # each round references the previous label frame twice and edges
    # once more — materialize every level or DuckDB re-inlines the
    # whole chain per reference (multiplicative blow-up over rounds)
    parts = [
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS label FROM edges)"
    ]
    for i in range(1, iters + 1):
        prev, cur = f"l{i - 1}", f"l{i}"
        parts.append(f"""nb{i} AS MATERIALIZED (
  SELECT e.src, min(l.label) AS nb_label
  FROM edges e JOIN {prev} l ON l.id = e.dst GROUP BY e.src
)""")
        parts.append(f"""{cur} AS MATERIALIZED (
  SELECT v.id, least(v.label, coalesce(n.nb_label, v.label)) AS label
  FROM {prev} v LEFT JOIN nb{i} n ON n.src = v.id
)""")
    return ",\n".join(parts)


SQL_DEDUP_COMPONENTS = f"""
WITH {SQL_MINHASH_CTES},
bands AS MATERIALIZED ({_sql_band_rows()}),
cand AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b
  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.id < y.id
),
pairs AS (
  SELECT c.id_a, c.id_b, {_SQL_JAC} AS jaccard
  FROM cand c JOIN sh a ON a.id = c.id_a JOIN sh b ON b.id = c.id_b
),
dup AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= {MINHASH_TAU}),
edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM dup
  UNION
  SELECT id_b AS src, id_a AS dst FROM dup
),
{_sql_cc_rounds(D.CC_ITERS)},
sizes AS (SELECT label, count(*) AS component_size FROM l{D.CC_ITERS} GROUP BY label)
SELECT l.id AS doc_id, l.label AS component_id, s.component_size
FROM l{D.CC_ITERS} l JOIN sizes s ON s.label = l.label
"""


def q_simhash_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        D.simhash_sketch(load_table(spark, sf_dir, "documents"))
        .select(F.col("id").alias("doc_id"), "simhash")
    )


SQL_SIMHASH_CTES = f"""
t AS (SELECT doc_id AS id, {SQL_TOKS} AS toks FROM documents),
ex AS (SELECT id, unnest(toks) AS tok FROM t),
th AS (SELECT id, {_sql_poly_hash('tok')} AS h FROM ex),
votes AS (
  SELECT id, b, sum(CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END) AS vote
  FROM th CROSS JOIN (SELECT unnest(range({D.SIMHASH_BITS})) AS b)
  GROUP BY id, b
),
sk AS (
  SELECT id, CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY id
)
"""

SQL_SIMHASH_SKETCH = f"WITH {SQL_SIMHASH_CTES} SELECT id AS doc_id, simhash FROM sk"


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_pairs(load_table(spark, sf_dir, "documents"), max_hamming=3).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


SQL_DEDUP_SIMHASH = f"""
WITH {SQL_SIMHASH_CTES},
bands AS MATERIALIZED (
  SELECT id, simhash, b AS band, (simhash >> (b * 8)) % 256 AS bkey
  FROM sk CROSS JOIN (SELECT unnest(range({D.SIMHASH_BANDS})) AS b)
),
cand AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b,
         x.simhash AS h_a, y.simhash AS h_b
  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.id < y.id
)
SELECT id_a, id_b, CAST(bit_count(xor(h_a, h_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(h_a, h_b)) <= 3
"""


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary embedding near-dup query = the LSH-blocked plan (band
    equi-join + exact-cosine verify), the form that survives 100 TB.
    The O(N²/2) triangular self-join (``embedding_neardup_pairs``)
    stays a fixture-scale cross-check in ``tests/test_dedup_plan.py``;
    the oracle replays the identical banding, so the hash check is
    exact."""
    return D.embedding_neardup_lsh(
        load_table(spark, sf_dir, "embeddings"), threshold=NEARDUP_COS_TAU
    )


#: second registered operating point on the banding s-curve: a tighter
#: near-dup radius over the same blocked plan (0.45 vs the primary
#: 0.35; fixture max pairwise cosine ≈ 0.513 keeps both non-trivial)
NEARDUP_COS_TAU_TIGHT = 0.45


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.embedding_neardup_lsh(
        load_table(spark, sf_dir, "embeddings"), threshold=NEARDUP_COS_TAU_TIGHT
    )


# replicate the hyperplane banding of registry_simsearch over the
# corpus-vs-corpus pair space, then exact-cosine verify
def _sql_dedup_lsh(tau: float) -> str:
    from .plans.duck_oracle import sql_dot, sql_sq_norm
    from .registry_simsearch import _sql_bands

    return f"""
WITH cb AS ({_sql_bands("embeddings", "vec_id", "embedding")}),
cand AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b, x.vec AS va, y.vec AS vb
  FROM cb x JOIN cb y ON x.band = y.band AND x.bkey = y.bkey AND x.id < y.id
),
pairs AS (
  SELECT id_a, id_b, round({sql_dot("va", "vb")} / (greatest(sqrt({sql_sq_norm("va")}), 1e-12) * greatest(sqrt({sql_sq_norm("vb")}), 1e-12)), 6) AS cos_sim
  FROM cand
)
SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= {tau}
"""


DEDUP_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "minhash_signatures": q_minhash_signatures,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_components": q_dedup_components,
    "simhash_sketch": q_simhash_sketch,
    "dedup_simhash": q_dedup_simhash,
    "dedup_embedding": q_dedup_embedding,
    "dedup_embedding_lsh": q_dedup_embedding_lsh,
}

DEDUP_ORACLES: dict[str, str] = {
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_ngram_jaccard": SQL_DEDUP_NGRAM,
    "minhash_signatures": SQL_MINHASH_SIGNATURES,
    "dedup_minhash_lsh": SQL_DEDUP_MINHASH,
    "dedup_components": SQL_DEDUP_COMPONENTS,
    "simhash_sketch": SQL_SIMHASH_SKETCH,
    "dedup_simhash": SQL_DEDUP_SIMHASH,
    "dedup_embedding": _sql_dedup_lsh(NEARDUP_COS_TAU),
    "dedup_embedding_lsh": _sql_dedup_lsh(NEARDUP_COS_TAU_TIGHT),
}


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup (cluster-blocked embedding near-dup)
# ---------------------------------------------------------------------------

def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-blocked embedding dedup (SemDeDup, arXiv:2303.09540):
    the IVF coarse quantizer partitions the corpus; near-dup pairs
    are found within cells only; one canonical vector survives per
    duplicate component. The oracle replays the identical quantizer
    (``kmeans_sql_ctes``), assignment, pair predicate, and unrolled
    label-propagation rounds."""
    return D.semantic_dedup(
        load_table(spark, sf_dir, "embeddings"), threshold=NEARDUP_COS_TAU
    )


def _sql_dedup_semantic(tau: float) -> str:
    from .plans.duck_oracle import sql_cos, sql_dist2
    from .registry_simsearch import _IVF_KM_CTES, _IVF_KM_FINAL

    n = D.CC_ITERS
    return f"""
WITH
ivfkm_pts AS (SELECT 0 AS grp, vec_id AS pid, embedding AS pvec FROM embeddings),
{_IVF_KM_CTES},
cents AS (SELECT cid AS centroid_id, cvec FROM {_IVF_KM_FINAL}),
assigned AS MATERIALIZED (
  SELECT vec_id, embedding, centroid_id AS cell FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY {sql_dist2("e.embedding", "c.cvec")} ASC, c.centroid_id ASC) AS r
    FROM embeddings e CROSS JOIN cents c
  ) WHERE r = 1
),
dup AS MATERIALIZED (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round({sql_cos("a.embedding", "b.embedding")}, 6) >= {tau}
),
-- MATERIALIZED: the unrolled label-propagation chain below references
-- edges once per round PER LEVEL, and DuckDB's default CTE inlining
-- re-evaluates the quantizer+assignment+pair pipeline 2^rounds times
-- (measured 296s vs 3s at sf0.1)
edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM dup
  UNION
  SELECT id_b AS src, id_a AS dst FROM dup
),
{_sql_cc_rounds(n)},
sizes AS (SELECT label, count(*) AS component_size FROM l{n} GROUP BY label)
SELECT a.vec_id, a.cell,
  coalesce(l.label, a.vec_id) AS component_id,
  coalesce(s.component_size, 1) AS component_size,
  CAST(coalesce(l.label, a.vec_id) = a.vec_id AS INT) AS is_canonical
FROM assigned a
LEFT JOIN l{n} l ON l.id = a.vec_id
LEFT JOIN sizes s ON s.label = l.label
"""


DEDUP_QUERIES["dedup_semantic"] = q_dedup_semantic
DEDUP_ORACLES["dedup_semantic"] = _sql_dedup_semantic(NEARDUP_COS_TAU)


# ---------------------------------------------------------------------------
# Incremental dedup: a new ingest batch against the existing corpus —
# the continuous-ingest shape every production pipeline runs (dedup is
# not a one-shot batch job; each arriving shard is checked against
# what is already stored).
# ---------------------------------------------------------------------------

#: deterministic batch split: every 5th doc is "incoming", the rest
#: is the stored corpus (scale-stable, no timestamps needed).
INC_MOD, INC_REM = 5, 4


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-incoming-doc dedup decision against the existing corpus:
    exact duplicate (hash-first match with exact text verification on
    the hash-colliding candidates only — document bodies never join
    at corpus width), near duplicate (the shared MinHash banding,
    restricted to incoming×existing pairs), and the composed keep
    bit. At scale the incoming side is a shard, the existing side's
    hashes/sketches are the persisted index exact_dedup and
    minhash_signatures already build."""
    docs = load_table(spark, sf_dir, "documents")
    inc_pred = F.col("doc_id") % INC_MOD == INC_REM

    h = docs.select(
        "doc_id", F.xxhash64(F.lower(F.col("text"))).alias("__h")
    )
    inc_h = h.where(inc_pred)
    ex_h = h.where(~inc_pred).select(F.col("doc_id").alias("ex_id"), "__h")
    cand = inc_h.join(ex_h, "__h").select("doc_id", "ex_id")
    ta = docs.select("doc_id", F.lower(F.col("text")).alias("__ta"))
    tb = docs.select(
        F.col("doc_id").alias("ex_id"), F.lower(F.col("text")).alias("__tb")
    )
    exact_ids = (
        cand.join(ta, "doc_id")
        .join(tb, "ex_id")
        .where(F.col("__ta") == F.col("__tb"))
        .select("doc_id")
        .distinct()
    )

    pairs = D.minhash_lsh_pairs(
        docs, n=SHINGLE_N, threshold=MINHASH_TAU
    )
    a_inc = (F.col("id_a") % INC_MOD == INC_REM) & (
        F.col("id_b") % INC_MOD != INC_REM
    )
    b_inc = (F.col("id_b") % INC_MOD == INC_REM) & (
        F.col("id_a") % INC_MOD != INC_REM
    )
    near_ids = (
        pairs.where(a_inc)
        .select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.where(b_inc).select(F.col("id_b").alias("doc_id")))
        .distinct()
    )

    inc = docs.where(inc_pred).select("doc_id")
    return (
        inc.join(exact_ids.withColumn("__e", F.lit(1)), "doc_id", "left")
        .join(near_ids.withColumn("__n", F.lit(1)), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("__e", F.lit(0)).alias("is_exact_dup"),
            F.coalesce("__n", F.lit(0)).alias("is_near_dup"),
            (F.col("__e").isNull() & F.col("__n").isNull())
            .cast("int")
            .alias("keep"),
        )
    )


SQL_DEDUP_INCREMENTAL = f"""
WITH {SQL_MINHASH_CTES},
bands AS MATERIALIZED ({_sql_band_rows()}),
cand AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b
  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.id < y.id
),
pairs AS (
  SELECT c.id_a, c.id_b, {_SQL_JAC} AS jaccard
  FROM cand c JOIN sh a ON a.id = c.id_a JOIN sh b ON b.id = c.id_b
),
dup AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= {MINHASH_TAU}),
near_ids AS (
  SELECT id_a AS doc_id FROM dup
  WHERE id_a % {INC_MOD} = {INC_REM} AND id_b % {INC_MOD} != {INC_REM}
  UNION
  SELECT id_b AS doc_id FROM dup
  WHERE id_b % {INC_MOD} = {INC_REM} AND id_a % {INC_MOD} != {INC_REM}
),
exact_ids AS (
  SELECT DISTINCT i.doc_id
  FROM documents i JOIN documents e2 ON lower(i.text) = lower(e2.text)
  WHERE i.doc_id % {INC_MOD} = {INC_REM} AND e2.doc_id % {INC_MOD} != {INC_REM}
),
inc AS (SELECT doc_id FROM documents WHERE doc_id % {INC_MOD} = {INC_REM})
SELECT inc.doc_id,
  CAST(x.doc_id IS NOT NULL AS INT) AS is_exact_dup,
  CAST(n.doc_id IS NOT NULL AS INT) AS is_near_dup,
  CAST(x.doc_id IS NULL AND n.doc_id IS NULL AS INT) AS keep
FROM inc
LEFT JOIN exact_ids x ON x.doc_id = inc.doc_id
LEFT JOIN near_ids n ON n.doc_id = inc.doc_id
"""

DEDUP_QUERIES["dedup_incremental"] = q_dedup_incremental
DEDUP_ORACLES["dedup_incremental"] = SQL_DEDUP_INCREMENTAL


def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(name_a, name_b, dist): blocked fuzzy entity matching — the
    catalog-title near-dup shape (edit distance over a BLOCKED pair
    space, never all-pairs). Distinct part names block on their last
    token; only within-block pairs pay the levenshtein, so the join
    fans out by block size, not N². Spark's ``levenshtein`` and
    DuckDB's are the same classic integer DP — exact cross-engine.
    At 100 TB blocking keys get coarser-to-finer tiers (token +
    length bucket + phonetic), but the plan shape — equi-join on the
    block key, predicate on the distance — is this one."""
    names = (
        load_table(spark, sf_dir, "part").select("p_name").distinct()
    )
    blocked = names.select(
        F.col("p_name"),
        F.element_at(F.split("p_name", " "), -1).alias("blk"),
    )
    a = blocked.select(F.col("p_name").alias("name_a"), "blk")
    b = blocked.select(F.col("p_name").alias("name_b"), "blk")
    return (
        a.join(b, "blk")
        .where(F.col("name_a") < F.col("name_b"))
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").alias("dist"),
        )
        .where(F.col("dist") <= 2)
    )


SQL_FUZZY_NAME_PAIRS = """
WITH n AS (SELECT DISTINCT p_name FROM part),
b AS (SELECT p_name, string_split(p_name, ' ')[-1] AS blk FROM n)
SELECT a.p_name AS name_a, c.p_name AS name_b,
       levenshtein(a.p_name, c.p_name) AS dist
FROM b a JOIN b c ON a.blk = c.blk AND a.p_name < c.p_name
WHERE levenshtein(a.p_name, c.p_name) <= 2
"""

DEDUP_QUERIES["fuzzy_name_pairs"] = q_fuzzy_name_pairs
DEDUP_ORACLES["fuzzy_name_pairs"] = SQL_FUZZY_NAME_PAIRS


def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (Lee et al. 2022): merged per-document
    token spans covered by a 16-token window that appears verbatim in
    ≥2 distinct documents at ANY offset — the unaligned-overlap class
    that ``dedup_chunks``'s aligned 16-token chunks and the
    document-level sketches both miss."""
    return D.substring_dedup(load_table(spark, sf_dir, "documents"))


def _sql_dedup_substring(L: int) -> str:
    # Same semantics with string windows: the Spark side groups by a
    # 64-bit window hash with an exact re-check on collision, which
    # equals GROUP BY window-text — what this oracle runs directly.
    return f"""
WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
w AS (SELECT doc_id, CAST(i - 1 AS INT) AS off,
             array_to_string(toks[i:i+{L - 1}], ' ') AS win
      FROM t, unnest(range(1, len(toks) - {L} + 2)) AS u(i)),
g AS (SELECT win FROM w GROUP BY win HAVING count(DISTINCT doc_id) >= 2),
h AS (SELECT DISTINCT doc_id, off FROM w JOIN g USING (win)),
m AS (SELECT doc_id, off,
             CASE WHEN lag(off) OVER (PARTITION BY doc_id ORDER BY off) IS NULL
                    OR off > lag(off) OVER (PARTITION BY doc_id ORDER BY off) + {L}
                  THEN 1 ELSE 0 END AS brk
      FROM h),
i AS (SELECT doc_id, off,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY off
                            ROWS UNBOUNDED PRECEDING) AS grp
      FROM m)
SELECT doc_id,
       CAST(min(off) AS INT) AS span_start,
       CAST(max(off) + {L - 1} AS INT) AS span_end,
       CAST(max(off) + {L} - min(off) AS INT) AS span_tokens
FROM i GROUP BY doc_id, grp
"""


DEDUP_QUERIES["dedup_substring"] = q_dedup_substring
DEDUP_ORACLES["dedup_substring"] = _sql_dedup_substring(D.SUBSTRING_L)
