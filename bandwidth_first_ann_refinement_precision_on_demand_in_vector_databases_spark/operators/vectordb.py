"""Vector-database query surface beyond plain top-K: metadata-filtered
search, radius (range) search, and hybrid keyword+vector fusion.

The reference engine answers one query shape — top-K under a distance
metric (``ANNCode.py:264-281``). A production vector database layers
three more shapes on the same index, and a 100 TB curation pipeline
uses all of them; each is expressed here as a declarative composition
of the operators that already exist, so Catalyst handles pushdown and
the physical plans inherit the broadcast/salt/partition-prune
decisions of the underlying building blocks.

* **Filtered top-K** — an attribute predicate restricts the corpus
  before ranking. Exact form: the filter lands in the parquet scan
  (predicate pushdown — at 100 TB this is the difference between
  scanning a label partition and scanning the corpus). IVF form:
  post-filtering of the probed cells' candidates, the standard
  filtered-ANN strategy when the filter is not the partition key.
* **Range search** — all neighbors within a distance budget rather
  than a count budget (the dedup-oriented query shape: "everything
  within ε", not "the 20 nearest").
* **Hybrid RRF** — reciprocal-rank fusion of a keyword rank (token
  overlap on ``documents``) and a vector rank (cosine on
  ``embeddings``), the de-facto hybrid-search scoring rule
  (Cormack et al., SIGIR'09: score = Σ 1/(κ + rank)). Both rank
  lists are per-query top-N (bounded), so the fusion join is q·N-row
  sized — never corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vector import cosine, dist2
from ..session import ensure_parallelism, memo
from .topk import exact_topk, topk_per_query

RRF_KAPPA = 60      #: the fusion constant from the RRF paper
HYBRID_TOPN = 20    #: per-side rank-list depth
HYBRID_K = 10       #: fused results kept per query

BM25_K1 = 1.2       #: tf saturation (Robertson defaults)
BM25_B = 0.75       #: length normalization
BM25_SCALE = 1_000_000  #: fixed-point micro-units for exact replay


def filtered_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    predicate: Column,
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-K restricted to corpus rows satisfying ``predicate``.

    The predicate is applied before scoring, so Catalyst pushes it
    into the parquet scan (``PushedFilters``) — the ranked set never
    materializes the excluded rows.
    """
    return exact_topk(queries, corpus.where(predicate), k, metric=metric)


def filtered_ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    predicate: Column,
) -> DataFrame:
    """IVF top-K (cosine) with attribute post-filtering: probe the
    usual ``IVF_NPROBE`` cells, drop candidates failing the predicate,
    rank the rest. The index is built on the FULL corpus (filter
    choice must not change cell geometry); the filter applies to the
    candidate stream, where at scale it rides the same stored row as
    the cell key (here: re-joined from the corpus scan by vec_id).
    """
    from .simsearch import IVF_NPROBE, ivf_assign, ivf_centroids, ivf_probes

    cents = ivf_centroids(corpus)
    assigned = ivf_assign(corpus, cents)
    keep = corpus.where(predicate).select("vec_id")
    probed = ivf_probes(queries, cents, IVF_NPROBE)
    cand = (
        F.broadcast(probed)
        .join(assigned.join(keep, "vec_id", "semi"), "cell")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine("qvec", "embedding").alias("score"),
        )
    )
    return topk_per_query(cand, k, ascending=False)


#: safety factor on the derived routing crossover: the post-filter
#: route is taken only when the EXPECTED number of predicate
#: survivors inside the probed cells, s·N·nprobe/cells, is at least
#: ``fill_factor·K`` — i.e. the probed stream is expected to fill the
#: result. 1.0 is the neutral break-even from the derivation in
#: reports/FILTER_ROUTING.md; raise it to demand recall headroom.
ROUTE_FILL_FACTOR = 1.0


def routed_filtered_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    predicate: Column,
    fill_factor: float = ROUTE_FILL_FACTOR,
) -> tuple[DataFrame, str]:
    """Selectivity-routed filtered top-K: returns ``(result,
    route)`` with route ∈ {"prefilter", "postfilter"}.

    The router picks the plan a filtered-vector-database would
    (ACORN-style strategy choice, Patel et al. SIGMOD 2024 — public
    method) from the DERIVED crossover rather than a fixed constant
    (r10 ADVICE/VERDICT #3): post-filtered IVF probing can only fill
    K when the probed cells are expected to carry enough predicate
    survivors, E = s·N·nprobe/cells. Route:

    * ``E < fill_factor·k`` → pre-filter + exact rank over survivors
      (the predicate reaches the scan as a PushedFilter; recall
      exactly 1.0 at cost q·s·N scored pairs — and at this regime
      s·N is small by construction);
    * ``E ≥ fill_factor·k`` → post-filtered IVF probing
      (``filtered_ivf_topk`` — the index prunes the scan and the
      probed stream is expected to fill K).

    With the engine's stride-``IVF_STRIDE`` centroid policy the
    crossover is N-independent — E = s·nprobe·(N/cells) =
    s·nprobe·IVF_STRIDE — so the same rule holds at any corpus size;
    a hard-coded selectivity constant is wrong the moment nprobe,
    the centroid policy, or K changes (it was only correct for
    nprobe/cells = 3/80, K = 20). At a selective predicate the
    post-filter route is recall-broken, not just slower: measured
    recall 0.0688 at s≈2% (E≈1.7 ≪ K) vs the router's 1.0, and at
    the mid-selectivity disagreement point s≈10% (E≈7 < K=20) the
    old 5% rule still picks the broken route
    (``tests/test_vectordb.py``; reports/FILTER_ROUTING.md).

    The statistics (N, survivor count, cell count) are scan-light
    aggregates memoized per (session, corpus, predicate) — the role
    catalog statistics play in a production planner. At 100 TB, N
    and the survivor count come from partition/footer statistics
    (row counts + predicate min/max pruning) and the cell count is
    an index-catalog property; none requires a data scan."""
    from .simsearch import IVF_NPROBE, IVF_STRIDE

    # Cell count is a CATALOG property of the stride policy, not a
    # training result: kmeans seeds every vec_id % IVF_STRIDE == 0
    # row and empty clusters keep their previous centroid
    # (operators/kmeans.py), so |cells| == |seed rows| exactly.
    # Counting seeds keeps quantizer training out of the router —
    # the prefilter route must not pay a k-means build for an
    # index it never touches (r11 ADVICE #2).
    n, surv, cells = memo(
        corpus.sparkSession,
        "filter_route_stats",
        (corpus, str(predicate)),
        lambda: (
            corpus.count(),
            corpus.where(predicate).count(),
            corpus.where(F.col("vec_id") % IVF_STRIDE == 0).count(),
        ),
    )
    expected_probed_survivors = surv * IVF_NPROBE / max(cells, 1)
    if expected_probed_survivors < fill_factor * k:
        return filtered_topk(queries, corpus, k, predicate, metric="cosine"), "prefilter"
    return filtered_ivf_topk(queries, corpus, k, predicate), "postfilter"


def range_search(
    queries: DataFrame, corpus: DataFrame, radius2: float
) -> DataFrame:
    """All (query, neighbor) pairs with ‖q − v‖² ≤ radius2 —
    count-unbounded, distance-bounded retrieval. Queries broadcast;
    the corpus streams once; the predicate filters the scored stream
    before any shuffle, so output size (not q×N) is what moves."""
    q = F.broadcast(queries.select("query_id", F.col("embedding").alias("qv")))
    c = ensure_parallelism(corpus.select(F.col("vec_id").alias("neighbor_id"), "embedding"))
    return (
        c.crossJoin(q)
        .select("query_id", "neighbor_id", dist2("qv", "embedding").alias("d2"))
        .where(F.col("d2") <= F.lit(radius2))
    )


def _doc_tokens(text: Column) -> Column:
    """Distinct whitespace tokens — the keyword-match unit."""
    return F.array_distinct(F.split(text, " "))


def keyword_topn(query_docs: DataFrame, docs: DataFrame, n: int) -> DataFrame:
    """(query_id, kw_rank, doc_id): per-query top-N documents by
    distinct-token overlap with the query document, ranked among true
    candidates only (overlap ≥ 1; a keyword engine never returns
    zero-score docs), ties → smaller doc_id.

    Plan: inverted index, not a θ-join — explode both sides to
    (id, token) rows and equi-join on the token (same shape as the
    shingle index in ``operators/dedup.py``). The corpus never
    carries its token arrays through a q×N comparison; the join
    output is bounded by posting-list co-occurrence, and the
    broadcast-sized query side makes it map-side. Measured ~2×
    over the array_intersect cross join at fixture scale, and at
    100 TB it is the only shape that works (the θ-join reads every
    document once per query)."""
    qt = F.broadcast(
        query_docs.select(
            F.col("doc_id").alias("query_id"),
            F.explode(_doc_tokens(F.col("text"))).alias("tok"),
        )
    )
    dt = docs.select("doc_id", F.explode(_doc_tokens(F.col("text"))).alias("tok"))
    overlap = (
        dt.join(qt, "tok")
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").alias("n_common"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_common").desc(), F.col("doc_id").asc()
    )
    return (
        overlap.withColumn("kw_rank", F.row_number().over(w))
        .where(F.col("kw_rank") <= n)
        .select("query_id", "kw_rank", "doc_id")
    )


def _posting_frames_cached(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(toks, tf): the persisted posting file (one row per token
    occurrence) and the per-(doc, token) term-frequency table — the
    shared lexical-index artifacts behind bm25/tfidf, memoized per
    (session, corpus) via ``session.memo`` so repeated scoring calls
    reuse one cached relation pair."""
    spark = docs.sparkSession
    toks = memo(
        spark,
        "posting_toks",
        docs,
        lambda: docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
        ).persist(),
    )
    tf = memo(
        spark,
        "posting_tf",
        docs,
        lambda: toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf")).persist(),
    )
    return toks, tf


def bm25_topn(query_docs: DataFrame, docs: DataFrame, n: int) -> DataFrame:
    """(query_id, rank, doc_id, score_micro): per-query top-N by BM25
    (Robertson/Lucene shape: idf = ln((N−df+0.5)/(df+0.5)+1), tf
    saturation k1 = 1.2, length normalization b = 0.75), ties →
    smaller doc_id.

    Cross-engine determinism: Spark's ``log`` and DuckDB's ``ln``
    disagree at the last ULP on ~8% of inputs (measured), so the idf
    is quantized to fixed-point micro-units immediately after the
    ``ln`` — the only inexact op in the formula — and per-(q,d) term
    scores are floored to BIGINT micro-units before summation, making
    the aggregate order-independent and hash-exact (the same trick
    the k-means mean update uses). ``score_micro`` = BM25 × 10⁶.

    Plan shape: tf/dl/df are the classic one-scan map-reduce
    aggregations of the posting file; idf and the corpus stats are
    broadcast-sized; the query side is broadcast; the per-(q,d) sum
    combines map-side. No q×N comparison anywhere."""
    # the exploded posting file feeds tf AND dl, and tf feeds dfs AND
    # the term join — persist both or Spark re-runs the full
    # scan+explode lineage per consumer (the repo-wide ≥2-consumer
    # rule). Lifecycle: the persisted posting frames are
    # session-memoized per source corpus (session.memo),
    # so repeated invocations in a long-lived session reuse ONE pair
    # of cached relations instead of accumulating; tfidf_topn shares
    # the same tf frame. clear_caches releases them.
    toks, tf = _posting_frames_cached(docs)
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    nstat = docs.agg(F.count("*").alias("n"))
    avgstat = dl.agg(
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl")
    )
    dfs = tf.groupBy("tok").agg(F.count("*").alias("df"))
    idf = dfs.crossJoin(F.broadcast(nstat)).select(
        "tok",
        (
            F.floor(
                F.log(
                    (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
                )
                * BM25_SCALE
            )
            / F.lit(float(BM25_SCALE))
        ).alias("idf"),
    )
    qt = F.broadcast(
        query_docs.select(
            F.col("doc_id").alias("query_id"),
            F.explode(_doc_tokens(F.col("text"))).alias("tok"),
        )
    )
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    term6 = F.floor(
        F.col("idf")
        * (tfd * F.lit(BM25_K1 + 1.0))
        / (tfd + F.lit(BM25_K1) * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * dld / F.col("avgdl")))
        * BM25_SCALE
    ).cast("bigint")
    terms = (
        tf.join(qt, "tok")
        .join(dl, "doc_id")
        .join(F.broadcast(idf), "tok")
        .crossJoin(F.broadcast(avgstat))
        .select("query_id", "doc_id", term6.alias("t6"))
    )
    scored = terms.groupBy("query_id", "doc_id").agg(
        F.sum("t6").alias("score_micro")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= n)
        .select("query_id", "rank", "doc_id", "score_micro")
    )


def tfidf_topn(query_docs: DataFrame, docs: DataFrame, n: int) -> DataFrame:
    """(query_id, rank, doc_id, score_micro): per-query top-N by
    TF-IDF — the SMART ``ltn``-style pre-BM25 ranking a retrieval
    stack keeps as its simplest lexical scorer. Smooth idf
    (sklearn convention): idf = ln((N+1)/(df+1)) + 1, never negative
    and defined for df = N; score = Σ_{t ∈ distinct query tokens}
    tf(t, d) · idf(t)². Length normalization is deliberately NOT
    applied — ``bm25_topn`` is the length-normalized ranking; this is
    the raw-weight variant, and keeping both shows the saturation/
    normalization effect on the same fixture.

    Cross-engine determinism: same discipline as ``bm25_topn`` —
    the idf is quantized to micro-units immediately after the only
    ``ln()``, and per-(q,d) term scores are floored to BIGINT
    micro-units before summation (order-independent, hash-exact).

    Plan shape: tf/df are the one-scan posting aggregates; idf joins
    tf on the token key (shuffle moves the posting file once); the
    query side is broadcast; the per-(q,d) sum combines map-side.
    No q×N comparison anywhere."""
    # tf feeds dfs AND the term join (≥2-consumer persist rule);
    # shared with bm25_topn via the session memo
    _, tf = _posting_frames_cached(docs)
    nstat = docs.agg(F.count("*").alias("n"))
    dfs = tf.groupBy("tok").agg(F.count("*").alias("df"))
    idf = dfs.crossJoin(F.broadcast(nstat)).select(
        "tok",
        (
            F.floor(
                F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)) * BM25_SCALE
            )
            / F.lit(float(BM25_SCALE))
            + F.lit(1.0)
        ).alias("idf"),
    )
    qt = F.broadcast(
        query_docs.select(
            F.col("doc_id").alias("query_id"),
            F.explode(_doc_tokens(F.col("text"))).alias("tok"),
        )
    )
    term6 = F.floor(
        F.col("tf").cast("double") * F.col("idf") * F.col("idf") * BM25_SCALE
    ).cast("bigint")
    terms = (
        tf.join(qt, "tok")
        .join(F.broadcast(idf), "tok")
        .select("query_id", "doc_id", term6.alias("t6"))
    )
    scored = terms.groupBy("query_id", "doc_id").agg(
        F.sum("t6").alias("score_micro")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= n)
        .select("query_id", "rank", "doc_id", "score_micro")
    )


MMR_LAMBDA = 0.7   #: relevance weight (1−λ penalizes redundancy)
MMR_TOPN = 10      #: candidate pool per query
MMR_K = 5          #: diversified results kept


def mmr_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = MMR_K,
    topn: int = MMR_TOPN,
    lam: float = MMR_LAMBDA,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98): greedily pick ``k`` of the top-``topn`` cosine
    candidates, each step maximizing λ·rel(d) − (1−λ)·max_{s∈S}
    sim(d, s) — relevance traded against redundancy with what is
    already selected. The diversity-aware retrieval pass a RAG
    pipeline runs after ANN.

    Greedy selection is inherently sequential in k, so the k steps
    are UNROLLED into k declarative rounds (k is a small constant —
    the plan is k joins over per-query frames of ≤ topn rows). Per
    round: join remaining candidates to the selected set through the
    candidate-pair similarity table (q·topn² rows, bounded), take the
    max-sim penalty, and argmax the MMR score via one aggregate —
    ties → smaller doc id. No loop state leaves the plan; the DuckDB
    twin replays the same k rounds as CTEs.

    Returns (query_id, rank, doc_id, mmr) where ``mmr`` is the score
    the item was selected with (rank 1 = λ·rel, no penalty).
    """
    cand = (
        exact_topk(queries, corpus, topn, metric="cosine")
        .select("query_id", F.col("neighbor_id").alias("doc_id"), F.col("score").alias("rel"))
    )
    emb = corpus.select(F.col("vec_id").alias("doc_id"), F.col("embedding").alias("__e"))
    ce = cand.join(emb, "doc_id").select("query_id", "doc_id", "rel", "__e")
    a = ce.select("query_id", F.col("doc_id").alias("id_a"), F.col("__e").alias("ea"))
    b = ce.select("query_id", F.col("doc_id").alias("id_b"), F.col("__e").alias("eb"))
    pairs = (
        a.join(b, "query_id")
        .where(F.col("id_a") != F.col("id_b"))
        .select("query_id", "id_a", "id_b", cosine("ea", "eb").alias("sim"))
    )
    cand = cand.select("query_id", "doc_id", "rel")

    def argmax(scored: DataFrame) -> DataFrame:
        """(query_id, doc_id, mmr) of the per-query MMR maximizer
        (ties → smaller doc_id), via one struct-max aggregate."""
        return (
            scored.groupBy("query_id")
            .agg(F.max(F.struct(F.col("mmr"), (-F.col("doc_id")).alias("nid"))).alias("s"))
            .select(
                "query_id",
                (-F.col("s.nid")).cast("long").alias("doc_id"),
                F.col("s.mmr").alias("mmr"),
            )
        )

    # round 1: no selected set, penalty = 0. Each round's selected set
    # is eagerly checkpointed (a ≤ q·k-row frame): every later round
    # references it at least twice (anti-join + penalty join), and
    # without truncation round r re-executes rounds 1..r−1 per
    # consumer — the same lineage blow-up the CC propagation cuts.
    cand = cand.localCheckpoint(eager=False)
    pairs = pairs.localCheckpoint(eager=False)
    selected = (
        argmax(cand.select("query_id", "doc_id", (F.lit(lam) * F.col("rel")).alias("mmr")))
        .select("query_id", F.lit(1).alias("rank"), "doc_id", "mmr")
        .localCheckpoint(eager=False)
    )

    p = pairs.select(
        F.col("query_id").alias("pq"),
        F.col("id_a").alias("pa"),
        F.col("id_b").alias("pb"),
        "sim",
    )
    for step in range(2, k + 1):
        remaining = cand.join(
            selected.select("query_id", "doc_id"), ["query_id", "doc_id"], "left_anti"
        )
        sel_b = selected.select(
            F.col("query_id").alias("sq"), F.col("doc_id").alias("sb")
        )
        penalty = (
            remaining.join(sel_b, F.col("query_id") == F.col("sq"))
            .join(
                p,
                (F.col("query_id") == F.col("pq"))
                & (F.col("doc_id") == F.col("pa"))
                & (F.col("sb") == F.col("pb")),
            )
            .groupBy("query_id", "doc_id")
            .agg(F.max("sim").alias("pen"))
        )
        scored = (
            remaining.join(penalty, ["query_id", "doc_id"])
            .select(
                "query_id",
                "doc_id",
                (F.lit(lam) * F.col("rel") - F.lit(1.0 - lam) * F.col("pen")).alias("mmr"),
            )
        )
        selected = selected.unionByName(
            argmax(scored).select("query_id", F.lit(step).alias("rank"), "doc_id", "mmr")
        ).localCheckpoint(eager=False)
    return selected


def rrf_fuse(
    kw: DataFrame,
    vec: DataFrame,
    k: int = HYBRID_K,
    kappa: int = RRF_KAPPA,
) -> DataFrame:
    """Reciprocal-rank fusion of two bounded per-query rank lists —
    ``kw`` (query_id, kw_rank, doc_id) and ``vec`` (query_id,
    vec_rank, doc_id): rrf(d) = Σ_sides 1/(κ + rank_side(d)), a side
    contributing 0 when d is outside its list. Output is the fused
    per-query top-``k`` (ties → smaller doc_id). Both inputs are
    q·topn rows, so the full outer join and the final ranking never
    touch the corpus again."""
    fused = (
        kw.join(vec, ["query_id", "doc_id"], "full_outer")
        .select(
            "query_id",
            "doc_id",
            (
                F.coalesce(1.0 / (F.lit(kappa) + F.col("kw_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(kappa) + F.col("vec_rank")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "rrf")
    )


def _vec_ranks(queries: DataFrame, corpus: DataFrame, topn: int) -> DataFrame:
    return exact_topk(queries, corpus, topn, metric="cosine").select(
        "query_id", F.col("rank").alias("vec_rank"), F.col("neighbor_id").alias("doc_id")
    )


def hybrid_rrf(
    query_docs: DataFrame,
    docs: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int = HYBRID_K,
    topn: int = HYBRID_TOPN,
    kappa: int = RRF_KAPPA,
) -> DataFrame:
    """RRF of the token-overlap keyword rank list × exact cosine."""
    return rrf_fuse(
        keyword_topn(query_docs, docs, topn), _vec_ranks(queries, corpus, topn), k, kappa
    )


def hybrid_bm25_rrf(
    query_docs: DataFrame,
    docs: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int = HYBRID_K,
    topn: int = HYBRID_TOPN,
    kappa: int = RRF_KAPPA,
) -> DataFrame:
    """RRF with the BM25 rank list as the lexical side — the
    production hybrid-search default (BM25 × dense, fused by rank so
    the incomparable score scales never meet)."""
    kw = bm25_topn(query_docs, docs, topn).select(
        "query_id", F.col("rank").alias("kw_rank"), "doc_id"
    )
    return rrf_fuse(kw, _vec_ranks(queries, corpus, topn), k, kappa)
