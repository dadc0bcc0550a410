"""Deduplication operators for the training-data pipeline (SURVEY
§7-M5; north-star LLM-pipeline ops). The reference has no text dedup
(`ANNCode.py` is numeric-only); this is the additive 100 TB-scope
surface, built shuffle-first:

* **exact dedup** — hash-groupBy on the text (map-side combine; one
  shuffle keyed by the text hash, never by the text itself at scale).
* **n-gram Jaccard** — candidate pairs from an inverted shingle index
  (equi-join on shingle, document-frequency cap kills hub shingles),
  then exact Jaccard verification of candidates only.
* **MinHash + LSH** — shingle → K affine min-hashes → B bands →
  bucket equi-join → candidates → exact-Jaccard verify. The classic
  s-curve; all hash constants deterministic module constants shared
  with the DuckDB oracles.
* **SimHash** — 32-bit sign-of-sum sketch per document; near pairs
  via byte-band pigeonhole (hamming ≤ 3 ⇒ one of 4 bytes equal, so
  banding is lossless for the declared radius).
* **embedding cosine near-dup** — pairwise cosine ≥ τ; blocked
  self-join at fixture scale, LSH-bucketed variant in ``simsearch``.

Every candidate-generation trick here only *reduces pairs examined*;
survivors are re-verified with the exact predicate, so results equal
the naive quadratic semantics whenever generation is lossless (DF cap
disabled / radius within pigeonhole bound) — which is what the DuckDB
oracles check.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import ensure_parallelism
from ..functions.text import HASH_P, poly_hash, tokens, word_shingles
from ..functions.vector import cosine

#: MinHash configuration: K = BANDS × ROWS_PER_BAND affine permutations
#: (a·h + b) mod P with coefficients drawn once from a fixed seed.
MINHASH_K = 12
MINHASH_BANDS = 4
MINHASH_ROWS = 3
_rng = np.random.default_rng(42)
MINHASH_A: tuple[int, ...] = tuple(
    int(x) for x in _rng.integers(1, HASH_P, size=MINHASH_K)
)
MINHASH_B: tuple[int, ...] = tuple(
    int(x) for x in _rng.integers(0, HASH_P, size=MINHASH_K)
)

SIMHASH_BITS = 32
SIMHASH_BANDS = 4  # byte-wide bands → lossless for hamming ≤ 3


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: canonical (minimum) id + multiplicity
    per distinct (lowercased) text.

    Hash-first at scale: the shuffle is keyed by ``xxhash64`` of the
    canonicalized text — 8 bytes per row with map-side combine — never
    by the document body itself. A second, independently-seeded hash
    travels through the same aggregate as a collision detector
    (``count_distinct``): buckets whose rows disagree on the check
    hash are re-resolved by exact text via a broadcast join back over
    just those buckets, so a genuine 64-bit collision costs one extra
    tiny join instead of silently merging distinct documents. Both
    branches together equal the naive ``GROUP BY lower(text)``
    semantics (which is what the DuckDB oracle runs).
    """
    low = F.lower(F.col(text_col))
    hashed = docs.select(
        F.col(id_col).alias("__id"),
        F.xxhash64(low).alias("__h"),
        F.xxhash64(F.lit("bfann-collision-check"), low).alias("__fp"),
    )
    buckets = hashed.groupBy("__h").agg(
        F.min("__id").alias("canonical_id"),
        F.count("*").alias("n_copies"),
        F.count_distinct("__fp").alias("__nfp"),
    )
    clean = buckets.where(F.col("__nfp") == 1).select("canonical_id", "n_copies")
    colliding = buckets.where(F.col("__nfp") > 1).select("__h")
    resolved = (
        docs.select(
            F.col(id_col).alias("__id"),
            low.alias("__t"),
            F.xxhash64(low).alias("__h"),
        )
        .join(F.broadcast(colliding), "__h")
        .groupBy("__h", "__t")
        .agg(F.min("__id").alias("canonical_id"), F.count("*").alias("n_copies"))
        .select("canonical_id", "n_copies")
    )
    return clean.unionByName(resolved)


def shingle_index(docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Inverted index (id, shingle) of distinct word n-grams — the
    substrate for Jaccard candidate generation. Exploding is the
    scalable form: the shuffle is keyed by shingle, so the join that
    follows is a plain hash partition, no broadcast of the corpus."""
    # tokenize in its own projection so the shingle window slices read
    # a materialized array attribute, not a re-evaluated split
    tokd = ensure_parallelism(docs).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("__toks")
    )
    return tokd.select(
        "id", F.explode(word_shingles(F.col("__toks"), n)).alias("shingle")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.1,
    max_df: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Document pairs with word-``n``-gram Jaccard ≥ ``threshold``.

    Plan shape: inverted index → (optional) document-frequency cap →
    self equi-join on shingle → per-pair intersection counts → exact
    Jaccard against true set sizes. With ``max_df=None`` generation is
    lossless and the result equals the naive all-pairs semantics; at
    100 TB set ``max_df`` to drop hub shingles (a shingle in d docs
    contributes d² join rows — the classic skew bomb) and accept the
    documented recall trade.
    """
    # sizes, the optional DF cap, and both join sides read the index;
    # persist so the shingle explode runs once per document
    idx = shingle_index(docs, n, text_col, id_col).persist()
    sizes = idx.groupBy("id").agg(F.count("*").alias("n_sh"))
    if max_df is not None:
        keep = idx.groupBy("shingle").agg(F.count("*").alias("df")).where(
            F.col("df") <= max_df
        )
        idx = idx.join(keep.select("shingle"), "shingle")
    a = idx.select(F.col("id").alias("id_a"), "shingle")
    b = idx.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    ).cast("double")
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document MinHash signature (one column per hash) — the
    persisted sketch a 100 TB pipeline computes once per document and
    reuses across dedup runs.

    Map-reduce shape: shingles explode to rows, the rolling hash runs
    **once per shingle**, and the K permutations are K cheap affine
    min-aggregates over the hashed rows (map-side partial combine).
    The naive form — K ``array_min(transform(...))`` columns — makes
    Catalyst inline the char-level hash fold into every permutation
    (K× recompute; measured 47× slower at sf0.1)."""
    sigs = minhash_signatures_from_index(shingle_index(docs, n, text_col, id_col))
    # docs too short to shingle keep a row of NULL signature values
    ids = docs.select(F.col(id_col).alias("id"))
    return ids.join(sigs, "id", "left")


def minhash_signatures_from_index(sh: DataFrame) -> DataFrame:
    """Per-document MinHash signature rebuilt from an ``(id, shingle)``
    index — the stored-sketch path: when the shingle index is already
    materialized (the streaming sketch store), signatures cost one
    hash+aggregate pass over it instead of re-tokenizing the corpus.
    Identical to :func:`minhash_signatures` for every document with
    ≥1 shingle; shingle-less documents are absent here (they carry
    NULL signatures in the doc form and are dropped by
    ``minhash_band_buckets`` either way, so the band rows are equal)."""
    hashed = sh.select("id", poly_hash(F.col("shingle")).alias("__h"))
    aggs = [
        F.min((F.lit(MINHASH_A[k]) * F.col("__h") + F.lit(MINHASH_B[k])) % F.lit(HASH_P)).alias(f"mh_{k}")
        for k in range(MINHASH_K)
    ]
    return hashed.groupBy("id").agg(*aggs)


def minhash_band_buckets(sigs: DataFrame) -> DataFrame:
    """(band, bucket-key, id): signature rows folded into LSH bands;
    the bucket key concatenates the band's hash values (collision-free,
    engine-portable)."""
    bands = []
    for band in range(MINHASH_BANDS):
        cols = [
            F.col(f"mh_{band * MINHASH_ROWS + r}").cast("string")
            for r in range(MINHASH_ROWS)
        ]
        bands.append(
            F.struct(
                F.lit(band).alias("band"),
                F.concat_ws(",", *cols).alias("bkey"),
            )
        )
    # unshingleable docs have NULL signatures: excluded, matching the
    # SQL twin where NULL keys never satisfy the band equi-join
    return (
        sigs.where(F.col("mh_0").isNotNull())
        .select("id", F.explode(F.array(*bands)).alias("bb"))
        .select("id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding, verified with exact
    Jaccard ≥ ``threshold``. The band equi-join replaces the all-pairs
    comparison: a pair is examined only if it collides in ≥1 band
    (probability 1−(1−j^r)^b — the LSH s-curve), then the exact
    predicate decides. Deterministic end-to-end: constants are fixed,
    so the DuckDB oracle replays the identical pipeline."""
    sigs = minhash_signatures(docs, n, text_col, id_col)
    # both self-join sides read the band frame and three consumers
    # read the shingle index; persist both so the shingle explode +
    # rolling hash run once per document, not 5× (the persisted
    # sketch/index is what a production dedup pipeline stores anyway)
    bb = minhash_band_buckets(sigs).persist()
    cand = (
        bb.alias("x")
        .join(bb.alias("y"), ["band", "bkey"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    idx = shingle_index(docs, n, text_col, id_col).persist()
    sizes = idx.groupBy("id").agg(F.count("*").alias("n_sh"))
    a = idx.select(F.col("id").alias("id_a"), "shingle")
    b = idx.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        cand.join(a, "id_a")
        .join(b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    jac = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    ).cast("double")
    return (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def simhash_sketch(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """32-bit SimHash per document: each token (with multiplicity)
    votes ±1 on every bit of its rolling hash; bit b of the sketch is
    1 iff the vote sum is positive. Map-reduce shape — explode tokens
    × bits, two hash aggregations — no Python in the path."""
    toked = ensure_parallelism(docs).select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    ).select("id", poly_hash(F.col("tok")).alias("h"))
    # one conditional sum per bit instead of exploding rows ×32: same
    # votes, but the shuffle carries one row per document with 32
    # partial sums (map-side combine) rather than 32× the token rows
    votes = toked.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b) % 2 == 1, 1).otherwise(-1)
            ).alias(f"v_{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    packed = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"v_{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        packed = term if packed is None else packed + term
    return votes.select("id", packed.alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pairs with SimHash hamming distance ≤ ``max_hamming`` (≤ 3).
    Byte-band blocking: 4 bands of 8 bits; by pigeonhole any pair
    within hamming 3 agrees on ≥1 whole byte, so the band equi-join
    is lossless for the declared radius — exactness re-checked with
    ``bit_count(xor)`` on survivors."""
    if max_hamming >= SIMHASH_BANDS:
        raise ValueError("byte-banding is only lossless for hamming < 4")
    # the band frame feeds both sides of the self-join; without a
    # persist the whole sketch pipeline (tokenize → explode → 32
    # vote aggregates) runs twice. 4 scalar rows per document —
    # this is the sketch a 100 TB pipeline materializes anyway.
    sk = simhash_sketch(docs, text_col, id_col)
    bands = sk.select(
        "id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BANDS - 1))).alias("band"),
    ).select(
        "id",
        "simhash",
        "band",
        F.expr("shiftright(simhash, band * 8) % 256").alias("bkey"),
    ).persist()
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "bkey"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.col("x.simhash").alias("h_a"),
            F.col("y.simhash").alias("h_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return cand.select("id_a", "id_b", ham.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.35,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding pairs with cosine ≥ τ. Fixture-scale realization is
    the triangular self-join (N²/2 candidate rows); the 100 TB path is
    hyperplane-LSH blocking (``simsearch.lsh_signature``) with the
    same exact-cosine verification on survivors."""
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    cos = cosine(F.col("va"), F.col("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 6).alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def embedding_neardup_lsh(
    emb: DataFrame,
    threshold: float = 0.35,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding near-dup pairs, LSH-blocked (the 100 TB path for
    ``embedding_neardup_pairs``): candidates are pairs sharing ≥1
    hyperplane signature band (cosine-space blocking — random
    hyperplanes preserve angular closeness), then the exact cosine
    predicate verifies survivors. The band equi-join replaces the
    N²/2 triangular join; recall vs. the exact variant follows the
    banding s-curve."""
    from .simsearch import lsh_signature_bands

    # both self-join sides read the band frame: persist so the 16
    # hyperplane projections run once per vector, not twice
    bands = lsh_signature_bands(emb, vec_col, id_col).persist()
    # distinct over the id pair only (arrays re-attach afterwards —
    # see lsh_topk for the shuffle-width rationale)
    cand_ids = (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "bkey"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    cos = cosine(F.col("va"), F.col("vb"))
    return (
        cand_ids.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", F.round(cos, 6).alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


#: label-propagation rounds the unrolled DuckDB oracles replay: on the
#: fixture graphs (shallow near-dup clusters) plain neighbor-min
#: reaches its fixpoint well inside this many hops, so the oracle's
#: fixed unroll and the engine's run-to-fixpoint loop agree exactly.
#: The ENGINE no longer truncates at this constant — see
#: ``duplicate_components`` (fixpoint contract + shortcut rounds).
CC_ITERS = 5
#: hard safety cap on fixpoint rounds. With the per-round label
#: shortcut the rounds needed are ~log₂(component diameter), so 50
#: rounds cover diameters up to ~2^49 — any graph that still moves at
#: the cap indicates a broken monotonicity invariant, and the
#: operator RAISES rather than returning silently split components
#: (the r06-verdict defect: a diameter > iters path used to get
#: truncated labels with no error).
CC_MAX_ROUNDS = 50


def duplicate_components(
    pairs: DataFrame,
    max_rounds: int = CC_MAX_ROUNDS,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Cluster duplicate PAIRS into connected components — what a
    production dedup actually needs (pick one canonical doc per
    component, not per pair). Iterative min-label propagation TO THE
    FIXPOINT, as declarative plans; labels initialized to the node
    id, restricted to nodes that appear in at least one pair. Each
    round applies two monotone steps:

    1. neighbor-min: ``label(v) ← min(label(v), min over neighbors
       n of label(n))`` — the textbook BSP propagation (diameter
       rounds alone);
    2. label shortcut: ``label(v) ← label(label(v))`` — pointer
       jumping (every label value is itself a node id in the frame,
       so the label frame self-joins as its own lookup table). The
       composition converges in ~log₂(diameter) rounds — the same
       doubling idea as the large-star/small-star contraction
       (Kiveris et al. 2014) expressed as two equi-joins.

    Returns ``(doc_id, component_id, component_size)`` with
    ``component_id`` = the component's smallest doc id.

    Scale: each round is two equi-joins of the (small) edge/label
    sets plus a min-aggregate. The edge set is CHECKPOINTED once
    before iterating, and the label frame is checkpointed EVERY
    round: every round (and both final consumers — the size aggregate
    and the membership join) references it, so without truncation the
    logical plan re-embeds the whole upstream pair pipeline 2^rounds
    times (the explain string alone OOMs the driver — measured) and
    the final action executes the full round chain once per consumer.
    Iterative operators must cut lineage, exactly as the k-means
    trainer persists its per-round centroids.

    Fixpoint detection: per-node labels only ever decrease, so the
    label SUM (exact DECIMAL — immune to LONG overflow at
    billion-node scale) is unchanged between rounds iff the fixpoint
    is reached. At the fixpoint labels are constant per component and
    equal to the component minimum. If the sum still moves after
    ``max_rounds`` rounds the operator RAISES (monotone + shortcut
    makes that unreachable for any real graph; silence was the r06
    defect). The unrolled DuckDB oracles replay ``CC_ITERS`` plain
    rounds — enough to BE the fixpoint on the fixture graphs, which
    is what keeps both engines bit-identical."""
    sym = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).unionByName(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    )
    edges = sym.distinct().localCheckpoint(eager=False)
    labels = edges.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    )
    prev_sum = None
    converged = False
    for _ in range(max_rounds):
        nb = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nb_label"))
        )
        stepped = labels.join(nb, labels.id == nb.src, "left").select(
            "id",
            F.least(
                F.col("label"), F.coalesce("nb_label", F.col("label"))
            ).alias("label"),
        )
        # pointer jump: label ← label(label). Every label value is a
        # node id present in the frame (labels start as ids and only
        # ever take other nodes' labels), so the left join always
        # hits; coalesce guards the invariant rather than relying on it.
        lookup = stepped.select(
            F.col("id").alias("l_id"), F.col("label").alias("l_label")
        )
        labels = (
            stepped.join(lookup, stepped.label == lookup.l_id, "left")
            .select(
                "id",
                F.coalesce("l_label", "label").alias("label"),
            )
        ).localCheckpoint(eager=False)
        cur_sum = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).first()[0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        raise RuntimeError(
            f"duplicate_components: labels still moving after "
            f"{max_rounds} rounds — monotone min-label with shortcut "
            f"must converge in ~log2(diameter); invariant broken"
        )
    sizes = labels.groupBy("label").agg(F.count("*").alias("component_size"))
    return (
        labels.join(sizes, "label")
        .select(
            F.col("id").alias("doc_id"),
            F.col("label").alias("component_id"),
            "component_size",
        )
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.35,
    stride: int | None = None,
    iters: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — public method): cluster the embedding space
    with the IVF coarse quantizer (``operators/kmeans.py`` — the same
    trained, DuckDB-replayable build the ANN index uses), then look
    for near-duplicate pairs WITHIN each cluster only, cluster those
    pairs into connected components, and keep one canonical vector
    per component.

    The cluster restriction is the declared semantics, not an
    approximation to hide: SemDeDup's insight is that semantic
    duplicates are co-located under any reasonable coarse quantizer,
    so the O(N²) pair space collapses to Σ|cell|² ≈ N·stride — linear
    in N at fixed stride. At 100 TB the cell is the shuffle/partition
    key (embeddings move once, to their cell) and each cell's
    triangular self-join is a partition-local problem; no pair ever
    crosses cells. The DuckDB twin replays the identical quantizer,
    assignment, pair predicate, and unrolled label-propagation
    rounds, so the hash check is exact.

    Returns one row per vector: ``(vec_id, cell, component_id,
    component_size, is_canonical)`` with ``component_id`` = the
    component's smallest vec_id (singletons are their own canonical).
    """
    from .simsearch import IVF_KMEANS_ITERS, IVF_STRIDE, ivf_assign, ivf_centroids

    stride = IVF_STRIDE if stride is None else stride
    iters = IVF_KMEANS_ITERS if iters is None else iters
    # canonical columns: pass the caller's frame THROUGH so the
    # quantizer/assignment memos key on the (memoized) source frame —
    # a per-call .select() wrapper is a fresh frame every invocation,
    # so the memo never hit and each call pinned a new persisted
    # assignment until clear_caches (r12 ADVICE #3). With the
    # pass-through, dedup shares the one session-wide cell table with
    # every other IVF consumer (extra columns prune out of the plan).
    if id_col == "vec_id" and vec_col == "embedding":
        corpus = emb
    else:
        corpus = emb.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        )
    # three consumers (both pair sides + the final membership join) —
    # ivf_assign is memoized + persisted, so assignment runs once
    assigned = ivf_assign(corpus, ivf_centroids(corpus, stride, iters))
    a = assigned.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"), "cell"
    )
    b = assigned.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"), "cell"
    )
    pairs = (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cosine("va", "vb"), 6).alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )
    comps = duplicate_components(pairs)
    canonical = F.coalesce("component_id", F.col("vec_id"))
    return (
        assigned.join(comps, assigned["vec_id"] == comps["doc_id"], "left")
        .select(
            "vec_id",
            "cell",
            canonical.alias("component_id"),
            F.coalesce(F.col("component_size"), F.lit(1).cast("long")).alias(
                "component_size"
            ),
            (canonical == F.col("vec_id")).cast("int").alias("is_canonical"),
        )
    )


#: Exact-substring dedup window length, in tokens. Lee et al. 2022
#: ("Deduplicating Training Data Makes Language Models Better") use 50
#: BPE tokens on real corpora; the word-salad fixture's documents are
#: 10–99 words, so the default is sized to the fixture while keeping
#: the operator parametric.
SUBSTRING_L = 16


def substring_dedup(
    docs: DataFrame,
    min_len: int = SUBSTRING_L,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring dedup (Lee et al. 2022, the suffix-array
    family): per document, the merged token spans covered by some
    ``min_len``-token window that appears verbatim in at least
    ``min_docs`` distinct documents — at ANY offset. This is the
    overlap class both document-level sketches (MinHash/SimHash) and
    aligned chunking (``curation.dedup_chunks``: non-overlapping
    16-token windows) miss: a shared 60-token passage starting at
    offset 3 in one document and offset 11 in another straddles every
    aligned chunk boundary but is wall-to-wall duplicate windows here.

    Output: ``(doc_id, span_start, span_end, span_tokens)`` with
    0-based token offsets, ``span_end`` inclusive; overlapping and
    abutting duplicated windows are merged into maximal spans (the
    paper's "remove the repeated span" unit).

    Scale shape — the suffix array re-expressed as Spark primitives:

    * **Windowing** is a per-document window function (partitionBy
      doc_id, L-row frame) over token *hashes*, so the frame holds
      ``8·L`` bytes per position, never the window text.
    * **The shuffle is hash-keyed**: grouping travels
      (window_hash, check_hash, doc_id, offset) ≈ 28 bytes per token
      position — the same O(total tokens) working set a distributed
      suffix array needs, with bodies never shuffled.
    * **Collisions cost a joined re-check, not correctness**: an
      independently-seeded check hash rides through the aggregate
      (the ``exact_dedup`` discipline); any window-hash bucket whose
      rows disagree on it is re-resolved by the exact window text,
      re-sliced from the source over just the suspect rows. The
      result therefore equals GROUP BY window-text semantics — which
      is what the DuckDB oracle runs.
    * Span merging is one more per-document window pass (lag +
      running sum islands) — no global sort anywhere.
    """
    from pyspark.sql.window import Window

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.lower(F.col(text_col)), " ").alias("toks"),
    )
    tok = toks.select(
        "doc_id", F.posexplode("toks").alias("off", "tok")
    ).select("doc_id", "off", F.xxhash64("tok").alias("th"))

    frame = (
        Window.partitionBy("doc_id")
        .orderBy("off")
        .rowsBetween(Window.currentRow, min_len - 1)
    )
    wins = (
        tok.select("doc_id", "off", F.collect_list("th").over(frame).alias("arr"))
        .where(F.size("arr") == min_len)
        .select(
            "doc_id",
            "off",
            F.xxhash64("arr").alias("wh"),
            F.xxhash64(F.lit("bfann-substring-check"), F.col("arr")).alias("fp"),
        )
    )

    groups = wins.groupBy("wh").agg(
        F.count_distinct("doc_id").alias("nd"),
        F.count_distinct("fp").alias("nfp"),
    )
    clean = groups.where(
        (F.col("nd") >= min_docs) & (F.col("nfp") == F.lit(1))
    ).select("wh")
    suspect = groups.where(F.col("nfp") > 1).select("wh")

    hits = wins.join(clean, "wh", "left_semi").select("doc_id", "off")

    # Suspect buckets (64-bit window-hash collisions — ~never on real
    # data, but correctness is not probabilistic): re-slice the exact
    # window text for just those positions and regroup by it.
    sus_rows = wins.join(suspect, "wh", "left_semi").select("doc_id", "off")
    sus_text = (
        sus_rows.join(toks, "doc_id")
        .select(
            "doc_id",
            "off",
            F.concat_ws(
                " ", F.slice("toks", F.col("off") + 1, min_len)
            ).alias("win"),
        )
    )
    sus_ok = (
        sus_text.groupBy("win")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("win")
    )
    sus_hits = sus_text.join(sus_ok, "win", "left_semi").select("doc_id", "off")

    covered = hits.unionByName(sus_hits)

    order = Window.partitionBy("doc_id").orderBy("off")
    prev = F.lag("off").over(order)
    marked = covered.select(
        "doc_id",
        "off",
        F.when(prev.isNull() | (F.col("off") > prev + min_len), 1)
        .otherwise(0)
        .alias("brk"),
    )
    islands = marked.select(
        "doc_id",
        "off",
        F.sum("brk")
        .over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("g"),
    )
    return (
        islands.groupBy("doc_id", "g")
        .agg(
            F.min("off").alias("span_start"),
            (F.max("off") + F.lit(min_len - 1)).alias("span_end"),
        )
        .select(
            "doc_id",
            F.col("span_start").cast("int").alias("span_start"),
            F.col("span_end").cast("int").alias("span_end"),
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("int")
            .alias("span_tokens"),
        )
    )
