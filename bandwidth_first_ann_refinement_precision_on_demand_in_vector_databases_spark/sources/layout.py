"""Storage layouts for the 100 TB design point (SURVEY §4 physical
concerns). Two layouts the engine's scale story depends on, made
concrete and testable:

* **Cell-partitioned corpus** (IVF): the assigned corpus written as
  parquet partitioned by ``cell``. A probe then *scans only the
  probed cells* — `PartitionFilters` in the scan node, ~nprobe/n_cells
  of the bytes — which is the IVF bandwidth win the reference's
  two-phase scan is "orthogonal to" (README.md:11) and that a real
  deployment combines with it.
* **Bucketed join tables**: both sides of a recurring equi-join
  written bucketed by the join key (`bucketBy` + `sortBy`), so the
  join plans with zero Exchange on either side — the co-located join
  every repeated 100 TB pipeline stage should use instead of paying
  the shuffle per run.

Column-layout note: the refinement engine's analog is
``prepare_corpus`` columns (redv/delta/full) written once per
``keep_m`` as separate parquet column chunks — parquet's columnar
chunking already gives the paper's §3.3 "disaggregated placement"
(phase 1 reads only redv/delta pages; `ReadSchema` proves pruning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.simsearch import ivf_assign, ivf_centroids


def write_cell_partitioned(
    corpus: DataFrame, out_path: str, stride: int | None = None
) -> None:
    """Materialize the IVF-assigned corpus partitioned by cell id.
    One directory per cell; a probed query reads only its cells."""
    cents = ivf_centroids(corpus, stride) if stride else ivf_centroids(corpus)
    assigned = ivf_assign(corpus, cents)
    (
        # sortWithinPartitions on the partition key: the dynamic
        # partition writer then holds ONE open parquet file per task
        # instead of one per cell it touches — at n_cells ∝ N the
        # unsorted write keeps cells/shuffle-partitions writers open
        # concurrently and OOMs (measured at 8000 cells in the 100×
        # experiment, reports/SCALE_100X.md); sorted input makes the
        # write memory O(1) in cell count. Result identical.
        assigned.repartition("cell")
        .sortWithinPartitions("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(out_path)
    )


def read_probed_cells(spark: SparkSession, path: str, cells: list[int]) -> DataFrame:
    """Scan restricted to the probed cells. The `cell IN (...)`
    predicate is a partition filter: non-probed directories are never
    opened (check `PartitionFilters` in the scan node)."""
    df = spark.read.parquet(path)
    return df.where(F.col("cell").isin([int(c) for c in cells]))


def write_bucketed_pair(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_buckets: int,
    left_table: str,
    right_table: str,
) -> None:
    """Persist both join sides bucketed+sorted by the key, so the
    equi-join is exchange-free (bucket-to-bucket, pre-sorted)."""
    for df, name in ((left, left_table), (right, right_table)):
        (
            df.write.mode("overwrite")
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .saveAsTable(name)
        )


def bucketed_join(spark: SparkSession, left_table: str, right_table: str, key: str) -> DataFrame:
    """Join two co-bucketed tables on their bucket key: Catalyst
    plans a SortMergeJoin with no Exchange on either side."""
    return spark.table(left_table).join(spark.table(right_table), key)


def write_pq_index(corpus: DataFrame, out_path: str) -> None:
    """Materialize the PQ index artifacts — the offline-build half of
    the offline-build/online-serve split every production ANN
    deployment runs. Two parquet tables:

    * ``{out}/codebook`` — (m, cid, cvec), broadcast-sized (the
      trained per-subspace centroids);
    * ``{out}/codes`` — (vec_id, m, code), 8 small codes per vector:
      the ~32×-smaller scan target the online ADC pass reads INSTEAD
      of the raw embedding column.

    Serving then needs no corpus access and no retraining
    (``operators/pq.pq_topk_from_index``); the k-means build cost is
    paid exactly once, here."""
    from ..operators.pq import pq_codebook, pq_codes

    cb = pq_codebook(corpus)
    cb.write.mode("overwrite").parquet(f"{out_path}/codebook")
    pq_codes(corpus, cb).write.mode("overwrite").parquet(f"{out_path}/codes")


def read_pq_index(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """(codebook, codes) scans of a stored PQ index. The codes scan
    reads three thin columns (`ReadSchema` proves no vector bytes
    move) — the bandwidth story of the code-table layout."""
    return (
        spark.read.parquet(f"{path}/codebook"),
        spark.read.parquet(f"{path}/codes"),
    )


def write_graph_index(
    corpus: DataFrame, out_path: str, graph_k: int, cache_key: str | None = None
) -> None:
    """Materialize the symmetrized KNN-graph edge set — the offline
    half of graph ANN serving. The banded construction (the dominant
    cost of an in-query ``graph_beam_search``) runs exactly once,
    here; the stored table is two thin id columns (src, dst)
    repartitioned by ``src`` so a frontier-expansion join reads
    co-located adjacency."""
    from ..operators.simsearch import symmetric_knn_edges

    edges = symmetric_knn_edges(corpus, graph_k, cache_key=cache_key)
    edges.repartition("src").write.mode("overwrite").parquet(f"{out_path}/edges")


def write_vamana_index(
    corpus: DataFrame, out_path: str, cache_key: str | None = None
) -> None:
    """Materialize the α-pruned Vamana edge set (``operators/vamana.
    vamana_edges``) in the same (src, dst) stored-graph shape as
    :func:`write_graph_index` — the serve path is the unchanged
    stored-edge beam walk, so only the offline build differs."""
    from ..operators.vamana import vamana_edges

    edges = vamana_edges(corpus, cache_key=cache_key)
    edges.repartition("src").write.mode("overwrite").parquet(f"{out_path}/edges")


def read_graph_index(spark: SparkSession, path: str) -> DataFrame:
    """(src, dst) scan of a stored graph index. The serve-path plan
    built on this frame (``operators/simsearch.graph_topk_from_index``)
    contains no band/bucket construction at all — `ReadSchema` on the
    edge scan shows only the two id columns."""
    return spark.read.parquet(f"{path}/edges")


def ivf_topk_from_store(
    spark: SparkSession,
    store_path: str,
    queries: DataFrame,
    centroids: DataFrame,
    k: int,
    nprobe: int | None = None,
) -> DataFrame:
    """IVF top-K served from the cell-partitioned store: the probe
    set is computed against the broadcast-sized quantizer, its cell
    list drives a PARTITION-PRUNED scan of the stored corpus (the
    coordinator-side routing every IVF serving system performs —
    q·nprobe ints, the one legitimate driver-side decision), and
    scoring runs only over the probed directories. Identical result
    to the in-session ``simsearch.ivf_topk``."""
    from ..functions.vector import cosine
    from ..operators.simsearch import IVF_NPROBE, ivf_probes
    from ..operators.topk import topk_per_query

    probed = ivf_probes(queries, centroids, nprobe or IVF_NPROBE)
    cells = [r.cell for r in probed.select("cell").distinct().collect()]
    stored = read_probed_cells(spark, store_path, cells)
    cand = F.broadcast(probed).join(stored, "cell").select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine("qvec", "embedding").alias("score"),
    )
    return topk_per_query(cand, k, ascending=False)


def write_ivfadc_index(corpus: DataFrame, out_path: str) -> None:
    """Materialize the IVFADC index — the full production FAISS-style
    layout (trained coarse quantizer + residual PQ), three tables:

    * ``{out}/centroids`` — (centroid_id, cvec): the Lloyd-trained
      coarse quantizer, broadcast-sized;
    * ``{out}/codebook`` — (m, cid, cvec): the residual-space PQ
      codebook, broadcast-sized;
    * ``{out}/codes`` — (vec_id, m, code) PARTITIONED BY cell: 8 small
      codes per vector laid out so a probed query opens only its
      cells' directories AND reads only the thin code columns — the
      two bandwidth wins (partition pruning × 32× column shrink)
      compose in one layout.

    Training (quantizer, residuals, codebook) is paid exactly once,
    here; serving (``operators/pq.ivfadc_topk_from_index``) touches no
    raw corpus column until the r·K exact re-rank."""
    from ..operators.pq import ivf_residuals, ivfadc_centroids, pq_codebook, pq_codes

    cents = ivfadc_centroids(corpus)
    res = ivf_residuals(corpus)
    cb = pq_codebook(res)
    cents.write.mode("overwrite").parquet(f"{out_path}/centroids")
    cb.write.mode("overwrite").parquet(f"{out_path}/codebook")
    (
        pq_codes(res, cb)
        .join(res.select("vec_id", "cell"), "vec_id")
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{out_path}/codes")
    )


def read_ivfadc_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(centroids, codebook, codes) scans of a stored IVFADC index.
    The codes scan carries ``cell`` as a partition column — a
    ``cell IN (...)`` predicate prunes directories before any byte is
    read (`PartitionFilters`, asserted in ``tests/test_layout.py``)."""
    return (
        spark.read.parquet(f"{path}/centroids"),
        spark.read.parquet(f"{path}/codebook"),
        spark.read.parquet(f"{path}/codes"),
    )


def write_cascade_index(corpus: DataFrame, out_path: str) -> None:
    """Materialize the cascade's two sketch tables — the offline half
    of the three-stage serve path (``operators/bq.cascade_topk_from_
    index``). Both are pure-map encodes (no training, no shuffle):

    * ``{out}/signatures`` — (vec_id, words array<bigint>): the packed
      1-bit sign signature, ⌈D/8⌉ logical bytes/vector — the stage-1
      scan target;
    * ``{out}/codes`` — (vec_id, s, codes array<int>): the int8 SQ
      sketch + per-row scale — the stage-2 fetch target.

    Stage 3 late-materializes full precision from the base corpus
    table, so the index stores no fp32 vector bytes at all."""
    from pyspark.sql import functions as F

    from ..operators.bq import bq_encode
    from ..operators.sq import sq_encode

    bq_encode(corpus, "embedding", "vec_id").select(
        F.col("id").alias("vec_id"), "words"
    ).write.mode("overwrite").parquet(f"{out_path}/signatures")
    sq_encode(corpus).write.mode("overwrite").parquet(f"{out_path}/codes")


def read_cascade_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """(signatures, codes) scans of a stored cascade index. Neither
    scan touches a raw vector column — `ReadSchema` shows only the
    sketch columns (asserted in ``tests/test_layout.py``)."""
    return (
        spark.read.parquet(f"{path}/signatures"),
        spark.read.parquet(f"{path}/codes"),
    )


def write_token_bags(corpus: DataFrame, out_path: str) -> None:
    """Materialize the multi-vector TOKEN-BAG layout — one row per
    (doc, sub-vector), the shape a ColBERT/PLAID store actually holds
    (``operators/multivec.token_bag_table``). A pure-map explode, no
    shuffle; the stored table replaces the packed ``embedding`` column
    for every late-interaction plan (``maxsim_topk_from_store``)."""
    from ..operators.multivec import token_bag_table

    token_bag_table(corpus).write.mode("overwrite").parquet(f"{out_path}/bags")


def read_token_bags(spark: SparkSession, path: str) -> DataFrame:
    """(doc_id, slice_j, subvec) scan of a stored token-bag table. The
    serve plan built on it never reads a packed vector column —
    `ReadSchema` shows only the three bag columns."""
    return spark.read.parquet(f"{path}/bags")


def zorder_key_sql(col_a: str, col_b: str, bits: int = 16) -> str:
    """SQL text for the Z-order (Morton) key of two non-negative
    integer columns: bit i of ``col_a`` lands at position 2i, bit i of
    ``col_b`` at 2i+1 — one interleaved BIGINT whose ordering clusters
    BOTH dimensions at once. Emitted as a single SQL string parsed
    JVM-side (the hyperplane-LSH lesson: per-term ``F.lit`` trees cost
    ~2.8s of py4j per frame; one ``F.expr`` is free), fully inside
    whole-stage codegen — shifts and masks only, no UDF."""
    terms = []
    for i in range(bits):
        terms.append(f"shiftleft(shiftright({col_a}, {i}) & 1, {2 * i})")
        terms.append(f"shiftleft(shiftright({col_b}, {i}) & 1, {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def write_zordered(
    df: DataFrame,
    out_path: str,
    col_a: str,
    col_b: str,
    n_files: int = 16,
    bits: int = 16,
) -> None:
    """Materialize ``df`` Z-ordered on two integer dimensions: sort by
    the interleaved Morton key into ``n_files`` range-partitioned
    files. Parquet footers then carry TIGHT min/max on BOTH columns
    per row group, so a 2-D range predicate prunes files the way a
    1-D sort only manages for its single sort column — the
    multi-dimensional clustering every lakehouse layout service
    (OPTIMIZE ZORDER) applies, expressed as one sort. The key column
    is dropped from the stored schema (derivable, never queried).

    Inputs must SPAN [0, 2^bits): a dimension that only uses its low
    bits never reaches the interleave's high bits and the range
    partitioner then effectively sorts by the other dimension alone
    (measured in reports/ZORDER_SKIPPING.md — normalize each column
    to the full range first, e.g. ``(x - min) * 65535 / (max - min)``).

    The [0, 2^bits) contract is ENFORCED, not just documented: values
    >= 2^bits would silently drop their high bits (distant values alias
    to one Morton key) and negative values would set interleave bits
    via the arithmetic shiftright sign-extension — either way the
    layout silently degenerates, so out-of-range input raises."""
    from pyspark.sql import functions as F

    lo_a, hi_a, lo_b, hi_b = df.agg(
        F.min(col_a), F.max(col_a), F.min(col_b), F.max(col_b)
    ).first()
    limit = 1 << bits
    for name, lo, hi in ((col_a, lo_a, hi_a), (col_b, lo_b, hi_b)):
        if lo is not None and (lo < 0 or hi >= limit):
            raise ValueError(
                f"write_zordered: column {name!r} spans [{lo}, {hi}] but the "
                f"Morton key requires [0, {limit}); normalize the column "
                f"first (e.g. (x - min) * {limit - 1} / (max - min))"
            )
    keyed = df.withColumn("__z", F.expr(zorder_key_sql(col_a, col_b, bits)))
    (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(out_path)
    )


def write_rabitq_index(corpus: DataFrame, out_path: str) -> None:
    """Materialize the RaBitQ code table — ONE parquet table
    ``{out}/codes`` of (vec_id, words array<bigint>, inv double):
    D bits packed 32/word (the ``bq.bq_encode`` arithmetic over the
    sign array) plus the per-vector scalar, D/8 + 8 bytes per vector.
    The serve path (``operators/rabitq.rabitq_topk_from_index``)
    unpacks signs from the stored words — no rotation, no corpus
    column, no float folds over raw vectors until the exact re-rank."""
    from pyspark.sql import functions as F

    from ..operators.bq import bq_encode
    from ..operators.rabitq import rabitq_corpus

    rc = rabitq_corpus(corpus)
    codes = bq_encode(rc, "s", "vec_id").join(
        rc.select(F.col("vec_id").alias("rid"), "inv"),
        F.col("id") == F.col("rid"),
    ).select(F.col("id").alias("vec_id"), "words", "inv")
    codes.write.mode("overwrite").parquet(f"{out_path}/codes")


def read_rabitq_index(spark: SparkSession, path: str) -> DataFrame:
    """(vec_id, words, inv) scan of a stored RaBitQ index — 16 B of
    payload per vector at D=64 as stored (8 B packed sign words +
    8 B DOUBLE ``inv``; the 12 B figure in ``reports/RABITQ.md`` is
    the conceptual D-bits + float32 at-rest form — the replay table
    keeps the scalar as DOUBLE for hash-exactness); ``ReadSchema``
    shows no vector column."""
    return spark.read.parquet(f"{path}/codes")


def write_spann_postings(corpus: DataFrame, out_path: str) -> None:
    """Materialize the SPANN posting store partitioned by cell — the
    replicated write-side of the closure trade (~1.9× rows at the
    registered operating point, `reports/SPANN.md`). Same sorted
    dynamic-partition discipline as :func:`write_cell_partitioned`
    (one open writer per task — O(1) memory in cell count at scale);
    the probed serve scan opens only the probed cells' directories,
    and thanks to boundary replication most queries probe ONE."""
    from ..operators.spann import spann_postings

    cents = ivf_centroids(corpus)
    posted = spann_postings(corpus, cents)
    (
        posted.repartition("cell")
        .sortWithinPartitions("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(out_path)
    )


def spann_topk_from_store(
    spark: SparkSession,
    store_path: str,
    queries: DataFrame,
    centroids: DataFrame,
    k: int,
) -> DataFrame:
    """SPANN top-K served from the stored posting lists: dynamically
    pruned probes (coordinator-side routing over the broadcast-sized
    quantizer — q·nprobe ints) drive a PARTITION-PRUNED scan of the
    replicated postings; a vector reached via two replicas dedups by
    groupBy-max over bit-identical scores (the in-session
    ``spann_topk`` discipline). Identical result by construction."""
    from ..functions.vector import cosine
    from ..operators.spann import spann_probes
    from ..operators.topk import topk_per_query

    probed = spann_probes(queries, centroids)
    cells = [r.cell for r in probed.select("cell").distinct().collect()]
    stored = read_probed_cells(spark, store_path, cells)
    cand = (
        F.broadcast(probed)
        .join(stored, "cell")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine("qvec", "embedding").alias("score"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("score").alias("score"))
    )
    return topk_per_query(cand, k, ascending=False)
