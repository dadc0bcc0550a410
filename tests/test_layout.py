"""Storage-layout guarantees (SURVEY §4): the plans must prove the
scale properties, not just produce correct rows — partition pruning
for IVF cells, zero exchanges for bucketed joins, column pruning for
the disaggregated refinement layout."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.refine import (
    prepare_corpus,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
    load_table,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.layout import (
    bucketed_join,
    read_probed_cells,
    write_bucketed_pair,
    write_cell_partitioned,
)


def _phys(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_cell_partition_pruning(spark, sf_small, tmp_path):
    corpus = load_table(spark, sf_small, "embeddings")
    out = str(tmp_path / "cells")
    write_cell_partitioned(corpus, out)
    all_cells = [r.cell for r in spark.read.parquet(out).select("cell").distinct().collect()]
    probe = sorted(all_cells)[:2]
    df = read_probed_cells(spark, out, probe)
    plan = _phys(df)
    assert "PartitionFilters" in plan
    # the filter must actually restrict partitions: probed rows < all
    assert 0 < df.count() < spark.read.parquet(out).count()
    assert {r.cell for r in df.select("cell").distinct().collect()} == set(probe)


def test_bucketed_join_has_no_exchange(spark, sf_small, tmp_path):
    # warehouse.dir is static config — park the tables in a tmp-backed
    # database instead
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketdb LOCATION '{tmp_path / 'wh'}'")
    try:
        orders = load_table(spark, sf_small, "orders").select("o_orderkey", "o_custkey")
        li = load_table(spark, sf_small, "lineitem").select(
            F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
        )
        write_bucketed_pair(
            li, orders, "o_orderkey", 8, "bucketdb.li_b", "bucketdb.orders_b"
        )
        # fixture tables are broadcast-sized, which would bypass the
        # bucket-to-bucket path being asserted; at 100 TB neither side
        # broadcasts, so emulate that regime
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join(spark, "bucketdb.li_b", "bucketdb.orders_b", "o_orderkey")
        plan = _phys(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        # sanity: same result as the shuffled join
        expected = li.join(orders, "o_orderkey").count()
        assert joined.count() == expected
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP DATABASE IF EXISTS bucketdb CASCADE")


def test_similarity_join_broadcasts_query_side(spark, sf_small):
    """J1 (the flagship join): the query side must broadcast so the
    corpus streams past it without a shuffle, and column pruning must
    reach the corpus scan (`label` never read). At 100 TB the corpus
    side cannot shuffle; this plan shape is the scale contract."""
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.topk import (
        exact_topk,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
        queries_view,
    )

    corpus = load_table(spark, sf_small, "embeddings")
    df = exact_topk(queries_view(spark, sf_small), corpus, 5)
    plan = _phys(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    read_schema = plan.split("ReadSchema:")[-1].splitlines()[0]
    assert "embedding" in read_schema
    assert "label" not in read_schema, read_schema


def test_pruned_topk_broadcasts_candidates_no_corpus_shuffle(spark, sf_small):
    """The pruned exact-top-K plan: candidate ids from the BLAS pruner
    must broadcast back into the corpus scan (BroadcastHashJoin), and
    the corpus side must not shuffle — no Exchange between the corpus
    scan and the join. At 100 TB the candidate frame is O(q·P·k) longs
    while the corpus is the 100 TB side."""
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.topk import (
        exact_topk_pruned,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
        queries_view,
    )

    corpus = load_table(spark, sf_small, "embeddings")
    df = exact_topk_pruned(queries_view(spark, sf_small), corpus, 5)
    plan = _phys(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_refinement_phase1_prunes_full_column(spark, sf_small, tmp_path):
    """Disaggregated placement: persist the prepared corpus, then a
    phase-1-style scan over (redv, delta) must not read the full
    column (parquet columnar chunking = paper §3.3 analog)."""
    corpus = load_table(spark, sf_small, "embeddings")
    out = str(tmp_path / "prepared")
    prepare_corpus(corpus, 6, "cos-l1").write.mode("overwrite").parquet(out)
    phase1 = spark.read.parquet(out).select("vec_id", "redv", "delta")
    plan = _phys(phase1)
    read_schema = plan.split("ReadSchema:")[-1].splitlines()[0]
    assert "redv" in read_schema and "delta" in read_schema
    assert "full" not in read_schema, read_schema


def test_pq_index_roundtrip_serves_identical_topk(spark, sf_small, tmp_path):
    """Offline-build/online-serve: ADC top-K from the stored
    codebook+codes artifacts equals the live in-session PQ top-K, and
    the codes scan reads no vector bytes (ReadSchema)."""
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.pq import (
        pq_topk,
        pq_topk_from_index,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
        load_table,
        queries_view,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.layout import (
        read_pq_index,
        write_pq_index,
    )

    corpus = load_table(spark, sf_small, "embeddings")
    queries = queries_view(spark, sf_small)
    out = str(tmp_path / "pq_index")
    write_pq_index(corpus, out)
    cb, codes = read_pq_index(spark, out)

    live = {(r.query_id, r.rank): (r.neighbor_id, r.score)
            for r in pq_topk(queries, corpus, 10).collect()}
    stored = {(r.query_id, r.rank): (r.neighbor_id, r.score)
              for r in pq_topk_from_index(queries, cb, codes, 10).collect()}
    assert stored == live

    plan = pq_topk_from_index(queries, cb, codes, 10)._jdf.queryExecution().executedPlan().toString()
    # the codes relation scans only the thin columns, never embeddings
    import re
    for m in re.finditer(r"ReadSchema: (\S+)", plan):
        if "code" in m.group(1):
            assert "embedding" not in m.group(1)


def test_graph_index_roundtrip_serves_identical_topk(spark, sf_small, tmp_path):
    """Offline-build/online-serve for the graph index: beam-search
    top-K from the stored (src, dst) edge table equals the live
    in-session build, and the serve plan contains no band
    construction — the edge scan reads exactly the two id columns."""
    import re

    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.simsearch import (
        graph_beam_search,
        graph_topk_from_index,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
        queries_view,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.layout import (
        read_graph_index,
        write_graph_index,
    )

    corpus = load_table(spark, sf_small, "embeddings")
    queries = queries_view(spark, sf_small)
    out = str(tmp_path / "graph_index")
    write_graph_index(corpus, out, 5, cache_key="test-graph-idx")
    edges = read_graph_index(spark, out)

    live = {(r.query_id, r.rank): (r.neighbor_id, round(r.score, 9))
            for r in graph_beam_search(queries, corpus, 10, graph_k=5).collect()}
    served = {(r.query_id, r.rank): (r.neighbor_id, round(r.score, 9))
              for r in graph_topk_from_index(queries, corpus, edges, 10).collect()}
    assert served == live

    plan = (
        graph_topk_from_index(queries, corpus, edges, 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # no banding anywhere in the serve plan (the build never runs)
    assert "bkey" not in plan
    # the walk rounds checkpoint eagerly, so the final plan shows RDD
    # scans; the edge relation itself must scan exactly (src, dst) —
    # assert on its own physical plan
    edge_plan = edges._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"ReadSchema: (\S+)", edge_plan)
    assert m, edge_plan
    assert "src" in m.group(1) and "dst" in m.group(1), m.group(1)
    assert "embedding" not in m.group(1), m.group(1)


def test_served_refinement_scans_stored_layout(spark, sf_small):
    """The registered serve-path refinement reads the STORED prepared
    corpus (paper §3.3 layout written once per session) — the plan
    must contain a parquet scan of the layout directory, not an
    in-session preparation of the raw corpus."""
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.registry import (
        QUERIES,
    )

    df = QUERIES["refine_l2_tz_served_topk"](spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "bfann-refine-layout-" in plan, plan[:2000]
    assert df.count() > 0


def test_ivf_serve_path_prunes_partitions(spark, sf_small):
    """The registered IVF serve query must scan only the probed cell
    directories of the stored corpus — `PartitionFilters` with the
    cell list on the store scan, and identical results to the
    in-session ivf_topk."""
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.simsearch import (
        ivf_topk,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.registry import (
        QUERIES,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.registry_simsearch import (
        ANN_K,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
        queries_view,
    )

    df = QUERIES["ann_ivf_index_topk"](spark, sf_small)
    plan = _phys(df)
    assert "PartitionFilters" in plan
    assert "bfann-ivf-cells-" in plan, plan[:2000]
    served = {(r.query_id, r.rank): r.neighbor_id for r in df.collect()}
    corpus = load_table(spark, sf_small, "embeddings")
    live = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ivf_topk(queries_view(spark, sf_small), corpus, ANN_K).collect()
    }
    assert served == live


def test_cascade_index_roundtrip_serves_identical_topk(spark, sf_small, tmp_path):
    """Offline-encode/online-serve: the cascade served from the stored
    signature + code tables equals the live in-query cascade, and
    neither sketch scan reads a raw vector column (ReadSchema) —
    stage 3 alone late-materializes `embedding`."""
    import re

    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.bq import (
        cascade_topk,
        cascade_topk_from_index,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
        load_table,
        queries_view,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.layout import (
        read_cascade_index,
        write_cascade_index,
    )

    corpus = load_table(spark, sf_small, "embeddings")
    queries = queries_view(spark, sf_small)
    out = str(tmp_path / "cascade-index")
    write_cascade_index(corpus, out)
    sigs, codes = read_cascade_index(spark, out)
    served = cascade_topk_from_index(queries, corpus, sigs, codes, 10)
    live = cascade_topk(queries, corpus, 10)
    got = {(r.query_id, r.rank, r.neighbor_id) for r in served.collect()}
    want = {(r.query_id, r.rank, r.neighbor_id) for r in live.collect()}
    assert got == want
    plan = served._jdf.queryExecution().executedPlan().toString()
    sketch_scans = 0
    for m in re.finditer(r"ReadSchema: (\S+)", plan):
        schema = m.group(1)
        if "words" in schema or "codes" in schema:
            sketch_scans += 1
            assert "embedding" not in schema, schema
    assert sketch_scans >= 2, plan


def test_token_bag_store_serves_identical_maxsim(spark, sf_small, tmp_path):
    """The stored multi-vector (token-bag) layout serves the SAME
    two-stage MaxSim result as the packed-column plan — scores,
    ranks, pool — and its corpus access reads ONLY the bag columns
    (ReadSchema: no packed `embedding` scan on the bag side)."""
    import re

    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.multivec import (
        maxsim_rerank,
        maxsim_topk_from_store,
        maxsim_union_pool,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
        load_table,
        queries_view,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.layout import (
        read_token_bags,
        write_token_bags,
    )

    corpus = load_table(spark, sf_small, "embeddings")
    queries = queries_view(spark, sf_small)
    out = str(tmp_path / "token-bags")
    write_token_bags(corpus, out)
    bags = read_token_bags(spark, out)

    served = maxsim_topk_from_store(queries, bags)
    pool = maxsim_union_pool(queries, corpus)
    live = maxsim_rerank(queries, corpus, pool)
    got = {(r.query_id, r.rank, r.neighbor_id, r.maxsim) for r in served.collect()}
    want = {(r.query_id, r.rank, r.neighbor_id, r.maxsim) for r in live.collect()}
    assert got == want and len(got) > 0

    plan = served._jdf.queryExecution().executedPlan().toString()
    bag_scans = 0
    for line in plan.splitlines():
        if "FileScan" not in line:
            continue
        m = re.search(r"ReadSchema: (\S+)", line)
        schema = m.group(1) if m else ""
        if "subvec" in schema:
            bag_scans += 1
            assert "embedding" not in schema, line
        elif "embedding" in schema:
            # every packed-embedding scan must be the broadcast QUERY
            # side (carries the stride filter); the corpus side is
            # served from bags alone
            assert "% 50" in line, line
    assert bag_scans >= 1, plan


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """Z-order write: the Morton key matches a python replica bit for
    bit, and the stored layout carries row groups whose footer ranges
    are TIGHT on both dimensions — a single-dimension predicate must
    prune groups (a 1-D ts sort could never prune on the second
    column)."""
    import pyarrow.parquet as pq

    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.layout import (
        write_zordered,
        zorder_key_sql,
    )

    n = 4096
    df = spark.range(n).select(
        (F.col("id") % 64 * 1024).alias("a"),   # both span [0, 2^16)
        (F.col("id") / 64).cast("bigint").alias("b_raw"),
    ).select("a", (F.col("b_raw") * 1024).alias("b"))

    def py_z(a, b, bits=16):
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    got = df.withColumn("z", F.expr(zorder_key_sql("a", "b"))).collect()
    assert all(r["z"] == py_z(r["a"], r["b"]) for r in got)

    out = str(tmp_path / "zstore")
    write_zordered(df, out, "a", "b", n_files=16)
    import glob

    pruned_a = pruned_b = total = 0
    for f in glob.glob(f"{out}/*.parquet"):
        meta = pq.ParquetFile(f).metadata
        idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
        for rg in range(meta.num_row_groups):
            total += 1
            sa = meta.row_group(rg).column(idx["a"]).statistics
            sb = meta.row_group(rg).column(idx["b"]).statistics
            # predicate: x < 2^14 (the lowest quarter of either range)
            if sa.min > 16384:
                pruned_a += 1
            if sb.min > 16384:
                pruned_b += 1
    assert total >= 8
    # BOTH single-column predicates must prune substantially (≥ 25% of
    # groups; a 1-D sort prunes 0 on its non-sort column). The exact
    # count depends on where the range partitioner's sampled z
    # boundaries fall relative to the quadrant grid — straddling files
    # stay readable on both axes, so majority is not guaranteed.
    assert pruned_a >= total // 4, (pruned_a, total)
    assert pruned_b >= total // 4, (pruned_b, total)


def test_zorder_rejects_out_of_range_inputs(spark, tmp_path):
    """ADVICE r07: values >= 2^bits alias distant keys (high bits
    dropped) and negative values sign-extend into the interleave —
    write_zordered must raise instead of silently degenerating."""
    import pytest

    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.layout import (
        write_zordered,
    )

    too_big = spark.createDataFrame(
        [(70000, 5), (1, 2)], "a bigint, b bigint"
    )
    with pytest.raises(ValueError, match="spans"):
        write_zordered(too_big, str(tmp_path / "zb"), "a", "b", bits=16)

    negative = spark.createDataFrame([(-1, 5), (1, 2)], "a bigint, b bigint")
    with pytest.raises(ValueError, match="spans"):
        write_zordered(negative, str(tmp_path / "zn"), "a", "b", bits=16)


def test_ivfadc_index_roundtrip_serves_identical_topk(spark, sf_small, tmp_path):
    """Offline-build/online-serve for the full IVFADC layout: the
    stored-index serve equals the live in-session residual IVF-PQ, the
    codes scan is PARTITION-PRUNED to the probed cells, and it reads
    only the thin code columns — never an embedding."""
    import re

    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.pq import (
        ivfadc_topk_from_index,
        ivfpq_res_topk,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
        load_table,
        queries_view,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.layout import (
        write_ivfadc_index,
    )

    corpus = load_table(spark, sf_small, "embeddings")
    queries = queries_view(spark, sf_small)
    out = str(tmp_path / "ivfadc_index")
    write_ivfadc_index(corpus, out)

    live = {(r.query_id, r.rank): (r.neighbor_id, round(r.score, 9))
            for r in ivfpq_res_topk(queries, corpus, 10).collect()}
    served_df = ivfadc_topk_from_index(spark, out, queries, corpus, 10)
    stored = {(r.query_id, r.rank): (r.neighbor_id, round(r.score, 9))
              for r in served_df.collect()}
    assert stored == live

    plan = served_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    for m in re.finditer(r"ReadSchema: (\S+)", plan):
        if "code" in m.group(1):
            assert "embedding" not in m.group(1)


def test_rabitq_index_serves_identically(spark, sf_small, tmp_path):
    """Stored-vs-live result identity for the RaBitQ code table: the
    unpacked signs equal rabitq_corpus's s exactly (bit d set ⟺
    y_d ≥ 0), and the estimator/rerank pipeline is the same folds —
    so the served top-K matches the in-session path value-for-value.
    The codes scan must carry no vector column."""
    import re

    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.rabitq import (
        rabitq_topk,
        rabitq_topk_from_index,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
        load_table,
        queries_view,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.layout import (
        write_rabitq_index,
    )

    corpus = load_table(spark, sf_small, "embeddings")
    queries = queries_view(spark, sf_small)
    out = str(tmp_path / "rabitq_index")
    write_rabitq_index(corpus, out)

    live = {(r.query_id, r.rank): (r.neighbor_id, round(r.score, 9))
            for r in rabitq_topk(queries, corpus, 10).collect()}
    served_df = rabitq_topk_from_index(spark, out, queries, corpus, 10)
    stored = {(r.query_id, r.rank): (r.neighbor_id, round(r.score, 9))
              for r in served_df.collect()}
    assert stored == live

    plan = served_df._jdf.queryExecution().executedPlan().toString()
    for m in re.finditer(r"ReadSchema: (\S+)", plan):
        if "words" in m.group(1):
            assert "embedding" not in m.group(1)


def test_vamana_index_roundtrip_serves_identical_topk(spark, sf_small, tmp_path):
    """Offline-build/online-serve for the α-pruned Vamana index (r10):
    the stored (src, dst) edge walk equals the in-session build, and
    the serve plan contains no band construction and no prune fold —
    the α-prune's O(N·L²) build cost is paid exactly once, offline."""
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.simsearch import (
        graph_topk_from_index,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.vamana import (
        vamana_edges,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
        queries_view,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.layout import (
        read_graph_index,
        write_vamana_index,
    )

    corpus = load_table(spark, sf_small, "embeddings")
    queries = queries_view(spark, sf_small)
    out = str(tmp_path / "vamana_index")
    write_vamana_index(corpus, out, cache_key="test-vamana-idx")
    edges = read_graph_index(spark, out)

    live_edges = vamana_edges(corpus, cache_key="test-vamana-idx")
    live = {(r.query_id, r.rank): (r.neighbor_id, round(r.score, 9))
            for r in graph_topk_from_index(queries, corpus, live_edges, 10).collect()}
    served = {(r.query_id, r.rank): (r.neighbor_id, round(r.score, 9))
              for r in graph_topk_from_index(queries, corpus, edges, 10).collect()}
    assert served == live

    plan = (
        graph_topk_from_index(queries, corpus, edges, 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "bkey" not in plan          # no banding in the serve plan
    assert "aggregate(" not in plan    # no prune fold either


def test_spann_store_roundtrip_serves_identical_topk(spark, sf_small, tmp_path):
    """The stored SPANN posting lists serve the exact in-session
    top-K, and the probed scan is partition-pruned (only the probed
    cells' directories open)."""
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
        spann as SP,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.simsearch import (
        ivf_centroids,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
        load_table,
        queries_view,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.layout import (
        spann_topk_from_store,
        write_spann_postings,
    )

    corpus = load_table(spark, sf_small, "embeddings")
    q = queries_view(spark, sf_small)
    path = str(tmp_path / "spann")
    write_spann_postings(corpus, path)
    cents = ivf_centroids(corpus)
    served = spann_topk_from_store(spark, path, q, cents, 20)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    insession = SP.spann_topk(q, corpus, 20)
    a = {(r.query_id, r.rank, r.neighbor_id) for r in served.collect()}
    b = {(r.query_id, r.rank, r.neighbor_id) for r in insession.collect()}
    assert a == b and len(a) > 0
