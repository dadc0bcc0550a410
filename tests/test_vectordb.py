"""Vector-database query shapes: filtered top-K, range search, int8
scalar quantization, hybrid RRF fusion (operators/vectordb.py,
operators/sq.py)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
    sq as SQ,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
    vectordb as V,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.topk import (
    exact_topk,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
    load_table,
    queries_view,
)

SF = "/root/testdata/sf0.001"


def _corpus(spark):
    return load_table(spark, SF, "embeddings")


def _queries(spark):
    return queries_view(spark, SF)


# ---------------------------------------------------------------------------
# Scalar quantization
# ---------------------------------------------------------------------------

class TestSQ:
    def test_codes_in_range_and_recon_error_bounded(self, spark):
        enc = SQ.sq_encode(_corpus(spark))
        row = (
            enc.join(_corpus(spark), "vec_id")
            .select("vec_id", "s", "codes", "embedding")
            .orderBy("vec_id")
            .first()
        )
        codes = np.array(row.codes)
        assert codes.min() >= -SQ.SQ_LEVELS and codes.max() <= SQ.SQ_LEVELS
        # per-element reconstruction error ≤ half a quantization step
        v = np.array(row.embedding, dtype=np.float64)
        recon = codes * row.s / SQ.SQ_LEVELS
        assert np.abs(recon - v).max() <= row.s / SQ.SQ_LEVELS / 2 + 1e-12
        # scale is the max-abs of the row
        assert row.s == np.abs(v).max()

    def test_zero_vector_survives(self, spark):
        df = spark.createDataFrame(
            [(0, [0.0] * 4)], "vec_id long, embedding array<float>"
        )
        out = SQ.sq_encode(df).first()
        assert out.codes == [0, 0, 0, 0]

    def test_refined_topk_matches_exact_on_fixture(self, spark):
        # int8 error is far below fixture neighbor gaps at R*K
        # candidate depth, so the refined result equals exact top-K
        exact = {
            (r.query_id, r.rank): r.neighbor_id
            for r in exact_topk(_queries(spark), _corpus(spark), 5, metric="l2").collect()
        }
        refined = {
            (r.query_id, r.rank): r.neighbor_id
            for r in SQ.sq_refined_topk(_queries(spark), _corpus(spark), 5).collect()
        }
        assert refined == exact


# ---------------------------------------------------------------------------
# Filtered top-K
# ---------------------------------------------------------------------------

class TestFiltered:
    PRED_LABELS = (1, 3, 5, 7)

    def _pred(self):
        return F.col("label").isin(*self.PRED_LABELS)

    def test_every_result_satisfies_predicate(self, spark):
        out = V.filtered_topk(_queries(spark), _corpus(spark), 5, self._pred())
        labels = (
            out.join(_corpus(spark).select(F.col("vec_id").alias("neighbor_id"), "label"),
                     "neighbor_id")
            .select("label").distinct().collect()
        )
        assert {r.label for r in labels} <= set(self.PRED_LABELS)

    def test_filter_pushes_into_scan(self, spark):
        plan = (
            V.filtered_topk(_queries(spark), _corpus(spark), 5, self._pred())
            ._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
        )
        pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
        assert any("label" in ln for ln in pushed), pushed

    def test_ivf_filtered_subset_of_predicate(self, spark):
        out = V.filtered_ivf_topk(_queries(spark), _corpus(spark), 5, self._pred())
        joined = out.join(
            _corpus(spark).select(F.col("vec_id").alias("neighbor_id"), "label"),
            "neighbor_id",
        )
        bad = joined.where(~F.col("label").isin(*self.PRED_LABELS)).count()
        assert bad == 0


# ---------------------------------------------------------------------------
# Range search
# ---------------------------------------------------------------------------

class TestRange:
    def test_matches_numpy_brute_force(self, spark):
        r2 = 1.5
        out = {
            (r.query_id, r.neighbor_id)
            for r in V.range_search(_queries(spark), _corpus(spark), r2).collect()
        }
        q = {r.query_id: np.array(r.embedding, dtype=np.float64)
             for r in _queries(spark).select("query_id", "embedding").collect()}
        c = {r.vec_id: np.array(r.embedding, dtype=np.float64)
             for r in _corpus(spark).select("vec_id", "embedding").collect()}
        expect = {
            (qi, ci)
            for qi, qv in q.items()
            for ci, cv in c.items()
            if float(((qv - cv) ** 2).sum()) <= r2
        }
        assert out == expect
        assert out  # radius chosen to be non-trivial on the fixture


# ---------------------------------------------------------------------------
# Document chunking
# ---------------------------------------------------------------------------

class TestChunking:
    def test_chunks_reconstruct_documents(self, spark):
        from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.curation import (
            CHUNK_OVERLAP,
            CHUNK_TOKENS,
            chunk_documents,
        )

        docs = load_table(spark, SF, "documents")
        step = CHUNK_TOKENS - CHUNK_OVERLAP
        out = chunk_documents(docs).collect()
        texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
        by_doc: dict[int, list] = {}
        for r in out:
            assert r.start_tok == r.chunk_id * step
            assert r.n_chunk_tokens == len(r.chunk_text.split(" "))
            by_doc.setdefault(r.doc_id, []).append(r)
        assert set(by_doc) == set(texts)
        for doc_id, rows in by_doc.items():
            rows.sort(key=lambda r: r.chunk_id)
            toks = texts[doc_id].split(" ")
            # stitching chunks back (dropping each successor's overlap
            # with its predecessor) reproduces the token stream
            stitched = rows[0].chunk_text.split(" ")
            for r in rows[1:]:
                ct = r.chunk_text.split(" ")
                stitched += ct[len(stitched) - r.start_tok:]
            assert stitched == toks

    def test_empty_text_yields_one_chunk(self, spark):
        from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.curation import (
            chunk_documents,
        )

        df = spark.createDataFrame([(1, "")], "doc_id long, text string")
        rows = chunk_documents(df).collect()
        assert len(rows) == 1 and rows[0].chunk_text == ""


# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------

class TestBM25:
    def test_matches_pure_python_reference(self, spark):
        import math
        from collections import Counter

        docs = load_table(spark, SF, "documents")
        qd = docs.where(F.col("doc_id") % 50 == 0)
        out = V.bm25_topn(qd, docs, 5).collect()

        texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
        toks = {d: t.split(" ") for d, t in texts.items()}
        n = len(texts)
        dl = {d: len(t) for d, t in toks.items()}
        avgdl = sum(dl.values()) / n
        tf = {d: Counter(t) for d, t in toks.items()}
        df = Counter(tok for t in toks.values() for tok in set(t))

        def idf(tok):
            return math.floor(
                math.log((n - df[tok] + 0.5) / (df[tok] + 0.5) + 1.0) * V.BM25_SCALE
            ) / V.BM25_SCALE

        def score_micro(qid, did):
            total = 0
            for tok in set(toks[qid]):
                t = tf[did].get(tok)
                if not t:
                    continue
                term = (
                    idf(tok)
                    * (t * (V.BM25_K1 + 1.0))
                    / (t + V.BM25_K1 * (1.0 - V.BM25_B + V.BM25_B * dl[did] / avgdl))
                )
                total += math.floor(term * V.BM25_SCALE)
            return total

        assert out
        for r in out:
            assert r.score_micro == score_micro(r.query_id, r.doc_id)
        # per-query: ranked descending, k rows, ranks contiguous
        by_q: dict[int, list] = {}
        for r in out:
            by_q.setdefault(r.query_id, []).append(r)
        for rows in by_q.values():
            rows.sort(key=lambda r: r.rank)
            assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
            scores = [r.score_micro for r in rows]
            assert scores == sorted(scores, reverse=True)


# ---------------------------------------------------------------------------
# Hybrid RRF
# ---------------------------------------------------------------------------

class TestHybrid:
    def test_query_doc_ranks_first_and_scores_decrease(self, spark):
        docs = load_table(spark, SF, "documents")
        qd = docs.where(F.col("doc_id") % 50 == 0)
        out = V.hybrid_rrf(qd, docs, _queries(spark), _corpus(spark)).collect()
        by_q: dict[int, list] = {}
        for r in out:
            by_q.setdefault(r.query_id, []).append(r)
        kw = {
            (r.query_id, r.doc_id): r.kw_rank
            for r in V.keyword_topn(qd, docs, V.HYBRID_TOPN).collect()
        }
        vec = {
            (r.query_id, r.neighbor_id): r.rank
            for r in exact_topk(
                _queries(spark), _corpus(spark), V.HYBRID_TOPN, metric="cosine"
            ).collect()
        }
        for qid, rows in by_q.items():
            rows.sort(key=lambda r: r.rank)
            rrfs = [r.rrf for r in rows]
            assert rrfs == sorted(rrfs, reverse=True)
            assert len(rows) == V.HYBRID_K
            # every fused score is exactly the RRF formula over the
            # component rank lists
            for r in rows:
                expect = 0.0
                if (qid, r.doc_id) in kw:
                    expect += 1 / (V.RRF_KAPPA + kw[(qid, r.doc_id)])
                if (qid, r.doc_id) in vec:
                    expect += 1 / (V.RRF_KAPPA + vec[(qid, r.doc_id)])
                assert abs(r.rrf - expect) < 1e-12


# ---------------------------------------------------------------------------
# KNN graph
# ---------------------------------------------------------------------------

class TestKnnGraph:
    def test_no_self_edges_scores_exact_ranks_monotone(self, spark):
        from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.simsearch import (
            knn_graph,
        )

        corpus = _corpus(spark)
        out = knn_graph(corpus, 5).collect()
        assert out
        vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
                for r in corpus.select("vec_id", "embedding").collect()}

        def cos(a, b):
            na = max(np.sqrt((a * a).sum()), 1e-12)
            nb = max(np.sqrt((b * b).sum()), 1e-12)
            return float(a @ b) / (na * nb)

        by_node: dict[int, list] = {}
        for r in out:
            assert r.node_id != r.neighbor_id
            assert abs(r.score - cos(vecs[r.node_id], vecs[r.neighbor_id])) < 1e-9
            by_node.setdefault(r.node_id, []).append(r)
        for rows in by_node.values():
            rows.sort(key=lambda r: r.rank)
            assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
            scores = [r.score for r in rows]
            assert scores == sorted(scores, reverse=True)


# ---------------------------------------------------------------------------
# Decontamination
# ---------------------------------------------------------------------------

class TestDecontamination:
    def test_matches_pure_python_and_flags_exact_dups(self, spark):
        from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.curation import (
            decontaminate,
        )

        docs = load_table(spark, SF, "documents")
        out = {r.doc_id: r for r in decontaminate(docs, F.col("doc_id") % 10 == 1).collect()}

        texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}

        def shingles(t):
            toks = t.lower().split()
            return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)} if len(toks) >= 3 else set()

        bench = set().union(*(shingles(t) for d, t in texts.items() if d % 10 == 1))
        assert set(out) == {d for d in texts if d % 10 != 1}
        flagged_full = 0
        for d, r in out.items():
            sh = shingles(texts[d])
            assert r.n_shingles == len(sh)
            assert r.n_contaminated == len(sh & bench)
            expect = round(len(sh & bench) / len(sh), 6) if sh else 0.0
            assert abs(r.contamination - expect) < 1e-9
            if sh and sh <= bench:
                flagged_full += 1
                assert r.contamination == 1.0
        # the fixture contains exact dups across the holdout split, so
        # full contamination must actually occur for the test to bite
        assert flagged_full > 0


class TestHybridBM25:
    def test_fused_scores_follow_component_ranks(self, spark):
        docs = load_table(spark, SF, "documents")
        qd = docs.where(F.col("doc_id") % 50 == 0)
        corpus, queries = _corpus(spark), _queries(spark)
        out = V.hybrid_bm25_rrf(qd, docs, queries, corpus).collect()
        kw = {
            (r.query_id, r.doc_id): r.rank
            for r in V.bm25_topn(qd, docs, V.HYBRID_TOPN).collect()
        }
        vec = {
            (r.query_id, r.neighbor_id): r.rank
            for r in exact_topk(queries, corpus, V.HYBRID_TOPN, metric="cosine").collect()
        }
        assert out
        by_q: dict[int, list] = {}
        for r in out:
            expect = 0.0
            if (r.query_id, r.doc_id) in kw:
                expect += 1 / (V.RRF_KAPPA + kw[(r.query_id, r.doc_id)])
            if (r.query_id, r.doc_id) in vec:
                expect += 1 / (V.RRF_KAPPA + vec[(r.query_id, r.doc_id)])
            assert abs(r.rrf - expect) < 1e-12
            by_q.setdefault(r.query_id, []).append(r)
        for rows in by_q.values():
            rows.sort(key=lambda r: r.rank)
            assert len(rows) == V.HYBRID_K
            rrfs = [r.rrf for r in rows]
            assert rrfs == sorted(rrfs, reverse=True)


# ---------------------------------------------------------------------------
# MMR re-ranking
# ---------------------------------------------------------------------------

class TestMMR:
    def test_matches_pure_python_greedy(self, spark):
        corpus, queries = _corpus(spark), _queries(spark)
        out = V.mmr_rerank(queries, corpus).collect()

        vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
                for r in corpus.select("vec_id", "embedding").collect()}
        qv = {r.query_id: np.array(r.embedding, dtype=np.float64)
              for r in queries.select("query_id", "embedding").collect()}

        def cos(a, b):
            na = max(np.sqrt((a * a).sum()), 1e-12)
            nb = max(np.sqrt((b * b).sum()), 1e-12)
            return float(a @ b) / (na * nb)

        lam = V.MMR_LAMBDA
        expect = {}
        for q, qe in qv.items():
            rel = sorted(
                ((cos(qe, v), -i) for i, v in vecs.items()), reverse=True
            )[: V.MMR_TOPN]
            cand = {-ni: r for r, ni in rel}
            sel = []
            for rank in range(1, V.MMR_K + 1):
                best = None
                for d, r in sorted(cand.items()):
                    if d in (s for s, _ in sel):
                        continue
                    pen = max(
                        (cos(vecs[d], vecs[s]) for s, _ in sel), default=0.0
                    )
                    mmr = lam * r - (1.0 - lam) * pen if sel else lam * r
                    if best is None or mmr > best[1]:
                        best = (d, mmr)
                sel.append(best)
                expect[(q, rank)] = best
        for r in out:
            d, mmr = expect[(r.query_id, r.rank)]
            assert r.doc_id == d
            assert abs(r.mmr - mmr) < 1e-9
        assert len(out) == len(expect)


class TestBinaryQuantization:
    def test_encode_bits_match_signs(self, spark, sf_small):
        """Every packed bit equals the sign predicate of its coordinate
        (checked exhaustively on one collected vector)."""
        from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
            bq as B,
        )
        from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
            load_table,
        )

        corpus = load_table(spark, sf_small, "embeddings")
        vec = corpus.orderBy("vec_id").first()
        enc = B.bq_encode(corpus).where(F.col("id") == vec.vec_id).first()
        for j, x in enumerate(vec.embedding):
            w, b = divmod(j, B.BQ_WORD)
            got = (enc.words[w] >> b) & 1
            assert got == (1 if x >= 0 else 0), (j, x)

    def test_self_query_hamming_zero(self, spark, sf_small):
        from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
            bq as B,
        )
        from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
            load_table,
            queries_view,
        )

        corpus = load_table(spark, sf_small, "embeddings")
        queries = queries_view(spark, sf_small)
        top = B.bq_topk(queries, corpus, 3)
        firsts = {r.query_id: (r.neighbor_id, r.hamming) for r in top.where(F.col("rank") == 1).collect()}
        # self signature distance is 0; ties break on neighbor_id, and
        # query ids ARE corpus ids on the fixtures, so rank 1 hamming
        # must be 0 for every query
        assert firsts and all(h == 0 for (_n, h) in firsts.values())

    def test_refined_rerank_is_exact_over_candidates(self, spark, sf_small):
        """The refined top-K equals the exact cosine re-rank of the
        Hamming candidate set (zero-miss within candidates)."""
        from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
            bq as B,
        )
        from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.functions.vector import (
            cosine,
        )
        from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
            load_table,
            queries_view,
        )

        corpus = load_table(spark, sf_small, "embeddings")
        queries = queries_view(spark, sf_small)
        k = 5
        got = {(r.query_id, r.rank): r.neighbor_id
               for r in B.bq_refined_topk(queries, corpus, k).collect()}
        cand = B.bq_topk(queries, corpus, B.BQ_REFINE_R * k).select(
            "query_id", "neighbor_id"
        )
        qv = queries.select("query_id", F.col("embedding").alias("qv"))
        cv = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
        from pyspark.sql.window import Window

        exact = (
            cand.join(qv, "query_id").join(cv, "neighbor_id")
            .select("query_id", "neighbor_id", cosine("qv", "cv").alias("s"))
            .withColumn(
                "rank",
                F.row_number().over(
                    Window.partitionBy("query_id").orderBy(
                        F.col("s").desc(), F.col("neighbor_id")
                    )
                ),
            )
            .where(F.col("rank") <= k)
        )
        want = {(r.query_id, r.rank): r.neighbor_id for r in exact.collect()}
        assert got == want


class TestMaxSim:
    def test_self_maxsim_is_m(self, spark, sf_small):
        """MaxSim(v, v) = M exactly: every slice best-matches itself
        at cosine 1, and cosine can never exceed 1."""
        from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
            multivec as MV,
        )
        from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
            load_table,
        )

        corpus = load_table(spark, sf_small, "embeddings")
        dim = len(corpus.first().embedding)
        row = corpus.select(
            MV.maxsim_expr("embedding", "embedding", dim).alias("s")
        ).first()
        assert abs(row.s - MV.MV_M) < 1e-9

    def test_rerank_rank1_is_self_for_self_queries(self, spark, sf_small):
        from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
            multivec as MV,
        )
        from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.topk import (
            exact_topk_fixture_cached,
        )
        from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
            load_table,
            queries_view,
        )

        pool = exact_topk_fixture_cached(spark, sf_small, 10, "cosine").select(
            "query_id", "neighbor_id"
        )
        out = MV.maxsim_rerank(
            queries_view(spark, sf_small), load_table(spark, sf_small, "embeddings"), pool, k=5
        )
        rows = out.where(F.col("rank") == 1).collect()
        assert rows and all(r.neighbor_id == r.query_id for r in rows)

    def test_indivisible_dim_raises(self):
        import pytest as _pytest

        from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
            multivec as MV,
        )

        with _pytest.raises(ValueError, match="does not divide"):
            MV.maxsim_expr("a", "b", 50, 4)


class TestMutation:
    def _parts(self, spark, sf_small):
        from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
            mutate as MU,
        )
        from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
            load_table,
        )

        corpus = load_table(spark, sf_small, "embeddings")
        ups, dels = MU.fixture_mutation(corpus)
        return MU, corpus, ups, dels

    def test_live_view_semantics(self, spark, sf_small):
        """Deleted ids are gone, upserted ids carry the NEW embedding,
        ids in both batches obey delete-wins, untouched ids unchanged."""
        MU, corpus, ups, dels = self._parts(spark, sf_small)
        live = {r.vec_id: list(r.embedding)
                for r in MU.mutated_live(corpus, ups, dels).collect()}
        base = {r.vec_id: list(r.embedding) for r in corpus.collect()}
        del_ids = {r.vec_id for r in dels.collect()}
        up_ids = {r.vec_id for r in ups.collect()}
        assert del_ids and up_ids and (del_ids & {i for i in base if i % MU.UPSERT_MOD == MU.UPSERT_REM})
        for i, emb in base.items():
            if i in del_ids:
                assert i not in live  # delete wins, even over an upsert
            elif i in up_ids:
                assert live[i] == emb[::-1]  # replaced by the new embedding
            else:
                assert live[i] == emb
        assert set(live) == (set(base) - del_ids)

    def test_mutated_topk_never_returns_deleted(self, spark, sf_small):
        MU, corpus, ups, dels = self._parts(spark, sf_small)
        from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
            queries_view,
        )

        out = MU.mutated_topk(queries_view(spark, sf_small), corpus, ups, dels, 10)
        del_ids = {r.vec_id for r in dels.collect()}
        assert out.count() > 0
        assert not any(r.neighbor_id in del_ids for r in out.collect())

    def test_compaction_counts_cover_live_view(self, spark, sf_small):
        MU, corpus, ups, dels = self._parts(spark, sf_small)
        stats = MU.compact_cells(corpus, ups, dels).collect()
        live_n = MU.mutated_live(corpus, ups, dels).count()
        assert sum(r.n_total for r in stats) == live_n
        assert all(r.n_base_live + r.n_upserted == r.n_total for r in stats)


class TestMatryoshka:
    def test_prefix_is_leading_coordinates(self, spark, sf_small):
        from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
            mrl as M,
        )
        from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
            load_table,
        )

        corpus = load_table(spark, sf_small, "embeddings")
        vec = corpus.orderBy("vec_id").first()
        d = M.mrl_dims(len(vec.embedding))
        pre = M.mrl_prefix(corpus, d).where(F.col("id") == vec.vec_id).first()
        assert list(pre.prefix) == list(vec.embedding[:d])

    def test_self_query_rank1(self, spark, sf_small):
        """Query ids ARE corpus ids on the fixtures, so prefix cosine
        is 1.0 against self and rank 1 must be the query itself."""
        from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
            mrl as M,
        )
        from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
            load_table,
            queries_view,
        )

        corpus = load_table(spark, sf_small, "embeddings")
        queries = queries_view(spark, sf_small)
        rows = M.mrl_topk(queries, corpus, 3).where(F.col("rank") == 1).collect()
        assert rows and all(r.neighbor_id == r.query_id for r in rows)

    def test_refined_rerank_is_exact_over_candidates(self, spark, sf_small):
        """The refined top-K equals the exact cosine re-rank of the
        prefix candidate set (zero-miss within candidates)."""
        from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
            mrl as M,
        )
        from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.functions.vector import (
            cosine,
        )
        from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
            load_table,
            queries_view,
        )
        from pyspark.sql.window import Window

        corpus = load_table(spark, sf_small, "embeddings")
        queries = queries_view(spark, sf_small)
        k = 5
        got = {(r.query_id, r.rank): r.neighbor_id
               for r in M.mrl_refined_topk(queries, corpus, k).collect()}
        cand = M.mrl_topk(queries, corpus, M.MRL_REFINE_R * k).select(
            "query_id", "neighbor_id"
        )
        qv = queries.select("query_id", F.col("embedding").alias("qv"))
        cv = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
        exact = (
            cand.join(qv, "query_id").join(cv, "neighbor_id")
            .select("query_id", "neighbor_id", cosine("qv", "cv").alias("s"))
            .withColumn(
                "rank",
                F.row_number().over(
                    Window.partitionBy("query_id").orderBy(
                        F.col("s").desc(), F.col("neighbor_id")
                    )
                ),
            )
            .where(F.col("rank") <= k)
        )
        want = {(r.query_id, r.rank): r.neighbor_id for r in exact.collect()}
        assert got == want


def test_maxsim_union_pool_bounded_by_mp(spark, sf_small):
    """The r07 stage-1 contract, regression-guarded: the union pool is
    ≤ M·p docs per query REGARDLESS of corpus size (the retired ⌈N/5⌉
    pool was the registry's one linear-in-N plan)."""
    from pyspark.sql import functions as F

    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
        multivec as MV,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
        load_table,
        queries_view,
    )

    corpus = load_table(spark, sf_small, "embeddings")
    pool = MV.maxsim_union_pool(queries_view(spark, sf_small), corpus)
    sizes = pool.groupBy("query_id").agg(F.count("*").alias("c")).collect()
    assert sizes
    cap = MV.MV_M * MV.MAXSIM_POOL_P
    assert all(r["c"] <= cap for r in sizes), [(r["query_id"], r["c"]) for r in sizes]


def test_filtered_routing_picks_the_winning_plan(spark, sf_small):
    """ACORN-style selectivity routing (r10): (a) the ≈2% predicate
    routes to pre-filter + exact (and equals the exact filtered
    top-K); (b) the 40% predicate routes to post-filtered IVF;
    (c) the motivation is real — the post-filter route on the
    selective predicate loses most of the answer set (survivors
    live outside the probed cells)."""
    from pyspark.sql import functions as F

    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
        simsearch as S,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
        vectordb as V,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.registry_vectordb import (
        _filter_col,
        _routed_filter_col,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
        load_table,
        queries_view,
    )

    corpus = load_table(spark, sf_small, "embeddings")
    queries = queries_view(spark, sf_small)
    K = 20

    routed, route_lo = V.routed_filtered_topk(queries, corpus, K, _routed_filter_col())
    _, route_hi = V.routed_filtered_topk(queries, corpus, K, _filter_col())
    assert route_lo == "prefilter"
    assert route_hi == "postfilter"

    exact = V.filtered_topk(queries, corpus, K, _routed_filter_col(), metric="cosine")
    got = {(r.query_id, r.rank, r.neighbor_id) for r in routed.collect()}
    want = {(r.query_id, r.rank, r.neighbor_id) for r in exact.collect()}
    assert got == want

    ivf = V.filtered_ivf_topk(queries, corpus, K, _routed_filter_col())
    rec = S.ann_recall(
        ivf.select("query_id", "neighbor_id", "score"),
        exact.select("query_id", "neighbor_id", "rank", "score"),
        K,
    ).collect()[0]
    assert rec.recall_at_k < 0.5, rec


def test_filtered_routing_derived_crossover_beats_fixed_constant(spark, sf_small):
    """The r11 fix (VERDICT r10 #3): the route comes from the derived
    crossover E = s·N·nprobe/cells ≥ fill·K, not a fixed 5% constant.
    At the mid-selectivity disagreement point (one label class, s≈10%:
    above the old 5% constant, below the derived crossover
    K·cells/(N·nprobe) ≈ 26.7%) the old rule picks post-filtered IVF,
    which cannot fill K (expected probed survivors ≈ 7 < K=20) and
    loses most of the answer set; the formula picks pre-filter with
    recall exactly 1.0. Also pins the formula's regime arithmetic to
    the live statistics so a centroid-policy change moves the
    crossover with it."""
    from pyspark.sql import functions as F

    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
        simsearch as S,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
        vectordb as V,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
        load_table,
        queries_view,
    )

    corpus = load_table(spark, sf_small, "embeddings")
    queries = queries_view(spark, sf_small)
    K = 20
    mid = F.col("label") == 1

    n = corpus.count()
    surv = corpus.where(mid).count()
    cells = S.ivf_centroids(corpus).count()
    sel = surv / n
    expected = surv * S.IVF_NPROBE / cells
    # the disagreement regime must actually hold on the fixture
    assert sel > 0.05, f"predicate no longer above the old constant: {sel}"
    assert expected < K, f"predicate no longer below the derived crossover: {expected}"

    routed, route = V.routed_filtered_topk(queries, corpus, K, mid)
    assert route == "prefilter", "formula must override the old 5% rule here"

    exact = V.filtered_topk(queries, corpus, K, mid, metric="cosine")
    got = {(r.query_id, r.rank, r.neighbor_id) for r in routed.collect()}
    want = {(r.query_id, r.rank, r.neighbor_id) for r in exact.collect()}
    assert got == want, "prefilter route must equal the exact filtered top-K"

    # what the old constant would have run: post-filtered IVF — it
    # cannot fill K from the probed cells at this selectivity
    ivf = V.filtered_ivf_topk(queries, corpus, K, mid)
    rec = S.ann_recall(
        ivf.select("query_id", "neighbor_id", "score"),
        exact.select("query_id", "neighbor_id", "rank", "score"),
        K,
    ).collect()[0]
    assert rec.recall_at_k < 0.8, rec


def test_routing_cell_count_is_catalog_derived_not_trained(spark, sf_small):
    """r11 ADVICE #2: the router's cell count must come from the
    stride policy (a catalog property), not from training the
    quantizer — the prefilter route must never pay a k-means build
    for an index it doesn't touch. Two halves: (a) the derived count
    equals the trained quantizer's centroid count exactly (kmeans
    seeds every vec_id % IVF_STRIDE == 0 row and empty clusters keep
    their previous centroid, so |cells| == |seeds|); (b) routing a
    fresh corpus frame leaves the ivf_centroids memo untouched."""
    from pyspark.sql import functions as F

    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
        simsearch as S,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators import (
        vectordb as V,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.registry_vectordb import (
        _routed_filter_col,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.session import (
        session_cache,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
        load_table,
        queries_view,
    )

    corpus = load_table(spark, sf_small, "embeddings")
    derived = corpus.where(F.col("vec_id") % S.IVF_STRIDE == 0).count()
    trained = S.ivf_centroids(corpus).count()
    assert derived == trained

    # a distinct frame through the prefilter route: the centroid memo
    # must not grow
    fresh = load_table(spark, sf_small, "embeddings").where(F.lit(True))
    memo = session_cache(spark, "ivf_centroids")
    before = set(memo.keys())
    _, route = V.routed_filtered_topk(
        queries_view(spark, sf_small), fresh, 20, _routed_filter_col()
    )
    assert route == "prefilter"
    assert set(memo.keys()) == before, "router trained a quantizer"
    assert not any(key[0] is fresh for key in memo), "router trained a quantizer"
