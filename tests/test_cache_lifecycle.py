"""Cache lifecycle (session.clear_caches): every memoized/persisted
frame — prepared corpora, scored scalar frames, exact top-K, trained
quantizers, per-query internal persists — is released on clear, so
long-lived sessions (sweep loops, CLI, benchmarks) don't accumulate
cached partitions without bound."""

from __future__ import annotations

import io
import os
import re
import tokenize
from pathlib import Path
from urllib.parse import urlparse

import bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark as pkg
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.pq import (
    pq_codebook,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.refine import (
    prepare_corpus_cached,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.topk import (
    exact_topk_fixture_cached,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.session import (
    MEMO_MAX_ENTRIES,
    clear_caches,
    session_cache,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
    load_table,
)


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_clear_caches_releases_all_persisted_frames(spark, sf_small):
    corpus = load_table(spark, sf_small, "embeddings")
    # build and materialize three different cached artifact families
    prepare_corpus_cached(corpus, 6, "l2-tz", cache_key=sf_small).count()
    exact_topk_fixture_cached(spark, sf_small, 5, "cosine").count()
    pq_codebook(corpus).count()
    assert _n_persistent(spark) > 0

    clear_caches(spark)
    assert _n_persistent(spark) == 0
    # memo dicts are empty too: next call rebuilds instead of handing
    # back a frame whose storage was just dropped
    assert session_cache(spark, "refine_prepared") == {}
    assert session_cache(spark, "exact_topk") == {}
    assert session_cache(spark, "pq_codebook") == {}


def test_clear_caches_releases_rdd_level_persists(spark, sf_small):
    """A graph-walk serve leaves ``localCheckpoint`` blocks that the SQL
    cache never saw; ``clear_caches`` releases those too."""
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark import (
        registry,
    )

    clear_caches(spark)
    registry.QUERIES["ann_graph_index_topk"](spark, sf_small).collect()
    assert _n_persistent(spark) > 0
    clear_caches(spark)
    assert _n_persistent(spark) == 0


def test_cached_artifacts_are_memoized_per_session(spark, sf_small):
    corpus = load_table(spark, sf_small, "embeddings")
    a = prepare_corpus_cached(corpus, 6, "l2-tz", cache_key=sf_small)
    b = prepare_corpus_cached(corpus, 6, "l2-tz", cache_key=sf_small)
    assert a is b
    assert load_table(spark, sf_small, "embeddings") is corpus
    clear_caches(spark)
    assert prepare_corpus_cached(corpus, 6, "l2-tz", cache_key=sf_small) is not a
    clear_caches(spark)


def test_repeated_operator_invocation_keeps_cache_bounded(spark, sf_small):
    """r07 verdict #6: bm25/tfidf/sketch/DSIR queries persist internal
    ≥2-consumer frames; repeated invocation in a long-lived session
    must reuse the memoized cached relations, not accumulate new ones."""
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark import (
        registry,
    )

    clear_caches(spark)
    names = ["bm25_topn", "tfidf_topn", "cms_heavy_hitters",
             "hll_distinct_tokens", "corpus_dsir_select"]
    for name in names:
        registry.QUERIES[name](spark, sf_small).count()
    baseline = _n_persistent(spark)
    assert baseline > 0
    for _ in range(3):
        for name in names:
            registry.QUERIES[name](spark, sf_small).count()
    assert _n_persistent(spark) == baseline
    clear_caches(spark)
    assert _n_persistent(spark) == 0


def test_embedding_dim_memo_is_hard_capped(spark, sf_small):
    """r12 ADVICE #4: per-call derived frames must not grow the
    embedding_dim memo without bound — every memo kind caps at
    ``MEMO_MAX_ENTRIES`` and evicts the oldest entry instead of
    retaining every plan it ever peeked."""
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.simsearch import (
        embedding_dim,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
        load_table,
    )

    clear_caches(spark)
    corpus = load_table(spark, sf_small, "embeddings")
    frames = [corpus.select("vec_id", "embedding") for _ in range(6)]
    cache = session_cache(spark, "embedding_dim")
    cache.update({(i, "x"): 64 for i in range(MEMO_MAX_ENTRIES)})  # fill to the cap
    for f in frames:
        assert embedding_dim(f) > 0
    assert len(cache) <= MEMO_MAX_ENTRIES
    # the newest entries stay, the oldest fillers went first
    assert all((f, "embedding") in cache for f in frames)
    assert (0, "x") not in cache and (MEMO_MAX_ENTRIES - 1, "x") in cache
    clear_caches(spark)


def test_compact_cells_does_not_grow_the_assignment_memo(spark, sf_small):
    """r12 ADVICE #1: per-invocation derived frames (live_base,
    kept_ups) go through the plain assignment plan — repeated
    compact_cells calls must not add ivf_assign memo entries or
    persisted frames."""
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.operators.mutate import (
        compact_cells,
        fixture_mutation,
    )
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.fixtures import (
        load_table,
    )

    clear_caches(spark)
    corpus = load_table(spark, sf_small, "embeddings")
    ups, dels = fixture_mutation(corpus)
    compact_cells(corpus, ups, dels).count()
    n_memo = len(session_cache(spark, "ivf_assign"))
    n_persist = _n_persistent(spark)
    for _ in range(2):
        compact_cells(corpus, ups, dels).count()
    assert len(session_cache(spark, "ivf_assign")) == n_memo
    assert _n_persistent(spark) == n_persist
    clear_caches(spark)


def _store_dirs(df) -> set[str]:
    """The ``bfann-*`` store directories a plan scans."""
    dirs = set()
    for f in df.inputFiles():
        parts = urlparse(f).path.split("/")
        dirs.update(
            "/".join(parts[: i + 1]) for i, p in enumerate(parts) if p.startswith("bfann-")
        )
    return dirs


def test_clear_caches_deletes_store_directories(spark, sf_small):
    """Stored index layouts live in session-owned temp directories:
    ``clear_caches`` deletes them, and the next call rebuilds the same
    result into new ones."""
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark import (
        registry,
    )

    def run() -> dict:
        out = {}
        for name in ("ann_pq_index_topk", "refine_l2_tz_served_topk"):
            df = registry.QUERIES[name](spark, sf_small)
            dirs = _store_dirs(df)
            assert dirs and all(os.path.isdir(d) for d in dirs), (name, dirs)
            out[name] = (dirs, sorted(df.collect()))
        return out

    clear_caches(spark)
    first = run()
    clear_caches(spark)
    for name, (dirs, _) in first.items():
        assert not any(os.path.exists(d) for d in dirs), (name, dirs)
    second = run()
    for name, (dirs, rows) in second.items():
        assert rows == first[name][1], name
        assert dirs.isdisjoint(first[name][0]), name
    clear_caches(spark)


#: what only ``session.py`` may contain: the raw store accessor, the
#: removed per-module memo helpers, and private temp-dir stores
_FORBIDDEN = (
    "session_cache(", "cached_persist", "tempfile.mkdtemp", "_index_store_path",
    "kmeans_persisted",
)


def test_one_memo_path_in_the_package():
    """Every memo in the package goes through ``session.memo`` /
    ``session.memo_dir``: outside ``session.py`` no module touches the
    raw store, creates its own temp-dir store, or keys anything by
    ``id(...)`` (a frame is its own key)."""
    root = Path(pkg.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path.name == "session.py" and path.parent == root:
            continue
        src = path.read_text()
        offenders += [f"{path.name}: {w}" for w in _FORBIDDEN if w in src]
        toks = [
            t for t in tokenize.generate_tokens(io.StringIO(src).readline)
            if t.type not in (tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE)
        ]
        for prev, tok, nxt in zip(toks, toks[1:], toks[2:]):
            if tok.string == "id" and nxt.string == "(" and prev.string != ".":
                offenders.append(f"{path.name}:{tok.start[0]}: id(")
    assert not offenders, offenders


#: ``memo_dir`` kinds the streaming ingest queries write; every other
#: store directory belongs to a ``registry.STORED_INDEXES`` row
_STREAMING_STORES = {"stream-ingest", "stream-neardup", "stream-neardup-reord", "spann-ingest"}


def test_every_stored_index_is_a_table_row():
    """Stored index artifacts are served only through the
    ``STORED_INDEXES`` table: besides the four streaming stores the one
    ``memo_dir`` call is the table body's, each row shares its
    sibling's oracle, and no hand-written serve twin remains."""
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark import (
        registry,
    )

    rows = registry.STORED_INDEXES
    root = Path(pkg.__file__).parent
    kinds = []
    for path in sorted(root.rglob("*.py")):
        src = path.read_text()
        kinds += re.findall(r"memo_dir\(\s*\w+,\s*([^,]+),", src)
        assert not re.search(
            r"def q_(ann_\w+_index_topk|refine_l2_tz_served_topk|ann_\w+_ranking_metrics)\b", src
        ), path.name
    assert sorted(kinds) == sorted(["row.kind"] + [f'"{k}"' for k in _STREAMING_STORES])
    assert len({r.kind for r in rows}) == len(rows) == 10
    assert not {r.kind for r in rows} & _STREAMING_STORES
    for r in rows:
        assert r.name in registry.QUERIES
        assert registry.ORACLES[r.name] == registry.ORACLES[r.sibling], r.name
