"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
configuration knobs are the ones that matter on a real cluster:
AQE (runtime re-planning, skew-join splitting, partition coalescing),
Arrow for every Python<->JVM hop, and a shuffle-partition count sized
to the test fixtures (32) — production deployments override
``spark.sql.shuffle.partitions`` / rely on AQE to coalesce.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import weakref

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

#: the directory that holds the package (its import root)
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: per-session memo store: ``{kind: {key: value}}`` for every
#: artifact the engine reuses across queries (prepared corpora, exact
#: top-K frames, trained quantizers, fixture scans, stored index
#: directories). Keyed WEAKLY by the SparkSession object so no module
#: needs an ``id(spark)`` key. The weak key does not bound the
#: entries' life: every cached DataFrame holds its ``_session``, so a
#: session with memoized frames stays reachable. ``clear_caches`` is
#: the lifecycle.
_SESSION_CACHES: "weakref.WeakKeyDictionary[SparkSession, dict[str, dict]]" = (
    weakref.WeakKeyDictionary()
)

#: entries per memo kind; past it the oldest entry is dropped, so a
#: loop that memoizes per-call frames cannot grow a kind without bound
MEMO_MAX_ENTRIES = 256

#: the store kind that records every directory ``memo_dir`` created
_DIRS_KIND = "memo_dirs"


def session_cache(spark: SparkSession, name: str) -> dict:
    """The raw ``{key: value}`` dict of one memo kind for this session
    (created on first use) — the store accessor behind :func:`memo`,
    for inspection; engine code memoizes through :func:`memo`."""
    per = _SESSION_CACHES.get(spark)
    if per is None:
        per = {}
        _SESSION_CACHES[spark] = per
    return per.setdefault(name, {})


def memo(spark: SparkSession, kind: str, key, build):
    """``build()`` once per (session, ``kind``, ``key``); later calls
    return the same value until ``clear_caches``.

    Keys may hold DataFrames: a DataFrame hashes and compares by
    identity, and the entry keeps it alive, so a key never aliases a
    collected frame. A ``build`` that raises caches nothing. Each kind
    keeps at most ``MEMO_MAX_ENTRIES`` entries, oldest dropped first."""
    cache = session_cache(spark, kind)
    if key in cache:
        return cache[key]
    value = build()
    cache[key] = value
    if len(cache) > MEMO_MAX_ENTRIES:
        del cache[next(iter(cache))]
    return value


def memo_dir(spark: SparkSession, kind: str, key, write) -> str:
    """A session-owned store directory: once per (session, ``kind``,
    ``key``) create ``bfann-<kind>-*`` under the temp dir, run
    ``write(path)`` into it and return the path. The directory is
    recorded before ``write`` runs, so ``clear_caches`` deletes it
    even when ``write`` raises (which caches nothing)."""

    def build() -> str:
        path = tempfile.mkdtemp(prefix=f"bfann-{kind}-")
        session_cache(spark, _DIRS_KIND)[path] = kind
        write(path)
        return path

    return memo(spark, kind, key, build)


def clear_caches(spark: SparkSession | None = None) -> None:
    """Release every memoized artifact (cache lifecycle for long-lived
    sessions: sweep loops, CLI exit, benchmarks).

    Drops the session's memo store, deletes the directories
    ``memo_dir`` created, clears the session's SQL cache
    (``catalog.clearCache()`` unpersists every cached relation —
    including per-query internal persists the memo never saw), then
    unpersists every RDD the context still holds (``localCheckpoint``
    blocks, which the SQL cache never saw). With no argument, clears
    every live session."""
    sessions = [spark] if spark is not None else list(_SESSION_CACHES)
    for s in sessions:
        per = _SESSION_CACHES.pop(s, {})
        try:
            s.catalog.clearCache()
            for rdd in s.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist(False)
        except Exception:
            pass  # session already stopped — nothing left to release
        for path in per.get(_DIRS_KIND, ()):
            shutil.rmtree(path, ignore_errors=True)


def get_spark(
    app_name: str = "bfann-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or fetch) the engine's SparkSession.

    Parameters mirror the judge/driver environment: ``cpus`` defaults to
    ``$SPARK_GRAFT_CPUS`` (else all cores). The package's parent
    directory leads the Python workers' ``PYTHONPATH``, so pandas-UDF
    stages import the package from any working directory; an
    ``extra_conf`` entry for ``spark.executorEnv.PYTHONPATH`` wins.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    worker_path = os.pathsep.join(filter(None, (_PACKAGE_PARENT, os.environ.get("PYTHONPATH"))))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime coalescing, skew-join handling, broadcast demotion.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow on every pandas UDF / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Generated-class cache: a registry session compiles several
        # hundred distinct whole-stage sources and the default
        # 100-entry LRU evicts recurring shapes (the top-K window
        # tail, InMemoryTableScan wrappers), re-paying janino compiles
        # mid-run — measured 15-24% on a 10-query cold subset (r12
        # optimization round; OPTIMIZATION_r12.md). Class footprints
        # are small; the same sizing helps executors at any scale.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        # Timestamps in fixtures are naive; pin session TZ for determinism.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.executorEnv.PYTHONPATH", worker_path)
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


#: analyzed-plan node names that imply a shuffle (or explicit
#: repartition) below this frame — its parallelism is then governed by
#: spark.sql.shuffle.partitions, not by the input file count.
_WIDE_NODES = frozenset(
    {"Join", "Aggregate", "Window", "Deduplicate",
     "Repartition", "RepartitionByExpression"}
)


def _has_wide_node(jplan) -> bool:
    """Walk the analyzed plan tree comparing node CLASS names — a
    substring search over the rendered plan string would false-match a
    column name or string literal containing e.g. 'Window' and
    silently skip the repartition guard."""
    stack = [jplan]
    while stack:
        node = stack.pop()
        if node.nodeName() in _WIDE_NODES:
            return True
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return False


def ensure_parallelism(df, min_partitions: int | None = None):
    """Guard against under-partitioned inputs feeding compute-heavy
    operators (cross-join scoring, shingle hashing).

    A fixture-sized table is one parquet file → one scan partition →
    one core does all downstream work before the first shuffle. At
    production scale inputs arrive in many splits and this is a no-op;
    locally it spreads the corpus across the cluster once, *before*
    the operator multiplies the work (×queries, ×shingles, ×hashes).

    The narrow/wide test walks the *analyzed* logical plan only:
    probing ``df.rdd.getNumPartitions()`` would force full physical
    planning plus RDD conversion (~3s of driver time on a wide plan,
    measured in the curation pipeline) just to learn a partition count
    that a downstream-of-shuffle frame makes irrelevant anyway. For
    the surviving narrow case the scan's parallelism is estimated from
    ``inputFiles()`` (file listing, no physical planning, no RDD
    conversion): an under-split source has few files; a source with
    many files (or one huge splittable file, where this undercounts
    and repartitions harmlessly) is already parallel enough.
    """
    if _has_wide_node(df._jdf.queryExecution().analyzed()):
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if len(df.inputFiles()) < max(2, target // 2):
        return df.repartition(target)
    return df
