from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark import (
    clear_caches,
    get_spark,
)

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"

#: the session's driver heap: half of physical memory, at most the
#: 12 GiB the suite was sized with on a 128 GiB box
DRIVER_MEMORY_MB = min(
    12 * 1024, os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20 // 2
)


@pytest.fixture(scope="session")
def spark():
    # One JVM serves the whole ~540-test session: persisted index
    # artifacts, broadcasts and codegen caches accumulate across
    # modules, and the 1g default heap started OOMing once the
    # registry passed ~135 queries (r05). r12: 6g → 12g — at 6g the
    # tail of the session runs near-full (the same high-occupancy GC
    # drag the bench showed at 6g). DRIVER_MEMORY_MB keeps 12g on a
    # 128 GiB box and never asks for more than half the machine.
    # ReservedCodeCacheSize: the 540-test session JITs even more
    # generated classes than the bench; the 240 MB default crosses the
    # flush threshold mid-suite and re-JIT churn inflates the tail
    # (same mechanism as the bench — see bench.py).
    # Cores come from $SPARK_GRAFT_CPUS (get_spark's default).
    session = get_spark(
        app_name="bfann-tests",
        shuffle_partitions=8,
        extra_conf={
            "spark.driver.memory": f"{DRIVER_MEMORY_MB}m",
            "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=512m",
        },
    )
    yield session
    # deletes the store directories the session's queries wrote
    clear_caches(session)


@pytest.fixture(scope="session")
def registry_artifacts(spark, sf_small) -> dict:
    """{name: (schema, executed-plan string)} for every registered
    query at sf0.001, computed ONCE per session (r12 VERDICT #2: the
    three scale-guard sweeps and the two registry-shape tests each
    re-built all ~250 physical plans — ~880s of the suite's wall —
    for assertions that only read the plan text / schema)."""
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark import (
        registry,
    )

    out = {}
    for name, fn in registry.QUERIES.items():
        df = fn(spark, sf_small)
        out[name] = (
            df.schema,
            df._jdf.queryExecution().executedPlan().toString(),
        )
    return out


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_medium() -> str:
    return SF_MEDIUM
