"""Fixture-table scans (SURVEY §2.1 S9 — the engine's primary source).

Parquet is the engine's native storage: columnar pages + ZSTD are the
Spark-world analog of the reference's disaggregated bit-plane layout
(reference ``ANNCode.py:668-690``, paper §3.3) — the reduced-precision
and full-precision representations live in *separate columns*, so
column pruning means the cheap first pass never reads full-precision
bytes at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import memo

FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

#: Deterministic query-set derivation (FIXTURES.md §B): every 50th vector.
QUERY_STRIDE = 50

#: The fixture corpus's embedding dimensionality (FIXTURES.md §B). The
#: operator layer derives dim from the data (`simsearch.embedding_dim`);
#: this constant exists ONLY for the DuckDB oracle strings, which are
#: literal SQL over these specific fixture tables by definition.
FIXTURE_EMBED_DIM = 64


#: fixture columns stored as parquet TIMESTAMP(NANOS); Spark reads them
#: as LONG (``nanosAsLong``) and we truncate to microseconds — exactly
#: what DuckDB does natively — so both engines see identical values.
NANO_TS_COLUMNS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Filters/projections push into the scan.

    Memoized per session (``session.memo``): spark.read.parquet pays
    file listing + footer/schema resolution on every call (~0.1-1s of
    driver/JVM time) and a registry run touches each table dozens of
    times. DataFrames are immutable, so handing back the same object
    is safe."""

    def scan() -> DataFrame:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        for col in NANO_TS_COLUMNS.get(name, ()):
            if dict(df.dtypes).get(col) == "bigint":
                df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
        return df

    return memo(spark, "fixture_tables", (sf_dir, name), scan)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for spark.sql use)."""
    for name in FIXTURE_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def queries_view(spark: SparkSession, sf_dir: str, stride: int = QUERY_STRIDE) -> DataFrame:
    """Derive the query set from ``embeddings`` (reference takes a Q
    matrix, ``ANNCode.py:821-822``; we take every ``stride``-th vector).

    The modulo predicate is pushed down to the parquet scan.
    """
    return (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") % stride == 0)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
