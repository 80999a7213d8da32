"""Typed dataset catalog over the driver fixtures (TESTDATA.md).

The reference has no catalog or schema objects — every input is a text
file split positionally at the use site
(ReduceByKey/src/main/scala/wc/FollowersCount.scala:26-27,
K-means/src/main/java/wc/CountFollowers.java:36-41). This module is the
engine's replacement: explicit schemas, one loader, and the derived
graph views every graph workload shares.

Scale notes: tables load straight from parquet (columnar, splittable)
with their schema bound from ``TABLE_SCHEMAS``, so building a table's
DataFrame reads no file footer and launches no schema-inference job;
filters/projections applied by callers reach the scan via Catalyst
pushdown — verified in tests with ``.explain``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Schemas of the driver-generated fixtures (TESTDATA.md), bound at every
# ``load_table`` in place of parquet schema inference. They must equal the
# schema Spark infers from the files (tests/test_catalog.py pins this at
# every fixture scale), or binding would change a column's type. The
# fixtures store timestamps as TIMESTAMP(MICROS, isAdjustedToUTC=false),
# which Spark reads as ``TimestampNTZType``.
TABLE_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLE_NAMES = tuple(TABLE_SCHEMAS)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table. Parquet scan → full pushdown support.

    The schema is bound, not inferred: no Spark job runs here. A file
    whose physical types disagree with ``TABLE_SCHEMAS`` (for instance
    TIMESTAMP(NANOS) timestamps) fails the first action that scans it
    with ``PARQUET_COLUMN_DATA_TYPE_MISMATCH``, never reads back wrong."""
    if name not in TABLE_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TABLE_SCHEMAS)}")
    return spark.read.schema(TABLE_SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Derived graph views.
#
# The reference's universal input is a follower edge list (FIXTURES.md §1).
# TESTDATA has no edge table, so graphs are derived deterministically from
# lineitem. Two views:
#
#  * ``follower_edges`` — raw, un-deduplicated (src=l_orderkey,
#    dst=l_suppkey): large (one row per lineitem), used by the grouped
#    aggregation workloads so the shuffle has real volume.
#  * ``graph_edges`` — small cyclic multigraph over vertex ids 0..99
#    (keys folded mod 100, self-loops dropped, dedup'd): used by
#    triangle counting / SSSP, where cycles must exist (TPC-H joins are
#    acyclic, FIXTURES.md §5).
# ---------------------------------------------------------------------------

# SQL fragments kept adjacent so the DuckDB oracle derives the *same* views.
FOLLOWER_EDGES_SQL = "SELECT l_orderkey AS src, l_suppkey AS dst FROM lineitem"
GRAPH_EDGES_SQL = """
SELECT DISTINCT src, dst FROM (
    SELECT l_orderkey % 100 AS src, l_suppkey % 100 AS dst FROM lineitem
    UNION ALL
    SELECT l_suppkey % 100 AS src, l_partkey % 100 AS dst FROM lineitem
) WHERE src <> dst
"""


def follower_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw follower edge list (one edge per lineitem row)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(F.col("l_orderkey").alias("src"), F.col("l_suppkey").alias("dst"))


def graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small cyclic directed graph (vertices 0..99), deduplicated."""
    li = load_table(spark, sf_dir, "lineitem")
    e1 = li.select(
        (F.col("l_orderkey") % 100).alias("src"), (F.col("l_suppkey") % 100).alias("dst")
    )
    e2 = li.select(
        (F.col("l_suppkey") % 100).alias("src"), (F.col("l_partkey") % 100).alias("dst")
    )
    return e1.unionByName(e2).where(F.col("src") != F.col("dst")).distinct()


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose the catalog as temp views so users can query in pure SQL
    (``spark.sql``) — the engine's SQL surface over the same tables the
    DataFrame API uses."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
