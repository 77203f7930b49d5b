"""Derive a nous-shaped knowledge graph from the TPC-H star schema.

Purpose: give the recall/refcount/traversal operators (graph.py) an
oracle-checkable input — the derivation is pure SQL (no UDFs), so DuckDB
can compute the identical graph and the driver's correctness harness can
verify the *query semantics* end-to-end (the UDF-based extraction path
is verified separately by the golden-triple pytest suite).

Mapping (mirrors the reference data model, SURVEY.md §1.1):
  * Entity      <- customer          (entity_id = 'cust:' || c_custkey)
  * Identifier  <- c_name            (type 'username', primary)
  * Fact        <- nation / segment  ('Nation:<n_name>', 'Segment:<c_mktsegment>')
  * HAS_FACT    <- pred 'lives_in' (customer->nation) and
                   pred 'has_segment' (customer->mktsegment), confidence 1.0

``nation`` is a 25-row dimension — the join is a broadcast by
construction; Catalyst also picks BroadcastHashJoin from stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nous_spark.graph import HAS_FACT, HAS_IDENTIFIER, edge_rows


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def tpch_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAS_IDENTIFIER + HAS_FACT edges from customer x nation."""
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")

    entity = F.concat(F.lit("cust:"), F.col("c_custkey"))
    has_identifier = edge_rows(
        customer,
        HAS_IDENTIFIER,
        entity,
        F.concat(F.lit("username:"), F.col("c_name")),
        is_primary=F.lit(True),
    )
    lives_in = edge_rows(
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey),
        HAS_FACT,
        entity,
        F.concat(F.lit("Nation:"), F.col("n_name")),
        pred=F.lit("lives_in"),
        confidence=F.lit(1.0),
    )
    has_segment = edge_rows(
        customer,
        HAS_FACT,
        entity,
        F.concat(F.lit("Segment:"), F.col("c_mktsegment")),
        pred=F.lit("has_segment"),
        confidence=F.lit(1.0),
    )
    return has_identifier.unionByName(lives_in).unionByName(has_segment)


def tpch_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load(spark, sf_dir, "nation")
    customer = load(spark, sf_dir, "customer")
    nf = nation.select(
        F.concat(F.lit("Nation:"), F.col("n_name")).alias("fact_id"),
        F.col("n_name").alias("name"),
        F.lit("Nation").alias("fact_type"),
    )
    sf = (
        customer.select("c_mktsegment")
        .distinct()
        .select(
            F.concat(F.lit("Segment:"), F.col("c_mktsegment")).alias("fact_id"),
            F.col("c_mktsegment").alias("name"),
            F.lit("Segment").alias("fact_type"),
        )
    )
    return nf.unionByName(sf)


# Matching oracle-SQL fragments (DuckDB dialect == ANSI here).
EDGES_SQL = """
    SELECT 'cust:' || c_custkey AS src, 'HAS_IDENTIFIER' AS edge_type,
           'username:' || c_name AS dst, CAST(NULL AS VARCHAR) AS pred,
           CAST(NULL AS DOUBLE) AS confidence, TRUE AS is_primary,
           CAST(NULL AS TIMESTAMP) AS created_at
    FROM customer
    UNION ALL
    SELECT 'cust:' || c_custkey, 'HAS_FACT', 'Nation:' || n_name,
           'lives_in', 1.0, NULL, NULL
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    UNION ALL
    SELECT 'cust:' || c_custkey, 'HAS_FACT', 'Segment:' || c_mktsegment,
           'has_segment', 1.0, NULL, NULL
    FROM customer
"""

FACTS_SQL = """
    SELECT 'Nation:' || n_name AS fact_id, n_name AS name, 'Nation' AS fact_type
    FROM nation
    UNION ALL
    SELECT DISTINCT 'Segment:' || c_mktsegment, c_mktsegment, 'Segment'
    FROM customer
"""
