"""Salted two-phase aggregation for aggregates Spark cannot pre-aggregate.

Web-scale KG construction has pathologically hot keys: entities like
"Location:Paris" fan in from millions of pages (our synthetic corpus
reproduces this with a Zipf-skewed city/company pool — datagen.py).

For algebraic merges (min/max/count/sum) Spark's HashAggregate already
runs a partial aggregate per map task before the shuffle, so a hot key
reaches its reducer as one row per map task — that IS the two-phase
merge, and the HAS_FACT edge merge (graph.build_fact_tables) relies on
it. Salting only matters for collect-style aggregates (collect_set /
collect_list, top-k), whose partial state grows with the key's fan-in:

add salt = pmod(xxhash64(...), S), aggregate by (key, salt) — the
*partial* phase, spread over S reducers — then merge the S partials by
key — the *final* phase, S rows per key. ``salted_collect_set`` backs
the kg_salted_collect query; ``with_salt`` also feeds
semantic.summarize_entities.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int, *cols: str) -> DataFrame:
    """Per-row salt in [0, n_salts).

    With ``cols``: deterministic hash of those columns (identical rows get
    the same salt — right for dedup). Without: a row-position hash that
    spreads even fully-duplicate rows (right for counts). Either way the
    salt only affects data placement, never results.
    """
    src = (
        F.xxhash64(*[F.col(c) for c in cols])
        if cols
        else F.xxhash64(F.monotonically_increasing_id())
    )
    return df.withColumn("_salt", F.pmod(src, F.lit(n_salts)))


def salted_collect_set(
    df: DataFrame, key_cols: list[str], value_col: str, n_salts: int, out_col: str = "vals"
) -> DataFrame:
    """Two-phase collect_set — partial sets per (key, salt), flattened and
    deduped in the final phase. Bounds reducer memory on hot keys."""
    salted = with_salt(df, n_salts)
    partial = salted.groupBy(*key_cols, "_salt").agg(
        F.collect_set(value_col).alias("_ps")
    )
    return partial.groupBy(*key_cols).agg(
        F.array_distinct(F.flatten(F.collect_list("_ps"))).alias(out_col)
    )
