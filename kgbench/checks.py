"""Correctness checks, all run off the timed path.

* Triple precision/recall of a pipeline run, as a Spark join of the run's
  ``triples`` and ``mentions`` stage tables against
  ``datagen.generate_expected`` (the ground truth from generation
  parameters, not from the extractor).
* Recall answers (``graph.entity_neighborhood``, ``graph.entity_facts``,
  ``graph.expand_hops``) against the same lookup written in DuckDB SQL
  over the same graph parquet, compared as sorted, canonicalised row
  lists.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nous_spark import graph

# ---------------------------------------------------------------------------
# recall reads: one Spark call and its DuckDB twin per read kind
# ---------------------------------------------------------------------------
READ_KINDS = ("neighborhood", "facts", "hops")


def spark_read(kind: str, edges: DataFrame, facts: DataFrame, ident: str, pred: str) -> DataFrame:
    id_type, id_value = ident.split(":", 1)
    if kind == "neighborhood":
        return graph.entity_neighborhood(edges, facts, id_type, id_value)
    e = graph.find_entity_by_identifier(edges, id_type, id_value)
    if kind == "facts":
        return graph.entity_facts(edges, facts, e, pred=pred)
    return graph.expand_hops(edges, e, hops=2)


def duck_read(kind: str) -> str:
    """DuckDB SQL for ``kind`` over views ``edges``/``facts``; parameters
    are ``$ident`` and ``$pred``."""
    anchor = (
        "SELECT DISTINCT src AS entity_id FROM edges "
        "WHERE edge_type = 'HAS_IDENTIFIER' AND dst = $ident"
    )
    hf = "SELECT src AS entity_id, dst AS fact_id, pred, confidence FROM edges WHERE edge_type = 'HAS_FACT'"
    if kind == "neighborhood":
        return f"""
            WITH e AS ({anchor}), hf AS ({hf}),
                 df AS (SELECT src AS fact_id, dst AS source_id FROM edges
                        WHERE edge_type = 'DERIVED_FROM')
            SELECT e.entity_id, hf.pred, hf.fact_id, f.name, f.fact_type,
                   hf.confidence, df.source_id
            FROM e LEFT JOIN hf ON hf.entity_id = e.entity_id
                   LEFT JOIN facts f ON f.fact_id = hf.fact_id
                   LEFT JOIN df ON df.fact_id = hf.fact_id
        """
    if kind == "facts":
        return f"""
            WITH e AS ({anchor}), hf AS ({hf})
            SELECT e.entity_id, hf.pred, hf.fact_id, f.name, f.fact_type, hf.confidence
            FROM e JOIN hf ON hf.entity_id = e.entity_id AND hf.pred = $pred
                   JOIN facts f ON f.fact_id = hf.fact_id
        """
    return f"""
        WITH hf AS (SELECT DISTINCT src AS entity_id, dst AS fact_id FROM edges
                    WHERE edge_type = 'HAS_FACT'),
             d0 AS ({anchor}),
             n1 AS (SELECT DISTINCT b.entity_id FROM d0 JOIN hf a USING (entity_id)
                    JOIN hf b ON b.fact_id = a.fact_id
                    WHERE b.entity_id NOT IN (SELECT entity_id FROM d0)),
             n2 AS (SELECT DISTINCT b.entity_id FROM n1 JOIN hf a USING (entity_id)
                    JOIN hf b ON b.fact_id = a.fact_id
                    WHERE b.entity_id NOT IN (SELECT entity_id FROM d0)
                      AND b.entity_id NOT IN (SELECT entity_id FROM n1))
        SELECT entity_id, 0 AS depth FROM d0
        UNION ALL SELECT entity_id, 1 FROM n1
        UNION ALL SELECT entity_id, 2 FROM n2
    """


def duck_graph(edges_dir: str, facts_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW edges AS SELECT * FROM read_parquet('{edges_dir}/*.parquet')")
    con.execute(f"CREATE VIEW facts AS SELECT * FROM read_parquet('{facts_dir}/*.parquet')")
    return con


def duck_rows(con, kind: str, ident: str, pred: str) -> list[tuple]:
    sql = duck_read(kind)
    params = {"ident": ident}
    if kind == "facts":
        params["pred"] = pred
    return con.execute(sql, params).fetchall()


# ---------------------------------------------------------------------------
# row comparison
# ---------------------------------------------------------------------------
def _canon(val) -> str:
    if val is None:
        return "NULL"
    if isinstance(val, float):
        return "NaN" if math.isnan(val) else f"{val:.6f}"
    return str(val)


def canon_rows(rows) -> list[str]:
    return sorted("|".join(_canon(v) for v in row) for row in rows)


# ---------------------------------------------------------------------------
# triple precision / recall of a pipeline run
# ---------------------------------------------------------------------------
def triple_pr(spark: SparkSession, run_dir: str, expected: DataFrame) -> tuple[float, float]:
    linked = spark.read.parquet(os.path.join(run_dir, "triples"))
    men = spark.read.parquet(os.path.join(run_dir, "mentions"))
    subj = men.filter(F.col("mention_rank") == 0).select("url", F.col("entity_key").alias("subj"))
    emitted = linked.join(subj, linked.source_url == subj.url).select(
        "subj",
        "pred",
        F.concat_ws(":", "fact_type", "fact_name").alias("obj"),
        linked.source_url.alias("url"),
    ).distinct()
    expected = expected.cache()
    exp = (
        expected.withColumn("pred_alt", F.explode(F.split("pred_alts", r"\|")))
        .withColumn("obj_alt", F.explode(F.split("obj_alts", r"\|")))
        .withColumn("alt_type", F.substring_index("obj_alt", ":", 1))
        .withColumn("alt_name", F.expr("substring(obj_alt, instr(obj_alt, ':') + 1)"))
    )
    em = emitted.withColumn("obj_type", F.substring_index("obj", ":", 1)).withColumn(
        "obj_name", F.expr("substring(obj, instr(obj, ':') + 1)")
    )
    tp = (
        em.join(
            exp,
            (em.url == exp.url)
            & (em.subj == exp.subj)
            & (em.pred == exp.pred_alt)
            & (em.obj_name == exp.alt_name)
            & ((exp.alt_type == "*") | (em.obj_type == exp.alt_type)),
        )
        .select(em.url, em.subj, em.pred, em.obj)
        .distinct()
        .count()
    )
    n_emitted, n_expected = emitted.count(), expected.count()
    expected.unpersist()
    return tp / max(n_emitted, 1), tp / max(n_expected, 1)
