"""Fixed StructType contracts for every table in the engine.

The reference keeps schemas at the application boundary via Pydantic
validators (SURVEY.md §1.3); we pin them as Spark StructTypes so every
stage has a stable, checkable contract.

Mapping to the reference data model (file:line cites are relative to
/root/reference/apps/api/app/features/graph/):
  * PAGES     — BASELINE.json input_hint (Common-Crawl-style web pages);
                plays the role of Source.content + event timestamp
                (models/source_model.py:15-36).
  * MENTIONS  — per-page identifier detections; mirrors the request's
                ``identifier: {type, value}`` (dtos/knowledge_dto.py:65-82).
  * TRIPLES   — raw extraction output, the 5-tuple fact assertion
                (entity, verb, fact, confidence, source)
                (models/fact_model.py:60-88 HAS_FACT edge).
  * NODES / IDENTIFIERS / FACTS / SOURCES / EDGES — the 4-node/3-edge
                property graph (docs/graph_db_schema.md:7).
  * EMBEDDINGS — the Qdrant point mirror (repositories/qdrant_repository.py:146-157).
  * METRICS   — per-stage/partition lineage rows, shape modeled on
                token_usage_events (features/usage/models.py:16-63).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------- input
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# ------------------------------------------------------------ extraction
MENTIONS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("id_type", T.StringType(), False),  # email|phone|username|uuid|social_id
        T.StructField("id_value", T.StringType(), False),
    ]
)

# exploded, linked triples prior to graph materialization
TRIPLES = T.StructType(
    [
        T.StructField("subj_id_type", T.StringType(), False),
        T.StructField("subj_id_value", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("fact_type", T.StringType(), False),
        T.StructField("fact_name", T.StringType(), False),
        T.StructField("fact_id", T.StringType(), False),
        T.StructField("confidence", T.DoubleType(), False),
        T.StructField("source_url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
    ]
)

# ------------------------------------------------------------- the graph
NODES = T.StructType(
    [
        T.StructField("entity_id", T.StringType(), False),
        T.StructField("created_at", T.TimestampType(), True),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

IDENTIFIERS = T.StructType(
    [
        T.StructField("value", T.StringType(), False),
        T.StructField("id_type", T.StringType(), False),
    ]
)

FACTS = T.StructType(
    [
        T.StructField("fact_id", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("fact_type", T.StringType(), False),
    ]
)

SOURCES = T.StructType(
    [
        T.StructField("source_id", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

EDGE_TYPES = ("HAS_IDENTIFIER", "HAS_FACT", "DERIVED_FROM")

EDGES = T.StructType(
    [
        T.StructField("src", T.StringType(), False),
        T.StructField("edge_type", T.StringType(), False),
        T.StructField("dst", T.StringType(), False),
        T.StructField("pred", T.StringType(), True),        # HAS_FACT only
        T.StructField("confidence", T.DoubleType(), True),  # HAS_FACT only
        T.StructField("is_primary", T.BooleanType(), True), # HAS_IDENTIFIER only
        T.StructField("created_at", T.TimestampType(), True),
    ]
)

# ------------------------------------------------------------ vector side
EMBEDDING_DIM = 768  # core/settings.py:94-96

EMBEDDINGS = T.StructType(
    [
        T.StructField("point_id", T.StringType(), False),
        T.StructField("vector", T.ArrayType(T.FloatType()), False),
        T.StructField("tenant_id", T.StringType(), True),
        T.StructField("entity_id", T.StringType(), False),
        T.StructField("fact_id", T.StringType(), False),
        T.StructField("verb", T.StringType(), False),
        T.StructField("sentence", T.StringType(), True),
    ]
)

# ------------------------------------------------------- lineage/metrics
# tokens/cost_usd mirror token_usage_events (usage/models.py:46-54):
# per-stage token counts and the write-time DECIMAL(18,8) cost
# (pricing.py) — NULL for stages with no provider-call analog.
METRICS = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("rows_in", T.LongType(), True),
        T.StructField("rows_out", T.LongType(), True),
        T.StructField("tokens", T.LongType(), True),
        T.StructField("cost_usd", T.DecimalType(18, 8), True),
        T.StructField("started_at", T.TimestampType(), True),
        T.StructField("finished_at", T.TimestampType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("error_type", T.StringType(), True),
    ]
)

IDENTIFIER_TYPES = ("email", "phone", "username", "uuid", "social_id")
