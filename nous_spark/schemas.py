"""Fixed StructType contracts for the engine's input, graph and vector tables.

The reference keeps schemas at the application boundary via Pydantic
validators (SURVEY.md §1.3); we pin them as Spark StructTypes. PAGES is
the read schema of the streaming source; the graph and vector contracts
are checked field-for-field against what the batch pipeline and the
streaming assimilator write (tests/test_streaming.py).

Mapping to the reference data model (file:line cites are relative to
/root/reference/apps/api/app/features/graph/):
  * PAGES     — BASELINE.json input_hint (Common-Crawl-style web pages);
                plays the role of Source.content + event timestamp
                (models/source_model.py:15-36).
  * NODES / IDENTIFIERS / FACTS / SOURCES / EDGES — the 4-node/3-edge
                property graph (docs/graph_db_schema.md:7).
  * EMBEDDINGS — the Qdrant point mirror (repositories/qdrant_repository.py:146-157).
  * IDENTIFIER_TYPES — the identifier kinds the mention extractor emits
                (dtos/knowledge_dto.py:65-82).
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

IDENTIFIER_TYPES = ("email", "phone", "username", "uuid", "social_id")
