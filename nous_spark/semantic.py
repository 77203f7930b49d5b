"""Semantic layer: deterministic embeddings, RAG recall, summarization.

Re-expresses the reference's vector mirror + RAG read path (files
relative to /root/reference/apps/api/app/features/graph/):

  * build_embeddings — one point per (tenant, entity, verb, fact) HAS_FACT
    edge, deterministic uuid5 point id (repositories/qdrant_repository.py:63-78),
    vector = embedding of the synthetic sentence
    "The entity {verb} {type}: {name}" (qdrant_repository.py:93-107);
  * embed — the G2 embedder (services/embedding_service.py:74-175)
    replaced by a deterministic feature-hash embedder: no remote model,
    pure numpy inside an Arrow-batched UDF, byte-stable across runs and
    parallelism levels;
  * rag_recall — the lookup RAG branch (usecases/get_entity_usecase.py:124-176):
    entity-filtered vector top-k with score threshold (E1,
    qdrant_repository.py:215-224), then the verification semi-join of
    hits against the entity's graph fact ids (C6, get_entity_usecase.py:145-160
    — "prevent cross-entity leakage"), then the B8 post-filter;
  * summarize_entities — G3 (services/langchain_data_summarizer.py:24-133)
    as a template aggregation: confidence qualifiers (>=0.9 direct,
    0.7-0.9 "likely", <0.7 "possibly", prompt :48-54) and the zero-fact
    fast path (usecases/get_entity_summary.py:70-73).

Scale notes: embeddings are generated map-side (the facts join is left
to AQE — ``facts`` has one row per distinct fact and grows with the
corpus, so a forced broadcast hint would OOM at 10^9-page scale; AQE
converts to broadcast at runtime whenever the actual size is under
autoBroadcastJoinThreshold, which covers every local/test corpus); RAG
scoring scans only the entity's partition slice (semi-join first, then
score — the analog of Qdrant's payload-filtered search); summaries
aggregate per entity with map-side partial aggregation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nous_spark.graph import HAS_FACT, find_entity_by_identifier
from nous_spark.normalize import POINT_NS, point_id_for, synthetic_sentence_col, uuid5_col
from nous_spark.schemas import EMBEDDING_DIM

# ---------------------------------------------------------------------------
# deterministic feature-hash embedder (G2 replacement)
# ---------------------------------------------------------------------------
def embed_text(text: str | None, dim: int = EMBEDDING_DIM) -> np.ndarray:
    """Deterministic feature-hash embedding of one string.

    Word unigrams + word bigrams + char trigrams hash into ``dim``
    buckets with a sign bit (feature hashing / "hashing trick"); the
    result is L2-normalized so dot product == cosine. Pure function of
    the text (crc32 — C-speed, stable across processes and platforms) —
    the determinism contract for idempotent, resumable vector builds.
    """
    import zlib

    v = np.zeros(dim, dtype=np.float64)
    if not text:
        return v.astype(np.float32)
    toks = text.lower().split()
    feats: list[str] = list(toks)
    feats += [f"{a}_{b}" for a, b in zip(toks, toks[1:])]
    joined = " ".join(toks)
    feats += [joined[i : i + 3] for i in range(max(0, len(joined) - 2))]
    hs = np.fromiter(
        (zlib.crc32(f_.encode("utf-8")) for f_ in feats), dtype=np.int64, count=len(feats)
    )
    idx = hs % dim
    sign = np.where((hs >> 16) & 1, 1.0, -1.0)
    np.add.at(v, idx, sign)
    n = np.linalg.norm(v)
    if n > 0:
        v /= n
    return v.astype(np.float32)


def embed_udf(dim: int = EMBEDDING_DIM):
    """Arrow-batched pandas UDF: string column -> array<float> embedding."""

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def _embed(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: embed_text(t, dim).tolist())

    return _embed


# ---------------------------------------------------------------------------
# embeddings table build (A4/A5 sink analog)
# ---------------------------------------------------------------------------
def build_embeddings(
    edges: DataFrame,
    facts: DataFrame,
    tenant_id: str = "default",
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """HAS_FACT edges -> EMBEDDINGS rows (one per (tenant, entity, verb, fact)).

    Deterministic point ids make the write idempotent: re-running after a
    crash appends nothing new once deduped on point_id — the same
    contract as the reference's deterministic Qdrant upsert.
    """
    hf = edges.filter(F.col("edge_type") == HAS_FACT).select(
        F.col("src").alias("entity_id"),
        F.col("dst").alias("fact_id"),
        F.col("pred").alias("verb"),
    )
    with_fact = hf.join(facts, "fact_id")  # size decided by AQE (module note)
    sent = synthetic_sentence_col(F.col("verb"), F.col("fact_type"), F.col("name"))
    # normalize.point_id_for's key, minted JVM-side (qdrant_repository.py:63-78)
    key = F.concat_ws(":", F.lit(tenant_id), "entity_id", "verb", "fact_id")
    return (
        with_fact.withColumn("sentence", sent)
        .select(
            uuid5_col(POINT_NS, key).alias("point_id"),
            embed_udf(dim)(F.col("sentence")).alias("vector"),
            F.lit(tenant_id).alias("tenant_id"),
            "entity_id",
            "fact_id",
            "verb",
            "sentence",
        )
        .dropDuplicates(["point_id"])
    )


# ---------------------------------------------------------------------------
# RAG recall (E1 + C6 + B8)
# ---------------------------------------------------------------------------
def _recall_verified(
    edges: DataFrame,
    facts: DataFrame,
    embeddings: DataFrame,
    id_type: str,
    id_value: str,
    rag_query: str,
    top_k: int,
    min_score: float | None,
    dim: int,
    query_vec: list[float] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Shared RAG plan builder: returns (topk candidates, verified facts).

    Single source of truth for the recall semantics — rag_recall,
    rag_recall_stored and rag_recall_debug all consume it, so they can
    never drift. ``query_vec`` bypasses the Python feature-hash embedder
    with an already-stored vector (the reference's search-by-vector
    entry, qdrant_repository.py:199-211 — the caller supplies the
    embedding); with it the whole plan is SQL-expressible.
    """
    ent = find_entity_by_identifier(edges, id_type, id_value)

    qv = query_vec if query_vec is not None else embed_text(rag_query, dim).tolist()
    qcol = F.array(*[F.lit(float(x)) for x in qv])
    v = F.col("vector").cast("array<double>")
    # vectors are L2-normalized at build time -> dot product is cosine.
    # A dim mismatch (query vs stored vectors) must fail loudly, not
    # silently NULL out of zip_with's padding. The assert lives inside a
    # CONSUMED filter expression (assert_true returns NULL on success, so
    # isNull() keeps every row) — a dropped helper column would be pruned
    # by Catalyst and never execute.
    dim_guard = F.assert_true(
        F.size("vector") == F.lit(dim), F.lit("embedding dim mismatch")
    ).isNull()
    score = F.aggregate(
        F.zip_with(v, qcol, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )

    hits = (
        embeddings.join(ent, "entity_id", "left_semi")
        .filter(dim_guard)
        .withColumn("score", score)
    )
    if min_score is not None:
        hits = hits.filter(F.col("score") >= min_score)
    w = Window.partitionBy("entity_id").orderBy(F.desc("score"), F.asc("point_id"))
    topk = (
        hits.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("entity_id", "fact_id", "verb", "score", "rank")
    )

    graph_facts = (
        edges.filter(F.col("edge_type") == HAS_FACT)
        .join(ent, edges.src == ent.entity_id, "left_semi")
        .select(F.col("src").alias("entity_id"), F.col("dst").alias("fact_id"))
        .dropDuplicates(["entity_id", "fact_id"])
    )
    verified = (
        topk.join(graph_facts, ["entity_id", "fact_id"], "left_semi")
        .join(facts, "fact_id")  # topk side is tiny; AQE broadcasts it
        .select("entity_id", "fact_id", "verb", "score", "rank", "name", "fact_type")
    )
    return topk, verified


def rag_recall(
    edges: DataFrame,
    facts: DataFrame,
    embeddings: DataFrame,
    id_type: str,
    id_value: str,
    rag_query: str,
    top_k: int = 10,
    min_score: float | None = None,
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """Entity lookup with RAG-filtered facts (usecases/get_entity_usecase.py:87-186).

    1. anchor: identifier -> entity ids (C1);
    2. vector search restricted to the entity (the Qdrant tenant+entity
       payload filter, qdrant_repository.py:199-211): semi-join FIRST so
       the cosine scan touches only the entity's points, then score,
       threshold, and window top-k (E1);
    3. verification semi-join: keep hits whose fact_id is asserted for
       the entity in the GRAPH (C6 — cross-entity leak prevention);
    4. project verified facts with names (B8).

    Returns (entity_id, fact_id, verb, score, rank, name, fact_type).
    """
    _, verified = _recall_verified(
        edges, facts, embeddings, id_type, id_value, rag_query, top_k, min_score, dim
    )
    return verified


def rag_recall_stored(
    edges: DataFrame,
    facts: DataFrame,
    embeddings: DataFrame,
    id_type: str,
    id_value: str,
    query_vec: list[float],
    top_k: int = 10,
    min_score: float | None = None,
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """rag_recall with a caller-supplied STORED query vector.

    Identical plan to rag_recall (same builder — anchor semi-join,
    entity-restricted dot-product scan, windowed top-k, verification
    semi-join, projection) minus the Python query embedder: the score is
    a pure JVM zip_with/aggregate dot product against a literal array,
    so the entire read path is expressible as ANSI SQL and hash-checked
    against DuckDB by the driver's oracle harness (the reference's
    search-by-vector shape, qdrant_repository.py:199-211).
    """
    _, verified = _recall_verified(
        edges,
        facts,
        embeddings,
        id_type,
        id_value,
        "",
        top_k,
        min_score,
        dim,
        query_vec=query_vec,
    )
    return verified


def rag_recall_debug(
    edges: DataFrame,
    facts: DataFrame,
    embeddings: DataFrame,
    id_type: str,
    id_value: str,
    rag_query: str,
    top_k: int = 10,
    min_score: float | None = None,
    dim: int = EMBEDDING_DIM,
) -> tuple[list, dict]:
    """rag_recall plus the reference's RagDebugDto-style timings
    (get_entity_usecase.py:85,136-143,166-176): vector_search_ms,
    graph_verify_ms, candidate/verified counts. Same plan builder as
    rag_recall (cannot drift). Collects — debug only."""
    import time

    topk, verified = _recall_verified(
        edges, facts, embeddings, id_type, id_value, rag_query, top_k, min_score, dim
    )
    t0 = time.time()
    n_candidates = topk.count()
    vector_search_ms = (time.time() - t0) * 1000
    t1 = time.time()
    rows = verified.collect()
    graph_verify_ms = (time.time() - t1) * 1000
    debug = {
        "vector_search_ms": vector_search_ms,
        "graph_verify_ms": graph_verify_ms,
        "candidates_found": n_candidates,
        "results_after_verification": len(rows),
        "top_k": top_k,
        "min_score": min_score,
    }
    return rows, debug


# ---------------------------------------------------------------------------
# vector mirror maintenance (H5)
# ---------------------------------------------------------------------------
def remove_relationship_vector(
    embeddings: DataFrame, tenant_id: str, entity_id: str, verb: str, fid: str
) -> DataFrame:
    """Delete one point by its deterministic id (qdrant_repository.py:254-281:
    the reference deletes by recomputing uuid5, never by scan)."""
    pid = point_id_for(tenant_id, entity_id, verb, fid)
    return embeddings.filter(F.col("point_id") != pid)


def remove_entity_vectors(
    embeddings: DataFrame, entity_id: str
) -> tuple[DataFrame, int]:
    """Delete all points of an entity, returning (remaining, n_deleted) —
    the delete-all-by-entity with pre-count (qdrant_repository.py:293-325,
    count at :311-315). Called by the entity cascade-delete job (H3)."""
    n = embeddings.filter(F.col("entity_id") == entity_id).count()
    return embeddings.filter(F.col("entity_id") != entity_id), n


# ---------------------------------------------------------------------------
# summarization (G3 as template aggregation)
# ---------------------------------------------------------------------------
NO_FACTS_SUMMARY = "This entity has no recorded facts in the knowledge graph."

# per-language G3 templates — the reference's lookup summary accepts a
# ``lang`` code and instructs the summarizer to answer in it
# (routes/lookup.py:147,163-172 -> get_entity_summary usecase); the
# template analog is a per-lang qualifier/prefix table. Unknown codes
# fall back to English (the reference's default).
SUMMARY_TEMPLATES: dict[str, dict[str, str]] = {
    "en": {
        "prefix": "The entity ",
        "likely": "likely ",
        "possibly": "possibly ",
        "empty": NO_FACTS_SUMMARY,
    },
    "pt": {
        "prefix": "A entidade ",
        "likely": "provavelmente ",
        "possibly": "possivelmente ",
        "empty": "Esta entidade não possui fatos registrados no grafo de conhecimento.",
    },
    "es": {
        "prefix": "La entidad ",
        "likely": "probablemente ",
        "possibly": "posiblemente ",
        "empty": "Esta entidad no tiene hechos registrados en el grafo de conocimiento.",
    },
}


def _templates(lang: str | None) -> dict[str, str]:
    return SUMMARY_TEMPLATES.get((lang or "en").split("-")[0].lower(), SUMMARY_TEMPLATES["en"])


def summarize_entities(
    edges: DataFrame,
    facts: DataFrame,
    max_facts: int | None = None,
    n_salts: int = 16,
    lang: str | None = None,
) -> DataFrame:
    """Per-entity natural-language summary (template-based G3 analog).

    Confidence qualifiers per the reference prompt
    (langchain_data_summarizer.py:48-54): >=0.9 direct, 0.7-0.9
    "likely", <0.7 "possibly". Facts are sorted (pred, fact_id) so the
    output is deterministic. Entities with zero HAS_FACT edges get the
    fixed zero-fact string (get_entity_summary.py:70-73) — handled by
    callers that left-join this result and coalesce.

    ``max_facts``: the hot-entity guard. collect_list puts ALL of an
    entity's clauses in one reducer — a million-fact entity is a reducer
    OOM (and a useless summary). With ``max_facts`` set, aggregation
    runs as an explicit two-phase SALTED top-k merge (skew.py pattern):
    phase 1 keeps each (entity, salt) bucket's first ``max_facts``
    clauses in global sort order, phase 2 merges the <= n_salts partial
    lists and re-truncates — the global first-k clauses are always
    contained in the union of per-bucket first-k, so the result equals
    the single-phase summary truncated to k clauses, while reducer
    memory is bounded by n_salts * max_facts per entity. ``n_facts``
    still reports the TOTAL fact count.

    Returns (entity_id, n_facts, summary).
    """
    tpl = _templates(lang)
    hf = edges.filter(F.col("edge_type") == HAS_FACT).select(
        F.col("src").alias("entity_id"),
        F.col("dst").alias("fact_id"),
        "pred",
        "confidence",
    )
    qualifier = (
        F.when(F.col("confidence") >= 0.9, F.lit(""))
        .when(F.col("confidence") >= 0.7, F.lit(tpl["likely"]))
        .otherwise(F.lit(tpl["possibly"]))
    )
    clause = F.concat(
        qualifier,
        F.col("pred"),
        F.lit(" "),
        F.col("fact_type"),
        F.lit(": "),
        F.col("name"),
    )
    # sort key is a STRUCT (field-wise comparison), not a delimiter-packed
    # string — a delimiter occurring inside pred/fact names would corrupt
    # the extracted clause
    clauses = hf.join(facts, "fact_id").withColumn(
        "clause",
        F.struct(
            F.col("pred").alias("p"), F.col("fact_id").alias("f"), clause.alias("c")
        ),
    )  # facts join: unbounded dim — AQE picks the strategy

    def render(clause_arr):
        return F.concat(
            F.lit(tpl["prefix"]),
            F.concat_ws("; ", F.transform(clause_arr, lambda x: x["c"])),
            F.lit("."),
        )

    if max_facts is None:
        return clauses.groupBy("entity_id").agg(
            F.count("*").alias("n_facts"),
            render(F.sort_array(F.collect_list("clause"))).alias("summary"),
        )

    from nous_spark.skew import with_salt

    partial = (
        with_salt(clauses, n_salts)
        .groupBy("entity_id", "_salt")
        .agg(
            F.count("*").alias("_pc"),
            F.slice(F.sort_array(F.collect_list("clause")), 1, max_facts).alias("_pl"),
        )
    )
    merged = partial.groupBy("entity_id").agg(
        F.sum("_pc").cast("long").alias("n_facts"),
        F.slice(
            F.sort_array(F.flatten(F.collect_list("_pl"))), 1, max_facts
        ).alias("_cl"),
    )
    return merged.select(
        "entity_id", "n_facts", render(F.col("_cl")).alias("summary")
    )


def entity_summary(
    edges: DataFrame,
    facts: DataFrame,
    id_type: str,
    id_value: str,
    lang: str | None = None,
) -> str:
    """Single-entity summary with the zero-fact fast path; ``lang``
    selects the template language (routes/lookup.py:147)."""
    tpl = _templates(lang)
    ent = find_entity_by_identifier(edges, id_type, id_value)
    row = (
        ent.join(summarize_entities(edges, facts, lang=lang), "entity_id", "left")
        .select(F.coalesce(F.col("summary"), F.lit(tpl["empty"])).alias("summary"))
        .first()
    )
    return tpl["empty"] if row is None else row["summary"]
