"""Graph materialization + recall-query semantics over nodes/edges tables.

Reproduces the reference's 4-node / 3-edge property graph
(docs/graph_db_schema.md:7) and its query semantics as DataFrame ops:

  * build_entity_tables / build_fact_tables — linked mentions/triples ->
    the five tables;
  * idempotent_append — dedup + anti-join before every write (the batch
    analog of MERGE find-or-create, age_repository.py:101-123,689-701);
  * find_entity_by_identifier — the lookup Cypher (age_repository.py:206-221)
    as anchor equi-join + two left joins;
  * entity_facts / entity_sources — neighborhood expansion with optional
    predicate filter (the north_star's "predicate-filtered traversal");
  * primary_identifier — ranked pick (age_repository.py:380-414);
  * fact_refcounts + delete_entity / remove_fact — refcounted cascade
    GC (age_repository.py:471-664, 877-1009).

Scale notes: joins to ``facts``/``identifiers`` dimension tables are
broadcast; edge aggregations pre-aggregate map-side (partial agg is free
via Catalyst). That map-side partial aggregate is also the hot-entity
skew handling for the min/max edge merges: a hot key reaches its reducer
as one row per map task. Only aggregates Spark cannot pre-aggregate
(collect_set / top-k) are salted (skew.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

HAS_IDENTIFIER = "HAS_IDENTIFIER"
HAS_FACT = "HAS_FACT"
DERIVED_FROM = "DERIVED_FROM"


# --------------------------------------------------------------------------
# materialization
# --------------------------------------------------------------------------
def build_entity_tables(linked_mentions: DataFrame) -> dict[str, DataFrame]:
    """nodes + identifiers — derived from the mapped mentions alone
    (no dependency on the linked triples stage)."""
    # entity metadata (F5/F10 — the reference's Entity.metadata
    # dict[str,str], entity_model.py:26-31): populated from deterministic
    # per-entity aggregates (min => stable across runs/parallelism).
    # Stored as a real map<string,string>; the to_json/from_json round
    # trip is exercised by the kg_entity_metadata oracle query.
    nodes = (
        linked_mentions.groupBy("entity_id")
        .agg(
            F.min("warc_ts").alias("created_at"),
            # genuinely first-SEEN url: min over (warc_ts, url) structs —
            # earliest mention wins, url breaks ts ties deterministically
            # (min(url) alone would be the lexicographic min, which
            # contradicts the key's meaning)
            F.min(F.struct("warc_ts", "url"))["url"].alias("_first_url"),
            F.min(F.when(F.col("mention_rank") == 0, F.col("id_type"))).alias("_ptype"),
        )
        .withColumn(
            "metadata",
            F.create_map(
                F.lit("first_seen_url"),
                F.col("_first_url"),
                F.lit("primary_id_type"),
                F.coalesce(F.col("_ptype"), F.lit("unknown")),
            ),
        )
        .select("entity_id", "created_at", "metadata")
    )

    identifiers = linked_mentions.select(
        F.col("id_value").alias("value"), "id_type"
    ).dropDuplicates(["value", "id_type"])
    return {"nodes": nodes, "identifiers": identifiers}


def build_fact_tables(
    linked_triples: DataFrame, linked_mentions: DataFrame
) -> dict[str, DataFrame]:
    """facts + sources + edges.

    linked_triples: (entity_id, pred, fact_type, fact_name, fact_id,
                     confidence, source_url, warc_ts)
    linked_mentions: (url, mention_rank, id_type, id_value, entity_id, warc_ts)
    """
    # Deterministic merges for facts/sources too: non-key columns CAN
    # vary per key (fact_id is 'type:name' — a ':' inside type makes two
    # (type, name) pairs collide on one fact_id; one url recrawled at two
    # warc_ts yields two ts candidates), and dropDuplicates would keep an
    # arbitrary row, breaking run-to-run byte identity.
    facts = linked_triples.groupBy("fact_id").agg(
        F.min("fact_name").alias("name"), F.min("fact_type").alias("fact_type")
    ).select("fact_id", "name", "fact_type")

    sources = (
        linked_triples.groupBy(F.col("source_url").alias("source_id"))
        .agg(F.min("warc_ts").alias("ts"))
        .select(
            "source_id", F.lit(None).cast("string").alias("content"), "ts"
        )
    )

    # Edge dedup is AGGREGATING, not row-picking: duplicates of one edge
    # key differ in created_at (many pages assert the same edge), and
    # dropDuplicates keeps an arbitrary row — nondeterministic across
    # runs/parallelism, which breaks the resume/byte-identity contract.
    # Deterministic merge instead: earliest created_at (the reference's
    # idempotent create keeps the first edge, age_repository.py:101-123),
    # max confidence, ever-primary wins.
    has_identifier = (
        linked_mentions.groupBy(
            F.col("entity_id").alias("src"),
            F.concat_ws(":", "id_type", "id_value").alias("dst"),
        )
        .agg(
            F.max(F.col("mention_rank") == 0).alias("is_primary"),
            F.min("warc_ts").alias("created_at"),
        )
        .select(
            "src",
            F.lit(HAS_IDENTIFIER).alias("edge_type"),
            "dst",
            F.lit(None).cast("string").alias("pred"),
            F.lit(None).cast("double").alias("confidence"),
            "is_primary",
            "created_at",
        )
    )

    # max/min only, so Spark pre-aggregates per map task before the one
    # exchange: a hot entity reaches its reducer as one row per map task.
    # That partial aggregate is the skew handling; a salt would only add
    # an exchange (plan pinned in tests/test_graph_semantics.py).
    hf_merged = linked_triples.groupBy(
        F.col("entity_id").alias("src"), F.col("fact_id").alias("dst"), "pred"
    ).agg(
        F.max("confidence").alias("confidence"),
        F.min("warc_ts").alias("created_at"),
    )
    has_fact = (
        hf_merged
        .select(
            "src",
            F.lit(HAS_FACT).alias("edge_type"),
            "dst",
            "pred",
            "confidence",
            F.lit(None).cast("boolean").alias("is_primary"),
            "created_at",
        )
    )

    derived_from = (
        linked_triples.groupBy(
            F.col("fact_id").alias("src"), F.col("source_url").alias("dst")
        )
        .agg(F.min("warc_ts").alias("created_at"))
        .select(
            "src",
            F.lit(DERIVED_FROM).alias("edge_type"),
            "dst",
            F.lit(None).cast("string").alias("pred"),
            F.lit(None).cast("double").alias("confidence"),
            F.lit(None).cast("boolean").alias("is_primary"),
            "created_at",
        )
    )

    edges = has_identifier.unionByName(has_fact).unionByName(derived_from)
    return {"facts": facts, "sources": sources, "edges": edges}


def idempotent_append(new_rows: DataFrame, existing: DataFrame | None, keys: list[str]) -> DataFrame:
    """Rows to append so that (existing ∪ result) has unique ``keys``.

    The batch analog of the reference's MERGE/pre-insert existence check
    (H1/H2): dedup within the batch, anti-join against what's already
    written. Re-running a stage therefore appends nothing — this is what
    makes checkpoint/resume exactly-once. The anti-join is NULL-safe so
    nullable key columns (e.g. ``pred`` on non-HAS_FACT edges) still
    dedup correctly.
    """
    batch = new_rows.dropDuplicates(keys)
    if existing is None:
        return batch
    ex = existing.select(*keys).dropDuplicates(keys)
    cond = None
    for k in keys:
        c = batch[k].eqNullSafe(ex[k])
        cond = c if cond is None else (cond & c)
    return batch.join(ex, cond, "left_anti")


# --------------------------------------------------------------------------
# recall queries (the reference's read path, §3.2)
# --------------------------------------------------------------------------
def find_entity_by_identifier(
    edges: DataFrame,
    id_type: str,
    id_value: str,
) -> DataFrame:
    """identifier -> entity ids (Cypher C1: MATCH (e)-[:HAS_IDENTIFIER]->(i{...}))."""
    key = f"{id_type}:{id_value}"
    return (
        edges.filter((F.col("edge_type") == HAS_IDENTIFIER) & (F.col("dst") == key))
        .select(F.col("src").alias("entity_id"))
        .dropDuplicates(["entity_id"])
    )


def entity_facts(
    edges: DataFrame,
    facts: DataFrame,
    entity_ids: DataFrame,
    pred: str | None = None,
) -> DataFrame:
    """All (entity_id, pred, fact_id, name, fact_type, confidence) of the
    given entities — OPTIONAL MATCH (e)-[hf:HAS_FACT]->(f) (C2) with the
    north_star's predicate filter. The ``facts`` join is left to AQE:
    ``facts`` grows with the corpus (one row per distinct fact), so a
    static broadcast hint would OOM at web scale; the entity-filtered
    probe side is tiny, and AQE broadcasts whichever side is actually
    small at runtime."""
    hf = edges.filter(F.col("edge_type") == HAS_FACT).select(
        F.col("src").alias("entity_id"),
        F.col("dst").alias("fact_id"),
        "pred",
        "confidence",
    )
    if pred is not None:
        hf = hf.filter(F.col("pred") == pred)
    return (
        entity_ids.join(hf, "entity_id", "inner")
        .join(facts, "fact_id", "inner")
        .select("entity_id", "pred", "fact_id", "name", "fact_type", "confidence")
    )


def entity_neighborhood(
    edges: DataFrame,
    facts: DataFrame,
    id_type: str,
    id_value: str,
    pred: str | None = None,
) -> DataFrame:
    """Full lookup (age_repository.py:206-221): anchor join + optional fact
    expansion + optional provenance hop, flattened to one row per
    (fact, source). Entities with zero facts still return one row
    (left joins — C2/C3)."""
    e = find_entity_by_identifier(edges, id_type, id_value)
    hf = edges.filter(F.col("edge_type") == HAS_FACT).select(
        F.col("src").alias("entity_id"),
        F.col("dst").alias("fact_id"),
        "pred",
        "confidence",
    )
    if pred is not None:
        hf = hf.filter(F.col("pred") == pred)
    df_edges = edges.filter(F.col("edge_type") == DERIVED_FROM).select(
        F.col("src").alias("fact_id"), F.col("dst").alias("source_id")
    )
    return (
        e.join(hf, "entity_id", "left")
        .join(facts, "fact_id", "left")  # unbounded dim — AQE decides
        .join(df_edges, "fact_id", "left")
        .select(
            "entity_id", "pred", "fact_id", "name", "fact_type", "confidence", "source_id"
        )
    )


def primary_identifier(edges: DataFrame) -> DataFrame:
    """One identifier per entity: primary first, then earliest created
    (age_repository.py:380-414 — the reference's ranked preference pick)."""
    hi = edges.filter(F.col("edge_type") == HAS_IDENTIFIER)
    # asc_nulls_last: Spark's plain asc puts NULLs FIRST while the DuckDB
    # oracle's ASC defaults to NULLS LAST — pin both sides explicitly so
    # mixed null/non-null created_at per entity stays deterministic.
    w = Window.partitionBy("src").orderBy(
        F.desc_nulls_last("is_primary"), F.asc_nulls_last("created_at"), F.asc("dst")
    )
    return (
        hi.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("src").alias("entity_id"), F.col("dst").alias("identifier_key"))
    )


def recanonicalize_graph(
    tables: dict[str, DataFrame], max_share: int = 128
) -> dict[str, DataFrame]:
    """Periodic cross-batch alias compaction (the batch half of the
    streaming lambda split — streaming.py assimilates with per-batch CC
    only, so an alias discovered in a later batch can leave two canonical
    entity ids for one identity).

    Evidence: two entity ids sharing a HAS_IDENTIFIER dst are the same
    identity (identifier values are unique per the reference's schema,
    docs/graph_db_schema_age.md:59). Connected components over that
    share-graph elects min-id canonicals; every edge src and node is
    rewritten and re-merged with the same deterministic aggregation the
    materializer uses. Idempotent: a second run is a no-op (tested).

    ``max_share`` guards the self-join against a degenerate hot dst:
    under the uniqueness invariant each identifier links a handful of
    entity ids, but a garbage crawl value (empty string, "unknown",
    template artifacts) shared by 10^5 entities would make the join
    quadratic AND wrongly merge unrelated identities. Identifier dsts
    shared by more than ``max_share`` entities are excluded from the
    share-graph (pre-aggregated group sizes, left_semi) — they are
    treated as non-evidence, same argument as the dedup hot-bucket drop.
    """
    from nous_spark.cc import connected_components

    edges, nodes = tables["edges"], tables["nodes"]
    hi = edges.filter(F.col("edge_type") == HAS_IDENTIFIER).select("src", "dst")
    sane_dsts = (
        hi.groupBy("dst")
        .agg(F.countDistinct("src").alias("_n"))
        .filter(F.col("_n") <= max_share)
        .drop("_n")
    )
    hi_ok = hi.join(sane_dsts, "dst", "left_semi")
    a, b = hi_ok.alias("a"), hi_ok.alias("b")
    share = (
        a.join(b, (F.col("a.dst") == F.col("b.dst")) & (F.col("a.src") < F.col("b.src")))
        .select(F.col("a.src").alias("src"), F.col("b.src").alias("dst"))
        .dropDuplicates(["src", "dst"])
    )
    comp = connected_components(share)
    mapping = comp.select(F.col("id").alias("entity_id"), F.col("component").alias("canonical"))

    def remap(df: DataFrame, col: str) -> DataFrame:
        m = mapping.withColumnRenamed("entity_id", "_old").withColumnRenamed(
            "canonical", "_new"
        )
        return (
            df.join(m, df[col] == m["_old"], "left")
            .withColumn(col, F.coalesce(m["_new"], df[col]))
            .drop("_old", "_new")
        )

    # DERIVED_FROM srcs are fact ids — only entity-headed edges remap
    entity_edges = remap(edges.filter(F.col("edge_type") != DERIVED_FROM), "src")
    hi2 = (
        entity_edges.filter(F.col("edge_type") == HAS_IDENTIFIER)
        .groupBy("src", "dst")
        .agg(F.max("is_primary").alias("is_primary"), F.min("created_at").alias("created_at"))
        .select(
            "src",
            F.lit(HAS_IDENTIFIER).alias("edge_type"),
            "dst",
            F.lit(None).cast("string").alias("pred"),
            F.lit(None).cast("double").alias("confidence"),
            "is_primary",
            "created_at",
        )
    )
    hf2 = (
        entity_edges.filter(F.col("edge_type") == HAS_FACT)
        .groupBy("src", "dst", "pred")
        .agg(F.max("confidence").alias("confidence"), F.min("created_at").alias("created_at"))
        .select(
            "src",
            F.lit(HAS_FACT).alias("edge_type"),
            "dst",
            "pred",
            "confidence",
            F.lit(None).cast("boolean").alias("is_primary"),
            "created_at",
        )
    )
    new_edges = hi2.unionByName(hf2).unionByName(
        edges.filter(F.col("edge_type") == DERIVED_FROM)
    )

    # metadata survives the merge deterministically: maps have no min, so
    # merge on min(to_json) and decode back (F5 round trip)
    new_nodes = (
        remap(tables["nodes"], "entity_id")
        .groupBy("entity_id")
        .agg(
            F.min("created_at").alias("created_at"),
            F.min(F.to_json("metadata")).alias("_mj"),
        )
        .withColumn("metadata", F.from_json("_mj", "map<string,string>"))
        .select("entity_id", "created_at", "metadata")
    )
    return {**tables, "edges": new_edges, "nodes": new_nodes}


def expand_hops(edges: DataFrame, entity_ids: DataFrame, hops: int = 1) -> DataFrame:
    """N-hop neighborhood expansion over shared facts.

    The reference accepts ``rag_expand_hops`` but leaves it reserved/
    unimplemented (usecases/get_entity_usecase.py:121-122); here it is
    real: hop k = entities sharing at least one fact with a hop-(k-1)
    entity. Returns (entity_id, depth) with the MINIMUM depth per entity.

    Driver loop of ``hops`` iterations (hops is a small request
    parameter, not data-sized); each hop is two equi-joins — entity->fact
    then fact->entity fan-in (C4) — plus an anti-join against the
    visited set. Hot facts fan in massively at web scale: the fact->entity
    join is exactly the skew-join AQE case (session.py enables it).
    """
    hf = edges.filter(F.col("edge_type") == HAS_FACT).select(
        F.col("src").alias("entity_id"), F.col("dst").alias("fact_id")
    )
    visited = entity_ids.select("entity_id").dropDuplicates(["entity_id"]).withColumn(
        "depth", F.lit(0)
    )
    frontier = visited
    for h in range(1, hops + 1):
        facts = frontier.join(hf, "entity_id").select("fact_id").dropDuplicates(["fact_id"])
        nxt = (
            facts.join(hf, "fact_id")
            .select("entity_id")
            .dropDuplicates(["entity_id"])
            .join(visited, "entity_id", "left_anti")
            .withColumn("depth", F.lit(h))
        )
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited


# --------------------------------------------------------------------------
# refcounted cascade GC (H3/H4)
# --------------------------------------------------------------------------
def fact_refcounts(edges: DataFrame) -> DataFrame:
    """fact_id -> number of distinct entities asserting it (D2/C4)."""
    return (
        edges.filter(F.col("edge_type") == HAS_FACT)
        .groupBy(F.col("dst").alias("fact_id"))
        .agg(F.countDistinct("src").alias("n_entities"))
    )


def delete_entity(tables: dict[str, DataFrame], entity_id: str) -> dict[str, DataFrame]:
    """Cascade-delete an entity (age_repository.py:471-664):
    drop its edges; drop facts only if no OTHER entity references them
    (shared facts preserved — test :369-427); drop orphaned sources and
    identifiers."""
    edges, facts, nodes = tables["edges"], tables["facts"], tables["nodes"]
    sources, identifiers = tables["sources"], tables["identifiers"]

    doomed_facts = (
        edges.filter((F.col("edge_type") == HAS_FACT))
        .groupBy("dst")
        .agg(
            F.sum(F.when(F.col("src") == entity_id, 1).otherwise(0)).alias("mine"),
            F.sum(F.when(F.col("src") != entity_id, 1).otherwise(0)).alias("others"),
        )
        .filter((F.col("mine") > 0) & (F.col("others") == 0))
        .select(F.col("dst").alias("fact_id"))
    )

    new_edges = edges.filter(F.col("src") != entity_id).join(
        doomed_facts,
        (F.col("edge_type") == DERIVED_FROM) & (F.col("src") == F.col("fact_id")),
        "left_anti",
    )
    new_facts = facts.join(doomed_facts, "fact_id", "left_anti")
    new_nodes = nodes.filter(F.col("entity_id") != entity_id)

    live_sources = new_edges.filter(F.col("edge_type") == DERIVED_FROM).select(
        F.col("dst").alias("source_id")
    )
    new_sources = sources.join(live_sources, "source_id", "left_semi")

    live_ids = new_edges.filter(F.col("edge_type") == HAS_IDENTIFIER).select(
        F.col("dst").alias("identifier_key")
    )
    new_identifiers = identifiers.join(
        live_ids,
        F.concat_ws(":", identifiers.id_type, identifiers.value)
        == live_ids.identifier_key,
        "left_semi",
    )
    return {
        "nodes": new_nodes,
        "identifiers": new_identifiers,
        "facts": new_facts,
        "sources": new_sources,
        "edges": new_edges,
    }


def remove_facts_from_entities(
    tables: dict[str, DataFrame], removals: DataFrame
) -> dict[str, DataFrame]:
    """BATCH form of the all-verbs fact removal (age_repository.py:
    877-1009): ``removals`` is a DataFrame of (entity_id, fact_id) pairs;
    every HAS_FACT edge matching a pair is dropped regardless of verb,
    then any removed fact left with ZERO remaining HAS_FACT references
    (from any entity) cascades — its DERIVED_FROM provenance edges and
    facts row go too, and sources orphaned by that go last.

    Fully declarative: one anti-join for the edge drops + one anti-join
    against the still-referenced set for orphanhood — ZERO driver
    actions, so a GC sweep of 10^6 removals costs the same number of
    Spark jobs as one (the scalar wrapper below ran limit(1).count()
    PER pair, serializing one driver job per fact at sweep scale).
    Sequential scalar application commutes with batch: each scalar call
    re-derives orphanhood from current state, so removing the pairs in
    any order ends at the same fixed point the batch form computes
    directly (pytest-checked on a shared-fact corpus).
    """
    edges, facts, sources = tables["edges"], tables["facts"], tables["sources"]
    rm = removals.select("entity_id", "fact_id").dropDuplicates(
        ["entity_id", "fact_id"]
    )

    new_edges = edges.join(
        rm,
        (F.col("edge_type") == HAS_FACT)
        & (edges["src"] == rm["entity_id"])
        & (edges["dst"] == rm["fact_id"]),
        "left_anti",
    )
    # orphaned = removed facts with no surviving HAS_FACT edge anywhere
    orphaned = (
        rm.select("fact_id")
        .dropDuplicates(["fact_id"])
        .join(
            new_edges.filter(F.col("edge_type") == HAS_FACT).select(
                F.col("dst").alias("fact_id")
            ),
            "fact_id",
            "left_anti",
        )
    )
    new_edges = new_edges.join(
        orphaned,
        (F.col("edge_type") == DERIVED_FROM) & (new_edges["src"] == orphaned["fact_id"]),
        "left_anti",
    )
    new_facts = facts.join(orphaned, "fact_id", "left_anti")
    live_sources = new_edges.filter(F.col("edge_type") == DERIVED_FROM).select(
        F.col("dst").alias("source_id")
    )
    new_sources = sources.join(live_sources, "source_id", "left_semi")
    return {**tables, "edges": new_edges, "facts": new_facts, "sources": new_sources}


def remove_fact_from_entity(
    tables: dict[str, DataFrame], entity_id: str, fid: str
) -> dict[str, DataFrame]:
    """Remove ALL HAS_FACT edges entity<->fact regardless of verb
    (age_repository.py:877-1009; all-verbs test :758-816), cascading the
    fact + its provenance if orphaned. Scalar wrapper over the batch
    form — single-pair removals frame, no driver action."""
    spark = tables["edges"].sparkSession
    rm = spark.createDataFrame(
        [(entity_id, fid)], "entity_id string, fact_id string"
    )
    return remove_facts_from_entities(tables, rm)


# --------------------------------------------------------------------------
# entity importance: fixed-iteration PageRank (graph-analytics extension)
# --------------------------------------------------------------------------
def pagerank(
    edges: DataFrame, iterations: int = 3, damping: float = 0.85
) -> DataFrame:
    """Fixed-iteration PageRank over a (src, dst) edge list — entity/fact
    importance for the KG (rank hot facts, prioritize recall candidates,
    weight dedup survivors). The reference exposes no graph analytics;
    this is an engine extension, but it is THE canonical iterative
    algorithm a KG store is asked for first, and it exercises the
    Pregel-on-DataFrame shape the engine needs for any fixpoint op.

    Semantics (power iteration, ranks normalized to sum to |V| so the
    all-ones start vector is the stationary scale):

        r_0(v)     = 1.0
        r_{k+1}(v) = (1 - d) + d * (sum_{u->v} r_k(u) / outdeg(u)
                                    + dangling_k / |V|)

    where ``dangling_k`` is the total rank parked on nodes with no
    out-edges (redistributed uniformly — the standard dangling-node
    fix, Page et al. 1999 §2.6). Multi-edges contribute once per edge
    (outdeg counts them symmetrically, so a doubled edge doubles both
    the numerator occurrences and the denominator). ``iterations`` is a
    small request parameter (driver loop, like ``expand_hops``), never
    data-sized.

    Scale shape: the edge->outdeg weight table is built and persisted
    ONCE and re-read every iteration (at 10^10 edges this is the big
    asset — it stays hash-partitioned by src across iterations, so each
    iteration pays one shuffle of the |V|-row rank frame onto src plus
    one map-side-combinable sum onto dst; the dangling mass and |V| are
    1-row aggregates broadcast back, never a driver collect). Each
    iteration's rank frame is localCheckpointed — eager, so lineage
    stays O(1) across iterations instead of O(k) and the caches this
    operator created can be unpersisted before returning (the repo's
    eager-return discipline).

    Float caveat (shared with the cosine operators): rank sums are
    order-dependent double math; callers comparing cross-engine round
    to <= 4 decimals, and the generated oracle (`pagerank_oracle_sql`)
    carries the exact same iteration arithmetic with
    string-cast-to-DOUBLE constants so the only divergence source is
    summation order (~1e-13 relative at 10^3-fan-in).
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = edges.select("src", "dst")
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    od = e.groupBy("src").agg(F.count("*").alias("odeg")).persist()
    weights = e.join(od, "src").select("src", "dst", "odeg").persist()
    n1 = nodes.agg(F.count("*").alias("n"))
    one_minus_d = F.lit(1.0 - damping)
    d = F.lit(float(damping))
    ranks = nodes.select("node", F.lit(1.0).alias("rank"))
    for _ in range(iterations):
        dang = ranks.join(od, ranks["node"] == od["src"], "left_anti").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dang")
        )
        contrib = (
            weights.join(ranks, weights["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("odeg")).alias("c"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(dang))
            .crossJoin(F.broadcast(n1))
            .select(
                "node",
                (
                    one_minus_d
                    + d
                    * (F.coalesce(F.col("c"), F.lit(0.0)) + F.col("dang") / F.col("n"))
                ).alias("rank"),
            )
        )
        ranks = ranks.localCheckpoint()
    weights.unpersist()
    od.unpersist()
    nodes.unpersist()
    return ranks


def pagerank_oracle_sql(
    edges_sql: str, iterations: int = 3, damping: float = 0.85, round_to: int = 4
) -> str:
    """DuckDB mirror of ``pagerank``, GENERATED by unrolling the same
    iteration count and damping constants (the repo's shared-table
    oracle convention: edit the operator's parameters, never the SQL).
    Constants go through CAST('repr' AS DOUBLE) so DuckDB parses the
    exact Python double (a bare 0.85 literal would be DECIMAL and
    differ by one ulp after 1 - d). ``edges_sql`` is the (src, dst)
    relation."""
    omd = repr(1.0 - damping)
    dd = repr(float(damping))
    ctes = [
        f"e AS ({edges_sql})",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "od AS (SELECT src, count(*) AS odeg FROM e GROUP BY src)",
        "r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes)",
    ]
    for k in range(iterations):
        ctes.append(
            f"d{k} AS (SELECT coalesce(sum(rank), 0.0) AS dang "
            f"FROM r{k} LEFT JOIN od ON node = src WHERE odeg IS NULL)"
        )
        ctes.append(
            f"c{k} AS (SELECT e.dst AS node, sum(r.rank / o.odeg) AS c "
            f"FROM e JOIN r{k} r ON e.src = r.node "
            f"JOIN od o ON e.src = o.src GROUP BY e.dst)"
        )
        ctes.append(
            f"r{k + 1} AS (SELECT n.node, "
            f"CAST('{omd}' AS DOUBLE) + CAST('{dd}' AS DOUBLE) * "
            f"(coalesce(c.c, 0.0) + d{k}.dang / nn.n) AS rank "
            f"FROM nodes n LEFT JOIN c{k} c USING (node) "
            f"CROSS JOIN d{k} CROSS JOIN nn)"
        )
    return (
        "WITH "
        + ",\n             ".join(ctes)
        + f"\n        SELECT node, round(rank, {round_to}) AS rank"
        + f" FROM r{iterations}"
    )
